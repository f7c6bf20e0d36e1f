package perfbench

import java.nio.file.{Files, Paths}

import graft.{Golden, SparkEntry, Tables}

/** Reference output hashes for every benchmarked id, computed with
  * `graft.Golden.hash` on the benchmark's generated tables. Each id runs in
  * two passes (caches cleared between them) and both passes must agree,
  * with each other and with [[Canon]] over the collected rows.
  *
  * Regenerate after an intentional result change or a change to the data
  * generator: `python3 perfbench/run.py --refgen`. */
object RefGen {

  def run(o: Main.Opts): Unit = {
    val spark = Main.startSession(o.localDir)
    Main.readFooters(spark, o.sf)
    val ids = Mixes.allIds.sorted
    val passes = (0 until 2).map { _ =>
      Tables.clearCaches(spark)
      ids.map { id =>
        val df = SparkEntry.queries(id)(spark, o.sf)
        val golden = Golden.hash(df)
        val canon = Canon.hash(df.collect(), df.columns)
        require(golden == canon, s"$id: Canon $canon != Golden $golden")
        id -> golden
      }.toMap
    }
    val unstable = ids.filter(id => passes(0)(id) != passes(1)(id))
    require(unstable.isEmpty, s"output differs between passes: $unstable")
    val body = ids.map(id => s"""    "$id": "${passes(0)(id)}"""")
      .mkString(",\n")
    Files.writeString(Paths.get(o.refgen),
      s"""{\n  "hashes": {\n$body\n  }\n}\n""")
    println(s"[refgen] wrote ${ids.size} hashes to ${o.refgen}")
    spark.stop()
  }

  /** id -> hash from a file written by [[run]]; a missing file gives an
    * empty map, which fails every op as a mismatch. */
  def load(path: String): Map[String, String] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else {
      val pat = "\"([a-z0-9_]+)\"\\s*:\\s*\"([0-9a-f]{32})\"".r
      pat.findAllMatchIn(Files.readString(Paths.get(path)))
        .map(m => m.group(1) -> m.group(2)).toMap
    }
}
