package graft

/** Driver-contract sanity: every declared query runs on sf0.001, returns
  * rows, and every oracle key points at a declared query (SURVEY.md §0.2).
  */
class ContractSpec extends SparkSpecBase {

  test("oracleSql keys ⊆ queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("UnitEvidence covers exactly the oracle=unit rows") {
    val unitRows = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val declared = UnitEvidence.evidence.keySet
    assert(declared == unitRows,
      s"undeclared unit rows: ${unitRows -- declared}; " +
        s"stale evidence entries: ${declared -- unitRows}")
  }

  test("UnitEvidence points at tests that actually exist") {
    // Renaming an evidence test would otherwise just make the reporter
    // treat every full run as partial and silently freeze the committed
    // UNIT_RESULTS.json. Resolve each (suite, test) against the real
    // suite's registered test names (suite constructors only register
    // tests — the shared SparkSession stays untouched).
    // NOTE: resolution assumes every evidence suite lives directly in
    // the `graft` package with a nullary constructor (true for all
    // suites in this repo); a failure below can therefore also mean
    // "suite moved / can't instantiate", so the reflection error is
    // carried into the message instead of being swallowed as absence.
    val bad = UnitEvidence.evidence.values.flatten.toSeq.distinct
      .flatMap { case (suiteName, testName) =>
        try {
          if (Class.forName(s"graft.$suiteName").getDeclaredConstructor()
              .newInstance().asInstanceOf[org.scalatest.Suite]
              .testNames.contains(testName))
            None
          else Some(s"$suiteName/$testName: test name not registered")
        } catch {
          case t: Throwable =>
            Some(s"$suiteName/$testName: cannot resolve suite ($t)")
        }
      }
    assert(bad.isEmpty,
      s"evidence pointing at unresolvable suites/tests: $bad")
  }

  test("every oracle SQL carries a total ORDER BY (determinism rule A)") {
    // the ORDER BY must govern the OUTERMOST select — one inside a
    // subquery or window OVER(...) doesn't order the output. Strip all
    // parenthesized content, then look for ORDER BY in what remains.
    def stripParens(s: String): String = {
      val b = new StringBuilder
      var depth = 0
      s.foreach {
        case '(' => depth += 1
        case ')' => if (depth > 0) depth -= 1
        case c => if (depth == 0) b.append(c)
      }
      b.toString
    }
    val missing = SparkEntry.oracleSql.collect {
      case (k, sql) if !stripParens(sql.toUpperCase).contains("ORDER BY") => k
    }
    assert(missing.isEmpty, s"oracles without outermost ORDER BY: $missing")
  }

  // Streaming rows get their own suite (they drive MemoryStream pipelines);
  // everything else must produce a non-empty deterministic result here.
  private val streamingKeys =
    SparkEntry.queries.keySet.filter(_.startsWith("s_stream"))

  /** The driver pandas-sorts + hashes EVERY query's output parquet —
    * nested (array/map/struct) top-level columns crash its comparator
    * ("unhashable type: numpy.ndarray"), even for no-oracle rows. So
    * nested types are banned from all output schemas; serialize to a
    * string wire format instead (round-1 lesson, VERDICT r1 §wrong-2). */
  private def assertDriverHashable(name: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val nested = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType}"
    }
    assert(nested.isEmpty,
      s"$name has driver-unhashable nested output columns: " +
        nested.mkString(", "))
  }

  for (name <- SparkEntry.queries.keySet.diff(streamingKeys).toSeq.sorted) {
    test(s"$name runs and returns rows on sf0.001") {
      val df = SparkEntry.queries(name)(spark, sf)
      assertDriverHashable(name, df.schema)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }

  test("SparkEntry map literals carry no duplicate keys (source-level)") {
    // A Scala Map literal with a repeated key silently keeps the LAST
    // binding — round 11 nearly shipped a new operator that shadowed an
    // existing one this way (a second "q_eval_confusion"). The runtime
    // Map cannot reveal the collision, so scan the source text.
    // resolve against user.dir explicitly and SKIP (not error) when the
    // source tree is not visible — a forked test JVM with a different
    // working directory must not turn this source-level lint into a
    // spurious failure (round-11 advice)
    val srcFile = new java.io.File(
      sys.props.getOrElse("user.dir", "."),
      "src/main/scala/graft/SparkEntry.scala")
    assume(srcFile.isFile,
      s"source tree not visible from ${sys.props.get("user.dir")}; " +
        "skipping source-level duplicate-key scan")
    val src = scala.io.Source.fromFile(srcFile, "UTF-8")
    val text = try src.mkString finally src.close()
    val keyRe = """"((?:q|s|x)_[a-z_0-9]+)"\s*->""".r
    def dups(section: String): Seq[String] = {
      val keys = keyRe.findAllMatchIn(section).map(_.group(1)).toSeq
      keys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
        .toSeq.sorted
    }
    // the query map literal lives in rawQueries because `queries` wraps
    // every entry in Tables.invocation; fall back to the `def queries`
    // name so the scan keeps working if the wrapper is ever inlined away
    val qStart = math.max(text.indexOf("def rawQueries"),
      text.indexOf("def queries"))
    val oStart = text.indexOf("def oracleSql")
    assert(qStart >= 0 && oStart > qStart)
    assert(dups(text.substring(qStart, oStart)).isEmpty,
      s"duplicate queries keys: ${dups(text.substring(qStart, oStart))}")
    assert(dups(text.substring(oStart)).isEmpty,
      s"duplicate oracleSql keys: ${dups(text.substring(oStart))}")
  }

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    d.listFiles.toSeq.sortBy(_.getName).flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  /** `path:line` (relative to `root`) of every line in `fs` matching `re`. */
  private def hits(root: java.io.File, fs: Seq[java.io.File],
      re: scala.util.matching.Regex): Seq[String] =
    fs.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      lines.zipWithIndex.collect { case (l, i)
        if re.findFirstIn(l).isDefined =>
          s"${root.toPath.relativize(f.toPath)}:${i + 1}" }
    }

  test("checkpoints and conf toggles go through Tables (source-level)") {
    // Tables.localCheckpoint records each pin in its owner and
    // Tables.withConf serializes session-conf toggles; a direct call in
    // engine code would bypass both, so scan the source text
    val main = new java.io.File(
      sys.props.getOrElse("user.dir", "."), "src/main/scala/graft")
    assume(main.isDirectory,
      s"source tree not visible from ${sys.props.get("user.dir")}; " +
        "skipping source-level checkpoint/conf scan")
    val pins = hits(main, scalaFiles(main),
      """(?<!\bTables)\.localCheckpoint\(""".r)
    assert(pins.size == 1 && pins.head.startsWith("Tables.scala:"),
      s"localCheckpoint outside Tables.localCheckpoint: $pins")
    val queryCode = Seq("queries", "streaming", "sources")
      .map(new java.io.File(main, _))
    assert(queryCode.forall(_.isDirectory))
    val toggles = hits(main, queryCode.flatMap(scalaFiles),
      """\bconf\.(set|unset)\(""".r)
    assert(toggles.isEmpty,
      s"session conf toggled outside Tables.withConf: $toggles")
    // the shared conf is toggled only across a stream start(): graph
    // code scopes its keys to Tables.scoped clones, and the one stream
    // toggle is the start helper's (`def run` in streaming/)
    val withConfRe = """\bTables\.withConf\(""".r
    val defRe = """\bdef (\w+)""".r
    val sites = Seq("queries", "streaming").flatMap(d =>
      scalaFiles(new java.io.File(main, d))).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val lines = try src.getLines().toVector finally src.close()
        lines.indices.filter(i => withConfRe.findFirstIn(lines(i)).isDefined)
          .map { i =>
            val owner = (i to 0 by -1).iterator
              .flatMap(j => defRe.findFirstMatchIn(lines(j)).map(_.group(1)))
              .nextOption().getOrElse("")
            s"${main.toPath.relativize(f.toPath)}:${i + 1} (def $owner)"
          }
      }
    assert(sites.size == 1 &&
      sites.head.matches("""streaming/Streams\.scala:\d+ \(def run\)"""),
      s"shared-conf toggles outside the one stream start helper: $sites")
  }

  test("the corpus is tokenized with positions only in Tables (source-level)") {
    // Tables.tokens and the positions in Tables.postings are the one
    // positional tokenization; a query that posexplodes the split text
    // itself re-reads the corpus and picks its own position base. The
    // exploded array is either split(col("text")…) inline or a column
    // bound to it earlier in the same chain (no `val`/`def` between).
    val main = new java.io.File(
      sys.props.getOrElse("user.dir", "."), "src/main/scala/graft")
    assume(main.isDirectory,
      s"source tree not visible from ${sys.props.get("user.dir")}; " +
        "skipping source-level tokenization scan")
    val splitText = """split\(col\("text"\)"""
    val posRe = ("""posexplode\(\s*(?:""" + splitText +
      """|col\("(\w+)"\)\s*\))""").r
    val found = scalaFiles(main).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      posRe.findAllMatchIn(text).filter { m =>
        Option(m.group(1)).forall { name =>
          val chain = text.take(m.start).split("""\b(?:val|def) """).last
          ("""withColumn\("""" + name + """",\s*""" + splitText).r
            .findFirstIn(chain).isDefined
        }
      }.map(m => s"${main.toPath.relativize(f.toPath)}:" +
        s"${text.take(m.start).count(_ == '\n') + 1}").toSeq
    }
    assert(found.forall(_.startsWith("Tables.scala:")),
      s"posexplode of the split corpus text outside Tables: $found")
  }

  test("vocabulary reads come from the term dictionary (source-level)") {
    // Tables.lexicon memoizes (term, df, ctf) once per sfDir; a query
    // that re-derives it runs a near-full postings aggregate per call
    // (or, for ctf, a term-partitioned window sum over the postings).
    // A chain starts at the postings when its statement (back to the
    // previous `val`/`def`) calls Tables.postings / Tables.docTerms or
    // calls a method on a val bound to one of them in the same file.
    val queries = new java.io.File(
      sys.props.getOrElse("user.dir", "."), "src/main/scala/graft/queries")
    assume(queries.isDirectory,
      s"source tree not visible from ${sys.props.get("user.dir")}; " +
        "skipping source-level vocabulary scan")
    val memoCall = """Tables\.(?:postings|docTerms)\("""
    val vocabRe = ("""select\("term"[^)]*\)\s*\.distinct\(\)""" +
      """|groupBy\("term"[^)]*\)\s*\.agg\(sum\("tf"\)""" +
      """|sum\("tf"\)\.over\(Window\.partitionBy\("term"\)\)""").r
    val found = scalaFiles(queries).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      val bound = ("""val (\w+) = """ + memoCall).r
        .findAllMatchIn(text).map(_.group(1)).toSeq
      vocabRe.findAllMatchIn(text).filter { m =>
        val chain = text.take(m.start).split("""\b(?:val|def) """).last
        (memoCall +: bound.map(b => s"\\b$b\\s*\\.")).exists(
          _.r.findFirstIn(chain).isDefined)
      }.map(m => s"${f.getName}:${text.take(m.start).count(_ == '\n') + 1}")
    }
    assert(found.isEmpty,
      s"vocabulary re-derived from the postings outside Tables.lexicon: $found")
  }

  test("the BM25 expression is spelled once, in Search.bm25ScoredOn (source-level)") {
    // every BM25-family op scores through bm25ScoredOn (BM25F passes its
    // weighted tf as `tf`), so a second copy of the saturation
    // `tf * (k1 + 1)` = `* 2.2` can drift from the oracle alone. Oracle
    // SQL lines (the `|` stripMargin lines) are skipped.
    val main = new java.io.File(
      sys.props.getOrElse("user.dir", "."), "src/main/scala/graft")
    assume(main.isDirectory,
      s"source tree not visible from ${sys.props.get("user.dir")}; " +
        "skipping source-level BM25 scan")
    val defRe = """\bdef (\w+)""".r
    val sites = scalaFiles(main).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.indices.filter(i => lines(i).contains("* 2.2")
          && !lines(i).trim.startsWith("|"))
        .map { i =>
          val owner = (i to 0 by -1).iterator
            .flatMap(j => defRe.findFirstMatchIn(lines(j)).map(_.group(1)))
            .nextOption().getOrElse("")
          s"${main.toPath.relativize(f.toPath)}:${i + 1} (def $owner)"
        }
    }
    assert(sites.size == 1 && sites.head.matches(
        """queries/Search\.scala:\d+ \(def bm25ScoredOn\)"""),
      s"BM25 saturation spelled outside Search.bm25ScoredOn: $sites")
  }

  test("session setup lives in graft.Session (source-level)") {
    // Session.local is the one benched session config; a hand-copied
    // builder drifts from it (core count, coalescing, extensions). Smoke
    // keeps its plain driver-shaped session; Shim builds sibling sessions.
    val main = new java.io.File(
      sys.props.getOrElse("user.dir", "."), "src/main/scala")
    assume(main.isDirectory,
      s"source tree not visible from ${sys.props.get("user.dir")}; " +
        "skipping source-level session scan")
    def outside(re: String, allowed: String*): Seq[String] =
      hits(main, scalaFiles(main), re.r)
        .filterNot(h => allowed.exists(a => h.startsWith(s"$a:")))
    val builders = outside("""SparkSession\.builder""", "graft/Session.scala",
      "graft/Smoke.scala", "org/apache/spark/sql/graft/Shim.scala")
    assert(builders.isEmpty, s"session built outside Session.local: $builders")
    for (needle <- Seq("""GraftExtensions\.install\(""", "SPARK_GRAFT_CPUS")) {
      val found = outside(needle, "graft/Session.scala")
      assert(found.isEmpty, s"$needle outside Session.local: $found")
    }
  }

  test("the codegen cache is sized only by GraftExtensions (source-level)") {
    // the cache is JVM-wide and built once; GraftExtensions.install sizes
    // it for every session factory, so a second owner (a builder conf in
    // Session.local, a scoped conf in Tables) would fork that decision
    val main = new java.io.File(
      sys.props.getOrElse("user.dir", "."), "src/main/scala")
    assume(main.isDirectory,
      s"source tree not visible from ${sys.props.get("user.dir")}; " +
        "skipping source-level codegen-cache scan")
    val re =
      """codegen\.cache\.maxEntries|CODEGEN_CACHE_MAX_ENTRIES|withExistingConf""".r
    val found = hits(main, scalaFiles(main), re)
      .filterNot(_.startsWith("graft/GraftExtensions.scala:"))
    assert(found.isEmpty, s"codegen cache sized outside GraftExtensions: $found")
  }

  test("search stats come from the corpus-scalar memo (source-level)") {
    // n_docs and avgdl are memoized once per sfDir by
    // Tables.corpusStats and inlined as literals; a query that derives
    // them itself brings back a scalar job and broadcast per execution
    val queries = new java.io.File(
      sys.props.getOrElse("user.dir", "."), "src/main/scala/graft/queries")
    assume(queries.isDirectory,
      s"source tree not visible from ${sys.props.get("user.dir")}; " +
        "skipping source-level corpus-scalar scan")
    val scalarRe =
      """"documents"\)\s*\.agg\(count\(lit\(1\)\)|avg\(col\("dl"\)""".r
    val found = queries.listFiles.toSeq.sortBy(_.getName)
      .filter(_.getName.endsWith(".scala")).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val text = try src.mkString finally src.close()
        scalarRe.findAllMatchIn(text).map(m =>
          s"${f.getName}:${text.take(m.start).count(_ == '\n') + 1}")
      }
    assert(found.isEmpty,
      s"per-query corpus scalar outside Tables.corpusStats: $found")
  }
}
