package graft

/** Regression guard: every oracle query's sf0.001 result must hash to its
  * frozen golden value (SURVEY.md §5.4). Regenerate intentionally via
  * `sbt "runMain graft.GoldenGen"`.
  */
class GoldenSpec extends SparkSpecBase {
  import GoldenSpec.golden

  GraftExtensions.install(spark)

  test("golden file covers every oracle query") {
    assert(golden.keySet == Golden.goldenKeys.toSet)
  }

  for (name <- Golden.goldenKeys) {
    test(s"$name matches its golden hash") {
      val got = Golden.hash(SparkEntry.queries(name)(spark, sf))
      assert(got == golden(name),
        s"$name drifted from frozen sf0.001 result")
    }
  }
}

object GoldenSpec {

  /** The frozen sf0.001 hashes, query id → md5. */
  lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_sf0001.json"), "UTF-8")
    try {
      val txt = src.mkString
      """"([a-z_0-9]+)":\s*"([0-9a-f]{32})"""".r
        .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
    } finally src.close()
  }
}
