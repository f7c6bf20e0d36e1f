package graft

import org.apache.spark.sql.functions._

/** Properties of the round-3 index-internals + breadth wave:
  * WAND pruning exactness, delta-gap reconstruction, BPE losslessness,
  * skyline dominance, reservoir determinism, compaction fidelity.
  */
class SearchIndexSpec extends SparkSpecBase {

  test("wand top-k equals the unpruned disjunctive top-k") {
    val pruned = queries.SearchIndex.qSearchWand(spark, sf).collect()
    val full = queries.Search
      .bm25Scored(spark, sf, Seq("spark", "join", "stream"))
      .groupBy("doc_id")
      .agg(round(sum("s"), 4).as("score"), count(lit(1)).as("nt"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10).collect()
    assert(pruned.toSeq == full.toSeq)
  }

  test("wand selection: ub ties, fewer than k postings, no query term") {
    import queries.SearchIndex.wandSelect
    val inf = Double.NegativeInfinity
    // tied top ub: the smaller term sets theta (1.0, not b's 0.6), so c's
    // ub 0.8 stays below it and c is the one non-essential term; only the
    // top term's k-th best score is asked for
    val asked = scala.collection.mutable.Buffer.empty[String]
    val kths = Map("a" -> 1.0, "b" -> 0.6, "c" -> 0.7)
    assert(wandSelect(Seq(("b", 2.0), ("a", 2.0), ("c", 0.8)),
      t => { asked += t; kths.get(t) }) == ((1.0, Seq("a", "b"))))
    assert(asked == Seq("a"))
    // the top term has fewer than k postings: no threshold, every term
    // essential, in ascending (ub, term) order
    assert(wandSelect(Seq(("x", 3.0), ("y", 1.0)), Map("y" -> 0.9).get) ==
      ((inf, Seq("y", "x"))))
    // no query term in the corpus: nothing is essential
    assert(wandSelect(Nil, _ => fail("no term to ask")) == ((inf, Nil)))
  }

  test("delta gaps prefix-sum back to the sorted posting list") {
    // per-term sum(gaps) == max doc_id of postings (first gap is absolute)
    val idx = Tables.docTerms(spark, sf)
      .groupBy("term")
      .agg(max("doc_id").as("mx"), count(lit(1)).as("expect_df"))
    val joined = queries.SearchIndex.qIndexDelta(spark, sf)
      .withColumn("sum_gaps",
        aggregate(transform(split(col("gap_list"), ","), _.cast("long")),
          lit(0L), (acc, g) => acc + g))
      .join(idx, "term")
    assert(joined.filter(col("sum_gaps") =!= col("mx") ||
      col("df") =!= col("expect_df")).count() == 0)
    assert(joined.filter(col("vbytes") > col("raw_bytes")).count() == 0)
  }

  test("fuzzy matches are exactly the vocab terms within distance 1") {
    val got = queries.SearchIndex.qSearchFuzzy(spark, sf)
      .select("term").collect().map(_.getString(0)).toSet
    val expect = Tables.docTerms(spark, sf).select("term").distinct()
      .collect().map(_.getString(0))
      .filter(t => levenshteinDist(t, "sow") <= 1).toSet
    assert(got == expect && got.nonEmpty)
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("bpe pieces are lossless and drawn from chars + merge outputs") {
    val legalMerged = Set("st", "er", "ar", "or", "in")
    val rows = queries.SearchIndex.qTokBpeApply(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val term = r.getString(0)
      val pieces = r.getString(1).split(" ")
      assert(pieces.mkString("") == term, s"lossy BPE for $term")
      assert(r.getLong(2) == pieces.length)
      pieces.foreach(p =>
        assert(p.length == 1 || legalMerged(p), s"illegal piece $p"))
    }
  }

  test("skyline rows are undominated; all others are dominated") {
    val parts = Tables.t(spark, sf, "part")
      .select("p_partkey", "p_size", "p_retailprice")
    val skyline = queries.RelationalExtra.qSkyline(spark, sf)
    val dominatedInSkyline = skyline.as("s").join(parts.as("o"),
      col("o.p_size") >= col("s.p_size") &&
        col("o.p_retailprice") <= col("s.p_retailprice") &&
        (col("o.p_size") > col("s.p_size") ||
          col("o.p_retailprice") < col("s.p_retailprice")))
      .count()
    assert(dominatedInSkyline == 0)
    val nonMembers = parts.join(skyline.select("p_partkey"),
      Seq("p_partkey"), "left_anti")
    val undominatedOutside = nonMembers.as("s").join(parts.as("o"),
      col("o.p_size") >= col("s.p_size") &&
        col("o.p_retailprice") <= col("s.p_retailprice") &&
        (col("o.p_size") > col("s.p_size") ||
          col("o.p_retailprice") < col("s.p_retailprice")),
      "left_anti").count()
    assert(undominatedOutside == 0)
  }

  test("stats profile rows agree with direct aggregates") {
    val li = Tables.t(spark, sf, "lineitem")
    val n = li.count()
    val rows = queries.RelationalExtra.qStatsProfile(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(1) == n)
      assert(r.getLong(2) <= n && r.getLong(2) > 0)
      assert(r.getDouble(3) <= r.getDouble(4))
    }
  }

  test("reservoir sample: exactly k rows, a subset, deterministic") {
    val s1 = queries.RelationalExtra.qSampleReservoir(spark, sf).collect()
    val s2 = queries.RelationalExtra.qSampleReservoir(spark, sf).collect()
    assert(s1.length == 100 && s1.toSeq == s2.toSeq)
    val keys = s1.map(_.getLong(0)).toSet
    val orders = Tables.t(spark, sf, "orders")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(keys.subsetOf(orders))
  }

  test("reservoir sample compiles to TakeOrderedAndProject (no global sort)") {
    val plan = queries.RelationalExtra.qSampleReservoir(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("containment is directional and bounded by the subset size") {
    val rows = queries.PipelineExtra.qDedupContain(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (inter, n1, c) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(inter <= n1 && c > 0.0 && c <= 1.0)
    }
  }

  test("compaction keeps every row and lands on the target file count") {
    val r = graft.sources.Sources.qCompactFiles(spark, sf).collect()(0)
    val docs = Tables.t(spark, sf, "documents")
    val n = docs.count()
    val chk = docs.agg(sum("n_chars")).head.getLong(0)
    assert(r.getLong(0) > r.getLong(1), "compaction must reduce file count")
    assert(r.getLong(1) == math.max(1L, (n + 49999) / 50000))
    assert(r.getLong(2) == n && r.getLong(3) == chk)
  }
}
