package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Full-surface physical-plan invariant sweep (round-12 verdict task 7).
  *
  * [[PlanAuditSpec]] pins individual queries' plans; this suite walks the
  * physical plan of EVERY batch entry in [[SparkEntry.queries]] and
  * asserts the global scale invariants the repo enforces locally — the
  * properties whose loss turns a working sf0.1 plan into a 100 TB
  * incident:
  *
  *   1. no `CartesianProductExec` anywhere (all-pairs over corpus-sized
  *      inputs; nothing in the surface needs one);
  *   2. no `BroadcastNestedLoopJoinExec` whose broadcast side is
  *      corpus-shaped: every BNLJ must broadcast a side that is
  *      aggregate-bounded, a constant-size dim, or a LocalTableScan —
  *      i.e. provably small at ANY scale factor;
  *   3. no corpus-sized window partition: every `WindowExec` either
  *      partitions by a key or runs over aggregate-bounded input (a
  *      single-partition window over raw corpus rows serializes the
  *      whole table through one task);
  *   4. every parquet scan that evaluates data filters pushes at least
  *      one of them into the reader (`pushedDownFilters` non-empty —
  *      losing pushdown turns a pruned 100 TB scan into a full read);
  *   5. constant-size dims stay broadcast: a shuffled join
  *      (`SortMergeJoinExec`/`ShuffledHashJoinExec`) may not have a side
  *      that reads ONLY `region`/`nation` — those are fixed-cardinality
  *      (5/25 rows) at every SF, so shuffling the other side against
  *      them is pure regression (this is the tripwire that catches a
  *      dropped `broadcast()` hint).
  *
  * The sweep runs on `queryExecution.sparkPlan` (the pre-AQE physical
  * plan): that is the shape the optimizer COMMITS to from statistics;
  * AQE can only improve on it at runtime.
  */
class PlanSweepSpec extends SparkSpecBase {

  private val batchKeys = SparkEntry.queries.keySet
    .filterNot(_.startsWith("s_stream")).toSeq.sorted

  /** Constant-cardinality tables: same row count at every scale factor. */
  private val fixedDims = Set("region", "nation")

  // NOTE: plain collect, not collectWithSubqueries — at the sparkPlan
  // stage a DynamicPruningSubquery still wraps a LOGICAL plan, and
  // collectWithSubqueries would walk into it and crash on the type cast
  private def scanTables(p: SparkPlan): Set[String] =
    p.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName).headOption
    }.flatten.map(_.stripSuffix(".parquet")).toSet

  private def isAggBounded(p: SparkPlan): Boolean = p.exists {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
        _: SortAggregateExec => true
    case _ => false
  }

  /** A scan of the term dictionary memo ([[Tables.lexicon]]): one row
    * per term, bounded by the vocabulary like the term-keyed aggregate
    * it replaced. Matched by the memo's own cache entry, so no other
    * memo — the postings, the shingles — counts as bounded input. */
  private def lexiconScan(p: SparkPlan): Boolean = p match {
    case s: InMemoryTableScanExec =>
      Tables.lexicon(spark, sf).queryExecution.sparkPlan.collectFirst {
        case l: InMemoryTableScanExec => l.relation.cacheBuilder
      }.exists(_ eq s.relation.cacheBuilder)
    case _ => false
  }

  /** A plan subtree whose row count cannot scale with the corpus: it is
    * aggregate-bounded, limit-bounded, reads only fixed dims, is a
    * literal local relation or the term dictionary ([[lexiconScan]]),
    * or is cut to a constant probe set by a
    * key-range filter (the similarity family's `vec_id < K` idiom — an
    * upper-bound comparison of an id/key attribute against a literal,
    * visible either as a FilterExec or pushed into the scan). */
  private def isBounded(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def probeCut(e: Expression): Boolean = e.exists {
      case LessThan(a: AttributeReference, l) => l.foldable && idLike(a)
      case LessThanOrEqual(a: AttributeReference, l) =>
        l.foldable && idLike(a)
      case GreaterThan(l, a: AttributeReference) => l.foldable && idLike(a)
      case GreaterThanOrEqual(l, a: AttributeReference) =>
        l.foldable && idLike(a)
      case EqualTo(a: AttributeReference, l) => l.foldable && idLike(a)
      case EqualTo(l, a: AttributeReference) => l.foldable && idLike(a)
      case _ => false
    }
    def idLike(a: AttributeReference): Boolean =
      a.name.endsWith("_id") || a.name.endsWith("key") || a.name == "id"
    val hasProbeCut = p.exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        probeCut(f.condition)
      case s: FileSourceScanExec => s.dataFilters.exists(probeCut)
      case _ => false
    }
    val limitBounded = p.exists { n =>
      val c = n.getClass.getSimpleName
      c.startsWith("GlobalLimit") || c.startsWith("CollectLimit") ||
        c.startsWith("TakeOrderedAndProject")
    }
    isAggBounded(p) || limitBounded || hasProbeCut ||
      (scanTables(p).nonEmpty && scanTables(p).subsetOf(fixedDims)) ||
      p.collectLeaves().forall(l => lexiconScan(l) ||
        l.getClass.getSimpleName.startsWith("LocalTableScan") ||
          l.getClass.getSimpleName.startsWith("RDDScan") ||
          // spark.range(literal) — constant row count by construction
          l.getClass.getSimpleName.startsWith("Range"))
  }

  /** A predicate parquet CAN accept: a null check or comparison whose
    * column side is a bare attribute (filters on EXPRESSIONS of columns
    * — md5(text), unix_micros(ts) — are legitimately untranslatable and
    * must not demand pushdown). */
  private def pushable(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    e match {
      case IsNotNull(_: AttributeReference) => true
      case IsNull(_: AttributeReference) => true
      case b: BinaryComparison =>
        (b.left.isInstanceOf[AttributeReference] && b.right.foldable) ||
          (b.right.isInstanceOf[AttributeReference] && b.left.foldable)
      case In(_: AttributeReference, vs) if vs.forall(_.foldable) => true
      case StartsWith(_: AttributeReference, _: Literal) => true
      case _ => false
    }
  }

  /** All invariant violations in one plan, as human-readable strings
    * (empty = clean). Factored out so the seeded-regression self-test
    * below can prove each detector actually fires. */
  private def violations(plan: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // 1. no cartesian product
    plan.collect {
      case p if p.getClass.getSimpleName == "CartesianProductExec" =>
        out += s"CartesianProduct:\n$p"
    }
    // 2. BNLJ only against a provably bounded broadcast side (at the
    // sparkPlan stage no BroadcastExchange is inserted yet — select the
    // build side the join itself declares)
    plan.collect { case j: BroadcastNestedLoopJoinExec =>
      val bcast = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case _ => j.right
      }
      if (!isBounded(bcast))
        out += s"BNLJ broadcasts a corpus-shaped side:\n$bcast"
    }
    // 3. windows partition by a key or run over bounded input
    plan.collect { case w: WindowExec =>
      if (w.partitionSpec.isEmpty && !isBounded(w.child))
        out += s"corpus-sized single-partition window:\n$w"
    }
    // 4. pushable data filters evaluated at a parquet scan must push down
    plan.collect { case s: FileSourceScanExec =>
      if (s.dataFilters.exists(pushable) &&
          !s.metadata.get("PushedFilters").exists(_ != "[]"))
        out += s"scan evaluates pushable data filters " +
          s"${s.dataFilters.mkString(", ")} but pushed none into parquet:\n$s"
    }
    // 5. fixed dims never ride a shuffled join
    plan.collect {
      case j: SortMergeJoinExec => j.children
      case j: ShuffledHashJoinExec => j.children
    }.flatten.foreach { side =>
      val ts = scanTables(side)
      if (ts.nonEmpty && ts.subsetOf(fixedDims) && !isAggBounded(side))
        out += s"shuffled join against fixed-size dim(s) $ts — " +
          s"broadcast regression:\n$side"
    }
    out.toSeq
  }

  for (name <- batchKeys) test(s"plan invariants hold for $name") {
    val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
    val v = violations(plan)
    assert(v.isEmpty, s"$name violates plan invariants:\n${v.mkString("\n")}")
  }

  test("the term dictionary bounds a window; other memos do not") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def flagged(df: org.apache.spark.sql.DataFrame): Boolean =
      violations(df.queryExecution.sparkPlan)
        .exists(_.contains("single-partition window"))
    val byTf = Window.orderBy(desc("tf"), asc("term"), asc("doc_id"))
    assert(flagged(Tables.postings(spark, sf)
        .withColumn("rn", row_number().over(byTf))),
      "a global window over the postings memo was not flagged")
    // a distinct (an aggregate) at the cached plan's root, but one row
    // per (doc, shingle): it grows with the corpus
    assert(flagged(Tables.shingles(spark, sf)
        .withColumn("rn", row_number().over(Window.orderBy("doc_id", "sh")))),
      "a global window over the shingles memo was not flagged")
    assert(!flagged(Tables.lexicon(spark, sf)
        .withColumn("rn", row_number().over(Window.orderBy("term")))),
      "a global window over the term dictionary was flagged")
  }

  test("detectors fire on seeded regressions") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    // seeded corpus-sized window: row_number over the raw events table
    // with no partition key
    val badWin = ev.withColumn("rn",
      row_number().over(Window.orderBy("ts")))
    assert(violations(badWin.queryExecution.sparkPlan)
      .exists(_.contains("single-partition window")),
      "window detector missed a corpus-sized global window")
    // seeded cartesian: corpus × corpus with no join condition
    val badCross = ev.select(col("event_id"))
      .crossJoin(ev.select(col("event_id").as("e2")))
    assert(violations(badCross.queryExecution.sparkPlan)
      .exists(v => v.contains("CartesianProduct") || v.contains("BNLJ")),
      "cartesian/BNLJ detector missed a corpus×corpus cross join")
    // seeded broadcast regression: drop the hint AND the statistics
    // rescue (auto-broadcast off), exactly what a refactor on a cluster
    // with stale stats produces — nation must flag as a shuffled side
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sup = Tables.t(spark, sf, "supplier")
      val nat = Tables.t(spark, sf, "nation")
      val bad = sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
        .select("s_name", "n_name")
      assert(violations(bad.queryExecution.sparkPlan)
        .exists(_.contains("broadcast regression")),
        "shuffled-dim detector missed a dropped broadcast")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }
}
