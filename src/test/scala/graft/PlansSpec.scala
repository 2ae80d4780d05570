package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SalesClean
import graft.sources.SalesFixture

/** Physical-plan assertions for the scale-critical properties: these are the
  * "would it survive 100 TB" checks — pushdown, pruning, broadcastability,
  * partial aggregation, shuffle-free narrow pipelines — pinned so a future
  * refactor can't silently regress a plan.
  */
class PlansSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def optimized(df: DataFrame): String = df.queryExecution.optimizedPlan.toString
  import PlansSpec.unwrapped

  test("parquet scan pushes filters and prunes columns") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"filter not pushed to scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("flagship clean pipeline has no shuffle — one narrow codegen span") {
    val p = plan(SalesClean.cleanDeterministic(
      SalesFixture.fromLineitem(spark, sfDir).drop("sales_id")))
    assert(!p.contains("Exchange"), s"unexpected shuffle in narrow pipeline:\n$p")
    // "*(n)" node prefixes mark whole-stage-codegen stages in toString
    assert(p.contains("*(1)"), s"codegen missing:\n$p")
  }

  test("query registry has no silent name collisions, oracles all resolve") {
    // SparkEntry merges the domain maps with ++, which OVERWRITES on a
    // duplicate key — a copy-pasted query name would silently drop a query
    val parts = Seq(
      SalesQueries.queries, RelationalQueries.queries, TextQueries.queries,
      EventQueries.queries, DedupQueries.queries, SimilarityQueries.queries,
      MultimodalQueries.queries, CurationQueries.queries, WebQueries.queries)
    assert(SparkEntry.queries.size === parts.map(_.size).sum,
      "duplicate query name across domain registries")
    val oparts = Seq(
      SalesQueries.oracle, RelationalQueries.oracle, TextQueries.oracle,
      EventQueries.oracle, DedupQueries.oracle, SimilarityQueries.oracle,
      MultimodalQueries.oracle, CurationQueries.oracle, WebQueries.oracle)
    assert(SparkEntry.oracleSql.size === oparts.map(_.size).sum,
      "duplicate oracle name across domain registries")
    // every oracle belongs to a registered query
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("NO registered query plans a partitionless (single-task) window") {
    // the one scale-killer class the engine has shipped before (cur_budget
    // round 2): a Window with an empty partitionSpec sorts the whole input
    // on ONE task. Sweep every query's physical plan — none may contain one.
    // (Building a plan may run bounded driver work — IVF training, budget
    // bucket stats — but never executes the full query.)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = unwrapped(fn(spark, sfDir))
      val bad = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
      }
      spark.catalog.clearCache()
      CacheScope.global.release()
      if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"queries with a global-sort window: ${offenders.mkString(", ")}")
  }

  test("dimension joins broadcast (q5 join chain)") {
    val p = plan(SparkEntry.queries("q5_join5")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in q5:\n$p")
  }

  test("aggregations are partial (map-side combine before the shuffle)") {
    val df = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    val p = plan(df)
    // two HashAggregates around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("global top-k runs as TakeOrderedAndProject, not a full sort") {
    val p = plan(SparkEntry.queries("orders_topk")(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k is a full sort:\n$p")
  }

  test("semi/anti joins stay semi/anti at the physical level") {
    assert(plan(SparkEntry.queries("join_semi")(spark, sfDir)).contains("LeftSemi"))
    assert(plan(SparkEntry.queries("join_anti")(spark, sfDir)).contains("LeftAnti"))
  }

  test("events JSON path prunes to the referenced fields") {
    // from_json with a 1-field schema must not carry the whole props string
    // past the projection; the scan should read only event_id + props
    val df = EventQueries.propsTyped(Tables.events(spark, sfDir))
      .select("event_id", "k")
    val p = plan(df)
    assert(p.contains("ReadSchema") && !p.contains("user_id"),
      s"scan reads unreferenced columns:\n$p")
  }

  test("rank-filter queries plan WindowGroupLimit (k-bounded window pushdown)") {
    // Spark 4 rewrites `row_number() <= k` filters into WindowGroupLimitExec,
    // which keeps only k rows per group BEFORE the full window sort/exchange —
    // the per-group analog of TakeOrderedAndProject. Pin it for the
    // rank-filter family so a refactor can't silently fall back to a full
    // window sort of every candidate row.
    for (name <- Seq("window_rank", "text_tfidf", "ann_knn_join",
        "cur_sample_k")) {
      val plan = unwrapped(SparkEntry.queries(name)(spark, sfDir))
      val limits = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }
      spark.catalog.clearCache()
      CacheScope.global.release()
      assert(limits.nonEmpty, s"$name has no WindowGroupLimit:\n$plan")
      assert(limits.forall(_.partitionSpec.nonEmpty),
        s"$name group-limit is partitionless:\n$plan")
    }
  }

  test("tiny derived tables broadcast onto linear scans (stats/gapfill joins)") {
    // the stats enrichment pattern: the per-group stats table (rows =
    // groups) must broadcast, never shuffle the corpus-side scan
    for (name <- Seq("events_outliers", "events_gapfill")) {
      val p = plan(SparkEntry.queries(name)(spark, sfDir))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$name does not broadcast its small side:\n$p")
      spark.catalog.clearCache()
      CacheScope.global.release()
    }
  }

  test("native kernels stay inside whole-stage codegen") {
    val df = Tables.documents(spark, sfDir)
      .select(graft.plans.NativeKernels.hashedShingles(
        split(col("text"), " "), 3).as("sh"))
    val p = plan(df)
    assert(p.contains("*(1)"), s"kernel fell out of codegen:\n$p")
    assert(!p.toLowerCase.contains("codegenfallback"), p)
  }

  test("CacheScope.checkpoint cuts origin constraints at the boundary") {
    // plain localCheckpoint preserves the origin plan's constraint set
    // across the lineage cut; graft's iterated DPs (Viterbi states joining
    // a filtered vocab ×4 per step) compound that into an exponential
    // pushed filter (>64 KB codegen fallback at sf1). The scope checkpoint
    // must return a plan whose constraints are EMPTY while the data and
    // the releasable LogicalRDD survive.
    val df = spark.range(10).toDF("id").filter(col("id") > 3)
    assert(df.queryExecution.analyzed.constraints.nonEmpty,
      "fixture lost its constraint — test premise broken")
    val plain = df.localCheckpoint(true)
    assert(plain.queryExecution.analyzed.constraints.nonEmpty,
      "Spark stopped preserving checkpoint constraints — shim is obsolete")
    val scope = new CacheScope
    try {
      val ck = scope.checkpoint(df)
      assert(ck.queryExecution.analyzed.constraints.isEmpty,
        "scope checkpoint leaked origin constraints")
      assert(ck.queryExecution.analyzed.collectFirst {
        case _: org.apache.spark.sql.execution.LogicalRDD => ()
      }.nonEmpty, "checkpoint did not produce a LogicalRDD (release() needs it)")
      import spark.implicits._
      assert(ck.as[Long].collect().sorted === (4L to 9L).toArray)
    } finally scope.release()
  }
}

object PlansSpec {
  /** The physical plan with the AQE wrapper peeled off: Spark 4 plans are
    * AdaptiveSparkPlanExec — a LEAF node, so `collect` on executedPlan
    * visits nothing inside it. Every structural plan assertion must descend
    * through it or it asserts on an empty tree.
    */
  def unwrapped(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  /** Every node of `df`'s executed plan, descending through adaptive
    * query stages too (a stage is a leaf of the tree [[unwrapped]] gives).
    */
  def stagedNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case p => p }

  /** The broadcast exchanges, nested-loop joins and anti joins among
    * [[stagedNodes]], by node name.
    */
  def broadcastsAndAntiJoins(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    stagedNodes(df).collect {
      case b: BroadcastExchangeExec => b.nodeName
      case j: BroadcastNestedLoopJoinExec => j.nodeName
      case j: BaseJoinExec if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        s"${j.nodeName} LeftAnti"
    }
  }
}
