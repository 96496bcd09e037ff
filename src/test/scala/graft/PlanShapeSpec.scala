package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression net over EVERY registered query's physical plan: no
  * all-pairs join shape (CartesianProduct / BroadcastNestedLoopJoin)
  * may appear outside the declared exactness baselines. An edit that
  * silently reintroduces an O(n²) plan fails here, not at 100 TB.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Declared brute-force baselines / broadcast-tiny-side shapes:
    *  - emb_cosine_topk, mm_embed_topk: exact cosine top-k (the oracle
    *    baseline — queries broadcast, corpus streams, never shuffles);
    *  - ann_ivf_topk: centroid assignment is a broadcast nested loop
    *    over the tiny centroid set by design (corpus never shuffles);
    *  - ann_pq_topk: the ADC scoring pass broadcasts the tiny prepped
    *    query side over the streamed code table (m lookups per
    *    candidate — the documented scan-all-codes design; the corpus
    *    itself never shuffles and full vectors are only touched by the
    *    equi-join re-rank);
    *  - a7_headline_metrics: attaches a LIMIT-1 mode row to a global
    *    single-row aggregate with an on-true LEFT join — both sides
    *    are one row by construction, the "join" is a row concat.
    * Everything else — every dedup, join, window, ANN-LSH, pipeline
    * query — must plan equi-joins/aggregations only.
    */
  private val allowed =
    Set("emb_cosine_topk", "mm_embed_topk", "ann_ivf_topk", "ann_pq_topk",
      "ann_ivfpq_topk", // centroid assignment/probing BNLJ over the
                        // tiny centroid set; the candidate pass itself
                        // is an equi-join on the list id
      "ann_lsh_topk",   // the LSH path itself is pure equi-join; the
                        // BNLJ is the in-query exact baseline of the
                        // recall-floor oracle (fixture-scale only)
      "a7_headline_metrics",
      "text_heavy_hitters_sketch", // the corpus-wide CMS blob + total
                                   // is a ONE-ROW global aggregate
                                   // broadcast-crossed onto the 20-row
                                   // probe set — O(n·1) row concat,
                                   // not an all-pairs shape
      "text_distinct_hll",         // same: the union-sketch/global-
                                   // exact single-row aggregates
                                   // attach to per-source rows
      // the k-means family: assignment is the ann_ivf_topk shape — the
      // k-row centroid set broadcasts over the streamed corpus (the
      // corpus never shuffles; an equi-join would have nothing to key
      // on). stream_cluster_route is NOT here: its literal argmin
      // plans no join at all.
      "emb_kmeans_cluster", "emb_cluster_outliers", "emb_cluster_sample",
      "emb_cluster_balance",
      // two-level assignment: the BNLJ sides are the k-row base-
      // centroid set (meta-Lloyd training + the super-cell probe over
      // sqrt(k) super-centroids) — bounded by k and sqrt(k), never the
      // corpus; the member argmin itself is the mid-keyed equi-join
      // that REPLACES the flat n × k broadcast argmin at scale
      "emb_kmeans_twolevel", "emb_kmeans_twolevel_sampled",
      // SemDeDup: same k-row centroid broadcast for assignment; the
      // pair stage itself is a plain equi-join on the cluster id
      "emb_semdedup_cluster", "emb_semdedup_sampled",
      "ann_incremental_topk")      // IVF probe against the frozen
                                   // index — same centroid BNLJ

  test("no registered query plans an all-pairs join outside the declared baselines") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if allowed(name) => None
      case (name, fn) =>
        val plan =
          try fn(spark, TestSpark.SfDir).queryExecution.executedPlan.toString
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        if (plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin")) Some(name)
        else None
    }
    assert(offenders.isEmpty, s"all-pairs plans found in: $offenders")
  }

  /** Round-7 adjudication of the round-6 `dedup_containment`
    * bimodality watch item: 14 solo trials with the final adaptive
    * plan captured per trial showed the SAME plan every time per tier
    * — BroadcastHashJoin×8 at sf0.1 (capped index fits broadcast),
    * SortMergeJoin×10 at the 10× replica (it doesn't; the
    * size-adaptive switch is exactly the scale-correct behavior, and
    * at 100 TB it stays SMJ) — with steady-state times within 1.45×
    * spread in both tiers. The recorded bimodality was bench-session
    * environment noise, not an AQE flip. What must hold structurally,
    * at any size: every join in the containment plan is KEYED (hash
    * or sort-merge on sh/id) — never an all-pairs shape — and the
    * plan stays inside the adaptive framework so the size switch can
    * happen.
    */
  test("dedup_containment plans only keyed joins under AQE") {
    val plan = SparkEntry.queries("dedup_containment")(spark, TestSpark.SfDir)
      .queryExecution.executedPlan.toString
    val keyed = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .map(j => plan.split("\n").count(_.contains(j))).sum
    assert(keyed > 0, "containment lost its join pipeline entirely")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "containment self-join degraded to an all-pairs shape")
    assert(plan.contains("AdaptiveSparkPlan"),
      "containment no longer plans under AQE — the size-adaptive " +
        "bhj/smj switch (the scale story) needs the adaptive framework")
  }

  /** Global windows whose boundedness the logical plan cannot show:
    *  - s8_run_stats_trend: the window's input is the append-history
    *    sink read back from parquet — ONE aggregate row per pipeline
    *    run by construction (`Writers.appendHistory` of an agg-to-one-
    *    row), so the lag() window is over |runs|, not |events|; the
    *    bounding Aggregate happened before the sink write and is
    *    invisible to the read-back plan.
    */
  private val boundedWindows = Set("s8_run_stats_trend")

  // Global-window boundedness invariant (r10 verdict #6): an
  // unpartitioned Window funnels its ENTIRE input through one task
  // (`WindowExec: No Partition Defined` → SinglePartition exchange),
  // which is fine over a k-row aggregate frame (clusterBalance's
  // window over k cluster rows) and fatal over a corpus-sized scan at
  // 100 TB. Nothing structurally prevented a future registry query
  // from shipping the fatal shape — this sweep does: every Window
  // with an empty partitionSpec, in every registered query's
  // OPTIMIZED logical plan, must sit above a bounding operator — an
  // Aggregate (the registry's global windows all ride k-sized /
  // single-row aggregate frames), a Limit, or a literal/local input.
  // A global window whose subtree is scan→join→window with no
  // aggregation or limit in between is refused here, not on the
  // cluster. (Logical-plan traversal, not executedPlan string
  // matching: AQE wraps the physical tree, and the logical Window
  // node with its partitionSpec is the stable, unambiguous signal.)
  test("every global (unpartitioned) window sits above a bounded input — all queries") {
    import org.apache.spark.sql.catalyst.plans.logical._
    var swept = 0
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if boundedWindows(name) => { swept += 1; None }
      case (name, fn) =>
        val plan =
          try fn(spark, TestSpark.SfDir).queryExecution.optimizedPlan
          catch { case e: Throwable => fail(s"$name failed to optimize: $e") }
        swept += 1
        plan.collect {
          case w: Window if w.partitionSpec.isEmpty =>
            val bounded = w.child.collectFirst {
              case _: Aggregate => ()
              case _: GlobalLimit => ()
              case _: LocalLimit => ()
              case _: LocalRelation => ()
              case _: OneRowRelation => ()
            }.isDefined
            if (bounded) None else Some(name)
        }.flatten
    }.distinct
    assert(swept == SparkEntry.queries.size,
      s"sweep covered $swept of ${SparkEntry.queries.size} queries")
    assert(offenders.isEmpty,
      s"corpus-sized single-partition window risk in: $offenders — " +
        "aggregate or limit the input before a global window, or " +
        "partition the window")
  }
}
