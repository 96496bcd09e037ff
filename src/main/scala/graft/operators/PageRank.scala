package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over a weighted directed graph, computed
  * entirely in SCALED-INTEGER arithmetic (ranks are BIGINT multiples
  * of 1e-9) so every iteration is bit-exact and engine-portable — a
  * DuckDB twin unrolling the same iterations reproduces the output
  * hash-for-hash, which no floating-point formulation survives
  * (per-partition sum order perturbs last ulps).
  *
  * Training-data use: authority over the source-overlap graph — which
  * domains are HUBS of duplicated content (high inbound shared-shingle
  * mass) versus originators. Reference analogue: the per-source tallies
  * in `code/structure_data.py:239-258` rank sources by row count only;
  * a content-overlap graph is the corpus-level generalization.
  *
  * Scale shape: every frame in the loop is NODE- or EDGE-sized (for
  * the source graph, #domains and #domain-pairs-with-overlap), never
  * corpus-sized — the corpus-scale work happens once in the edge
  * derivation (one shingle-index self-join, see
  * [[graft.dedup.ScaleDedup.sourceOverlap]]). Each iteration is one
  * equi-join (rank → out-edges) + one map-side-combinable sum keyed by
  * destination + one left join back onto nodes: three exchanges over
  * node/edge-sized data, fully distributed, no driver state. Per-
  * iteration `localCheckpoint` keeps the plan depth CONSTANT — the
  * GraphX materialize-per-superstep discipline — where an unpinned
  * fold hands Catalyst a plan tree that grows linearly in iteration
  * count and re-executes the whole prefix at every action.
  *
  * Numerics (all half-up integer division, `(2a+b) div (2b)`):
  *  - r0 = halfup(1e9 / N) per node;
  *  - contribution a→b = halfup(r_a · w_ab / W_a), the r·w product
  *    widened to DECIMAL(38,0) first (r ≤ 2³⁰ scaled; at 100 TB an
  *    edge weight can reach ~1e13 shared shingles — the BIGINT
  *    product would wrap silently; the twin widens to HUGEINT);
  *  - r' = halfup(0.15e9 / N) + halfup(85 · Σcontrib / 100).
  * Dangling mass (nodes with no out-edges) is dropped, not
  * redistributed — the standard simplification, applied identically
  * by the twin, so ranks sum to slightly under 1.0.
  */
object PageRank {

  /** @param nodes 1-column frame of node ids (any type, named `id`)
    * @param edges  (src, dst, w: integral weight > 0)
    * @param iters  fixed iteration count (the oracle unrolls the same)
    * @return (id, authority: double = final rank, exact at 9 dp —
    *         scaled BIGINT / 1e9 is the same IEEE division on both
    *         engines)
    */
  def ranks(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    ranks(nodes, edges, iters, driverEdgeThreshold = 1000000)

  /** r14: graphs whose edge set fits under `driverEdgeThreshold` run
    * the identical half-up integer recurrence ON THE DRIVER (one
    * bounded collect — the Components.canonical union-find precedent) —
    * the recurrence is scaled-integer arithmetic, so driver and
    * distributed evaluation are bit-identical (integer sums have no
    * order sensitivity), and the distributed loop's 3 exchanges + 1
    * checkpoint PER ITERATION collapse to zero jobs. The source-
    * overlap graph this operator exists for is #domains wide (~400
    * edges at 20 sources, constant in corpus size — the corpus-scale
    * work is the edge DERIVATION, not the iterations); a graph past
    * the threshold falls back to the distributed loop unchanged.
    */
  def ranks(nodes: DataFrame, edges: DataFrame, iters: Int,
            driverEdgeThreshold: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters=$iters out of [1, 50]")
    // Gate on the NODE count first (a dangling-heavy graph can have few
    // edges but an unbounded node set — collecting it would be the OOM
    // the threshold exists to prevent), and only then probe the edge
    // side; both probes are bounded limit-collects. Driver and
    // distributed evaluation are bit-identical (spec-pinned), so the
    // gate moves cost only, never the answer.
    val nSample = nodes.select(col("id")).limit(driverEdgeThreshold + 1).collect()
    if (nSample.length <= driverEdgeThreshold) {
      val eSample = edges.select(col("src"), col("dst"), col("w").cast("long"))
        .limit(driverEdgeThreshold + 1).collect()
      if (eSample.length <= driverEdgeThreshold)
        return ranksOnDriver(nodes, nSample, eSample, iters)
    }
    val n = nodes.agg(count(lit(1)).as("n"))
    // out-weight totals ride along on every edge row; pinned because
    // the edge frame is re-read once per iteration
    val ew = edges
      .join(edges.groupBy(col("src")).agg(sum(col("w")).as("wout")), "src")
      .localCheckpoint()
    // rank carries the node count so the teleport term needs no
    // per-iteration re-aggregation (n is one broadcast row, not state)
    var r = nodes.crossJoin(broadcast(n))
      .select(col("id"), expr("(2*1000000000 + n) div (2*n)").as("rank"),
        col("n"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = ew
        .join(r.select(col("id").as("src"), col("rank")), "src")
        .select(col("dst"),
          expr("(2*CAST(rank AS DECIMAL(38,0))*w + wout) div (2*wout)")
            .as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      r = r.select(col("id"), col("n"))
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (expr("(2*150000000 + n) div (2*n)")
            + expr("(170*coalesce(c, 0L) + 100) div 200")).as("rank"),
          col("n"))
        .localCheckpoint()
    }
    r.select(col("id"), (col("rank").cast("double") / lit(1e9)).as("authority"))
  }

  /** The same recurrence evaluated driver-side over a collected edge
    * list — bit-identical to the distributed loop (every step is
    * half-up integer arithmetic on exact integers; sums are
    * order-independent). Node ids keep their original type through a
    * generic index map, and the result ships back as one small
    * DataFrame.
    */
  private def ranksOnDriver(nodes: DataFrame,
                            idRows: Array[org.apache.spark.sql.Row],
                            eSample: Array[org.apache.spark.sql.Row],
                            iters: Int): DataFrame = {
    val spark = nodes.sparkSession
    val ids: Array[Any] = idRows.map(_.get(0))
    // boxed Integer values: a java.util.HashMap[Any, Int] would unbox a
    // missing key's null to 0 and silently alias unknown ids to node 0
    val index = new java.util.HashMap[Any, Integer](ids.length * 2)
    ids.zipWithIndex.foreach { case (id, i) => index.put(id, Integer.valueOf(i)) }
    val nN = ids.length.toLong
    if (nN == 0)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        ranksSchema(nodes))
    def halfUp(a: BigInt, b: BigInt): Long = ((2 * a + b) / (2 * b)).toLong
    // wout per src, then (src, dst, w, wout) per edge — edges whose src
    // is not a node row contribute exactly as in the distributed form
    // (the join keys on edge src, not on nodes), but such edges cannot
    // exist for a well-formed graph; guard by skipping unknown dsts at
    // the contribution sink the same way the left join did (unknown
    // dst rows simply never land on a node).
    val wout = new java.util.HashMap[Any, Long]()
    eSample.foreach { r =>
      wout.merge(r.get(0), r.getLong(2), (a, b) => a + b)
    }
    var rank: Array[Long] =
      Array.fill(ids.length)(halfUp(BigInt(1000000000L), BigInt(nN)))
    // ranks are keyed by node id; an edge src absent from nodes has no
    // rank and contributes nothing (the distributed join semantics)
    var it = 0
    while (it < iters) {
      val contrib = new Array[Long](ids.length)
      eSample.foreach { r =>
        val si = index.get(r.get(0))
        val di = index.get(r.get(1))
        if (si != null && di != null) {
          val w = r.getLong(2)
          val wo = wout.get(r.get(0))
          contrib(di) += halfUp(BigInt(rank(si)) * BigInt(w), BigInt(wo))
        }
      }
      val teleport = halfUp(BigInt(150000000L), BigInt(nN))
      rank = Array.tabulate(ids.length)(i =>
        teleport + (170L * contrib(i) + 100L) / 200L)
      it += 1
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
    var i = 0
    while (i < ids.length) {
      rows.add(org.apache.spark.sql.Row(ids(i), rank(i).toDouble / 1e9))
      i += 1
    }
    spark.createDataFrame(rows, ranksSchema(nodes))
  }

  private def ranksSchema(nodes: DataFrame): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        nodes.schema("id").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("authority",
        org.apache.spark.sql.types.DoubleType, nullable = true)))

  /** The unrolled DuckDB twin: CTEs r0 → c1 → r1 → … replaying the
    * identical half-up integer recurrence over caller-supplied node /
    * edge CTE bodies (`nodesSql` → 1 column `id`; `edgesSql` →
    * `src, dst, w`).
    *
    * `prefixCtes`, when non-empty, is spliced verbatim between WITH and
    * the `nodes` CTE (it must end with a comma) — lets a caller stage
    * shared input CTEs (e.g. a deterministic hash-sampled doc slice)
    * that both `nodesSql` and `edgesSql` reference by name.
    */
  def oracleSql(nodesSql: String, edgesSql: String, iters: Int,
                prefixCtes: String = ""): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT ew.dst AS id,
         |    CAST(SUM((2*CAST(r.rank AS HUGEINT)*ew.w + ew.wout) // (2*ew.wout)) AS BIGINT) AS c
         |  FROM ew JOIN r${i - 1} r ON r.id = ew.src GROUP BY 1),
         |r$i AS (
         |  SELECT nodes.id,
         |    (2*150000000 + n) // (2*n)
         |      + (170*COALESCE(c, 0) + 100) // 200 AS rank
         |  FROM nodes CROSS JOIN cnt LEFT JOIN c$i ON c$i.id = nodes.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $prefixCtes
       |nodes AS ($nodesSql),
       |cnt AS (SELECT COUNT(*) AS n FROM nodes),
       |e AS ($edgesSql),
       |ow AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1),
       |ew AS (SELECT e.src, e.dst, e.w, ow.wout FROM e JOIN ow USING (src)),
       |r0 AS (SELECT id, (2*1000000000 + n) // (2*n) AS rank
       |       FROM nodes CROSS JOIN cnt),
       |$steps
       |SELECT id AS source, CAST(rank AS DOUBLE) / 1000000000 AS authority
       |FROM r$iters""".stripMargin
  }
}
