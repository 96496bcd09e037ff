package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Deterministic distributed k-means over an embedding column, built so
  * the whole Lloyd iteration is replayable bit-for-bit by a DuckDB twin
  * (the unrolled-CTE pattern the PageRank oracle uses):
  *
  *  - seeds are the k lowest `vec_id` vectors (no RNG, no hash replay
  *    needed on the oracle side);
  *  - assignment distance is squared L2 via three index-ordered dot
  *    products (|x|² − 2⟨x,c⟩ + |c|²) rounded to 6 dp — both engines
  *    run the identical IEEE chain, ties break on the lowest cluster
  *    id;
  *  - centroid updates are decimal-exact means per (cluster, dim) —
  *    `sum(DECIMAL(18,9))` is order-independent, so the recomputed
  *    centroids are equal across engines and partitionings, and every
  *    later iteration stays deterministic.
  *
  * Scale shape ([[Knn.ivfCentroids]] is the recall-floor sibling):
  * assignment broadcasts the centroids and takes the argmin through
  * the native partial/final top-k — the partial stage cuts the scored
  * k-way expansion back to at most ONE row per vector per partition
  * before the exchange, but the final stage requires
  * ClusteredDistribution on vec_id, so one corpus-cardinality shuffle
  * (vector rows incl. their embedding arrays, deduplicated to top-1
  * per partition) does cross per Lloyd iteration; the update shuffles
  * only the (cluster, dim)-keyed partial sums (map-side combine
  * bounds the exchange at k × dim rows per partition). Per-iteration
  * localCheckpoint keeps plan depth constant, the PageRank loop rule.
  * Production callers cap Lloyd training with `trainCap` (train on a
  * deterministic hash-sample, assign the full corpus — the
  * [[Knn.pqCodebooks]] recipe); the registered oracle query trains on
  * the full fixture so the twin needs no hash replay of the sample.
  */
object Clustering {

  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotProduct(a, b)

  /** Squared L2 distance rounded to 6 dp — the cross-engine-stable
    * assignment key (see class doc).
    */
  private def dist2(e: Column, c: Column): Column =
    round(dot(e, e) - lit(2.0) * dot(e, c) + dot(c, c), 6)

  private def asDouble(e: Column): Column = transform(e, _.cast("double"))

  /** (cid, c_emb) seed centroids: the k lowest-id vectors. */
  private def seedCentroids(v: DataFrame, k: Int): DataFrame =
    v.orderBy(col("vec_id")).limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy(col("vec_id"))) - 1)
      .select(col("cid"), col("e").as("c_emb"))

  /** Above this cell count the per-row argmin expression would embed
    * too large a literal in the plan (k × dim doubles ship inside
    * every task binary, where a broadcast torrents once per executor)
    * — the crossJoin + window form stays the scale path there. 16384
    * cells × 64 dims ≈ 8 MB of literal, the broadcast-threshold order
    * of magnitude.
    */
  private val ArgminLiteralMaxCells = 16384

  /** Assign every vector to its nearest centroid: a per-row argmin
    * up to [[ArgminLiteralMaxCells]] centroids, past that a broadcast
    * nested loop + native top-1. The partial top-k stage collapses the
    * k-way scored expansion to ≤1 row per vector per partition before
    * the vec_id exchange — one corpus-cardinality shuffle, never a
    * k×corpus one (see the class doc's scale-shape note).
    */
  private def assign(v: DataFrame, centroids: DataFrame): DataFrame = {
    // r14: for every broadcastable centroid set the argmin is per-row
    // column math against the collected centroids (codegen'd
    // CentroidArgminL2 — round-6 d2, cid-asc ties, null → smallest
    // cid, all window-parity and spec-pinned), so the corpus never
    // shuffles for assignment: the former crossJoin + rank-1 window
    // pushed n×k rows CARRYING THE EMBEDDINGS through an exchange.
    val cents = centroids.select(col("cid").cast("int"), col("c_emb"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    if (cents.length <= ArgminLiteralMaxCells) {
      val cids = cents.map(_._1).toSeq
      val mat = cents.map(_._2).toSeq
      v.select(col("vec_id"), col("e"),
          graft.functions.GraftFunctions.centroidArgminL2(col("e"), mat).as("_r"))
        .select(col("vec_id"), col("e"),
          element_at(typedlit(cids), col("_r.pos") + 1).as("cid"),
          col("_r.d2").as("d2"))
    } else {
      // |e|² once per vector and |c|² once per centroid BEFORE the
      // k-way expansion: the scored pair runs ONE dot loop, not three.
      // Same expression tree as [[dist2]] — round((e² − 2d) + c², 6) —
      // so the assignment key is bit-identical to the oracle's formula.
      val scored = v.withColumn("e_n2", dot(col("e"), col("e")))
        .crossJoin(broadcast(
          centroids.withColumn("c_n2", dot(col("c_emb"), col("c_emb")))))
        .withColumn("d2",
          round(col("e_n2") - lit(2.0) * dot(col("e"), col("c_emb")) + col("c_n2"), 6))
      graft.plans.TopK.perKey(scored,
        Seq(col("vec_id")), Seq(col("d2").asc, col("cid").asc), 1)
        .select(col("vec_id"), col("e"), col("cid"), col("d2"))
    }
  }

  /** Two-level (IVF-style) centroid assignment — the scale path past
    * the flat broadcast-argmin's n × k wall (autoK at 100M docs is
    * ~390k cells; flat assignment would score 390k centroids per
    * vector). The k centroids are themselves clustered into
    * s = ceil(sqrt(k)) super-cells by the SAME deterministic Lloyd
    * rules (centroid id plays the vector id, so no RNG enters); each
    * vector probes its `nProbe` nearest super-cells (n × s work,
    * native partial top-k) and runs the argmin only over the probed
    * cells' member centroids (n × nProbe × ~sqrt(k) work through a
    * mid-keyed equi-join — never a crossJoin against all k). Total
    * work ~n × (s + nProbe·k/s) ≈ n × 2·sqrt(k)·max(1, nProbe/2) vs
    * flat n × k — ~70× less at 390k cells, and every stage stays a
    * shuffle the planner can re-balance (AQE splits a hot super-cell).
    *
    * Exactness, stated honestly: the result equals the flat argmin
    * whenever the true nearest centroid lies in a probed super-cell
    * (guaranteed at nProbe >= s); below that it is the standard IVF
    * approximation — but the function is DETERMINISTIC at any nProbe
    * (6-dp probe keys, ties on the lowest id at both levels), so an
    * oracle twin replaying the same two-level chain matches
    * bit-for-bit regardless.
    *
    * Both join stages carry the embedding array once each: the probe
    * stage collapses to nProbe rows per vector BEFORE its exchange
    * (native partial top-k), the member stage to 1 row per vector per
    * partition before its final exchange.
    */
  private[similarity] def assignTwoLevel(v: DataFrame, centroids: DataFrame,
                                         nProbe: Int,
                                         metaIters: Int = 2): DataFrame = {
    val cents = centroids.localCheckpoint() // seeds + Lloyd + members
    val k = cents.count()
    val s = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val cv = cents.select(col("cid").as("vec_id"), col("c_emb").as("e"))
    val meta = (0 until metaIters).foldLeft(seedCentroids(cv, s)) {
      (m, _) => recompute(assign(cv, m)).localCheckpoint()
    }
    // centroid -> owning super-cell: k × s broadcast-argmin, k rows out
    val members = assign(cv, meta)
      .select(col("cid").as("mid"), col("vec_id").as("cid"),
        col("e").as("c_emb"))
      .withColumn("c_n2", dot(col("c_emb"), col("c_emb")))
    // probe stage: top-nProbe super-cells per vector (same 6-dp
    // (e² − 2d) + c² chain as [[assign]], ties on the lowest mid)
    val metaM = meta.select(col("cid").as("mid"), col("c_emb").as("m_emb"))
      .withColumn("m_n2", dot(col("m_emb"), col("m_emb")))
    val probes = graft.plans.TopK.perKey(
      v.withColumn("e_n2", dot(col("e"), col("e")))
        .crossJoin(broadcast(metaM))
        .withColumn("pd2",
          round(col("e_n2") - lit(2.0) * dot(col("e"), col("m_emb"))
            + col("m_n2"), 6)),
      Seq(col("vec_id")), Seq(col("pd2").asc, col("mid").asc), nProbe)
      .select(col("vec_id"), col("e"), col("e_n2"), col("mid"))
    // member stage: equi-join on the super-cell id, argmin over the
    // probed cells' centroids only — bit-identical d2 chain to flat
    graft.plans.TopK.perKey(
      probes.join(members, "mid")
        .withColumn("d2",
          round(col("e_n2") - lit(2.0) * dot(col("e"), col("c_emb"))
            + col("c_n2"), 6)),
      Seq(col("vec_id")), Seq(col("d2").asc, col("cid").asc), 1)
      .select(col("vec_id"), col("e"), col("cid"), col("d2"))
  }

  /** [[kmeansAssign]] with the final (and only the final) assignment
    * routed through [[assignTwoLevel]] — training still uses the flat
    * argmin (cap it with `trainCap` at corpus scale; Lloyd on a
    * bounded sample never meets the n × k wall). Returns the same
    * (vec_id, cluster, dist2) shape. Equal to [[kmeansAssign]] output
    * when nProbe covers every super-cell (TwoLevelSpec pins this);
    * below that, the deterministic IVF approximation documented on
    * [[assignTwoLevel]].
    */
  def kmeansAssignTwoLevel(vectors: DataFrame, k: Int, iters: Int,
                           nProbe: Int, trainCap: Int = 0,
                           metaIters: Int = 2): DataFrame = {
    val v = vectors
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .localCheckpoint()
    assignTwoLevel(v, trainedCentroids(v, k, iters, trainCap), nProbe,
      metaIters)
      .select(col("vec_id"), col("cid").as("cluster"), col("d2").as("dist2"))
  }

  /** Decimal-exact per-(cluster, dim) means, reassembled to arrays. A
    * cluster that loses every member drops out (k shrinks), identically
    * on the oracle side.
    */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("e")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(sum(col("col").cast(DecimalType(18, 9))).cast(DoubleType) /
        count(lit(1)), 6).as("m"))
      .groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("s"))
      .select(col("cid"), transform(col("s"), x => x.getField("m")).as("c_emb"))

  /** Lloyd-refined cluster assignment: (vec_id, cluster, dist2).
    *
    * @param trainCap if > 0, Lloyd updates see only the `trainCap`
    *                 lowest-xxhash64 vectors (the corpus-scale form —
    *                 training cost stops tracking corpus size); the
    *                 final assignment always covers every vector.
    */
  def kmeansAssign(vectors: DataFrame, k: Int, iters: Int,
                   trainCap: Int = 0): DataFrame = {
    val v = vectors
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .localCheckpoint() // read once: seeds + every iteration + final assign
    assign(v, trainedCentroids(v, k, iters, trainCap))
      .select(col("vec_id"), col("cid").as("cluster"), col("d2").as("dist2"))
  }

  private def trainedCentroids(v: DataFrame, k: Int, iters: Int,
                               trainCap: Int): DataFrame = {
    val train =
      if (trainCap > 0)
        // repartition AFTER the limit: GlobalLimit collapses its output
        // to ONE partition and the checkpoint would pin that layout —
        // every Lloyd pass over a 278k-row × 8,681-centroid sample then
        // runs its ~2.4e9 distance rows in a single task (measured as a
        // 100%-one-core stall at the 2.2M-vector replica). Seeds and
        // decimal-exact means are partitioning-invariant, so the spread
        // changes cost only, never the centroids.
        v.orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
          .limit(trainCap)
          .repartition(v.sparkSession.sparkContext.defaultParallelism)
          .localCheckpoint()
      else v
    (0 until iters).foldLeft(seedCentroids(train, k)) {
      (cents, _) => recompute(assign(train, cents)).localCheckpoint()
    }
  }

  /** The trained centroids as driver-side values — the write-once
    * frozen-index artifact a streaming router ships as expression
    * literals (k × dim doubles, a few KB; never joined).
    */
  def kmeansCentroids(vectors: DataFrame, k: Int, iters: Int,
                      trainCap: Int = 0): Seq[(Int, Seq[Double])] =
    trainedCentroids(
      vectors.select(col("vec_id"), asDouble(col("embedding")).as("e")),
      k, iters, trainCap)
      .orderBy(col("cid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq

  /** (cluster, dist2) assignment against FROZEN centroid literals: the
    * per-row argmin is one array_min over k (d2, cid) structs, every
    * d2 the same 6-dp dot-product chain as [[kmeansAssign]] — so the
    * routed result is bit-identical to the batch assignment. Pure
    * per-row codegen math, no shuffle, no state: safe in a streaming
    * plan (the native top-k physical operator is batch-only).
    */
  def routeToCentroids(cents: Seq[(Int, Seq[Double])], emb: Column): Column = {
    val e = transform(emb, _.cast("double"))
    array_min(array(cents.map { case (cid, c) =>
      val cl = typedlit(c)
      struct(dist2(e, cl).as("d2"), lit(cid).as("cid"))
    }: _*))
  }

  /** Per-cluster distance z-scores over a [[kmeansAssign]] result:
    * (vec_id, cluster, dist2, z, is_outlier). Mean and variance come
    * from decimal-exact sums of the 6-dp `dist2` (d² ≤ 6 dp ⇒ d⁴ ≤ 12
    * dp — both sums are exact, so the double-precision variance
    * arithmetic runs on identical inputs in both engines). Flagging is
    * TWO-sided (|z| > threshold): the far tail is junk/mislabeled
    * content, the ultra-near tail is degenerate or duplicated vectors
    * sitting unnaturally close to the cluster mean — on the fixture
    * the planted near-dup copies surface exactly there. Singleton /
    * zero-variance clusters get z = 0 and never flag. The groupBy is
    * k-sized; the join back broadcasts it.
    */
  def distanceOutliers(assigned: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    val d = col("dist2").cast(DecimalType(18, 9))
    val stats = assigned.groupBy(col("cluster")).agg(
      count(lit(1)).as("n"),
      sum(d).cast(DoubleType).as("s1"),
      sum(d * d).cast(DoubleType).as("s2"))
      .withColumn("mean_d", col("s1") / col("n"))
      .withColumn("var_d",
        greatest(col("s2") / col("n") - col("mean_d") * col("mean_d"), lit(0.0)))
      .select(col("cluster"), col("mean_d"), sqrt(col("var_d")).as("std_d"))
    assigned.join(broadcast(stats), "cluster")
      .withColumn("z", when(col("std_d") > 0,
        round((col("dist2") - col("mean_d")) / col("std_d"), 6)).otherwise(lit(0.0)))
      .select(col("vec_id"), col("cluster"), col("dist2"), col("z"),
        (abs(col("z")) > zThreshold).as("is_outlier"))
  }

  /** Per-cluster occupancy shares over a [[kmeansAssign]] result:
    * (cluster, n, share) — the balance diagnostic a mixture designer
    * reads before weighting topic buckets. k-sized output; the global
    * total is a window over the k aggregated rows, never corpus-sized.
    */
  def clusterBalance(assigned: DataFrame): DataFrame = {
    val w = Window.partitionBy(lit(1))
    // share at 6 dp via the repo's half-up SCALED-INTEGER idiom
    // ((2·n·1e6 + total) div (2·total), then one exact IEEE division
    // by 1e6) instead of round(double, 6): n/total can land exactly on
    // a 5·10⁻⁷ rounding tie (found at the 2M-vector replica, where
    // total = 2e6 makes every odd count a tie at the 7th decimal:
    // 252395/2e6 = 0.1261975 → Spark HALF_UP said 0.126198, DuckDB's
    // binary-double round said 0.126197). Integer arithmetic ties
    // break identically on both engines.
    assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .withColumn("_t", sum(col("n")).over(w))
      .withColumn("share",
        // n widened first (the PageRank discipline): 2·n·1e6 would
        // wrap BIGINT past ~4.6e12 rows in one cluster
        expr("(2 * CAST(n AS DECIMAL(38,0)) * 1000000 + _t) div (2 * _t)")
          .cast("double") / lit(1e6))
      .select(col("cluster"), col("n"), col("share"))
  }

  /** Corpus-derived default for [[semDedup]]'s k dial (the
    * [[Knn.autoPlanes]] rule applied to k-means cells): hold the mean
    * cell near `targetCellSize` so the within-cell pair stage stays
    * n × cellSize — linear in the corpus — instead of quadratic at a
    * fixture-tuned constant k. The registered SemDeDup queries use
    * this rule via `k = 0` (the DuckDB twin derives the SAME k from a
    * `count(*)` CTE, so no literal can diverge the two sides); other
    * callers pass `k = 0` to get it via one cheap count. The flat
    * broadcast-argmin assignment is n × k work, so beyond ~10⁴ cells
    * the assignment (not the pair stage) dominates — at that scale
    * route the final assignment through [[assignTwoLevel]] /
    * [[kmeansAssignTwoLevel]] (the [[Knn.ivfPqTopK]] inverted-list
    * shape, implemented below) and keep this rule for the cell count.
    */
  def autoK(n: Long, targetCellSize: Int = 256): Int =
    math.max(2, math.ceil(math.max(n, 1L).toDouble / targetCellSize).toInt)

  /** Cell count past which [[semDedup]] leaves the flat n × k argmin:
    * assignment routes through [[assignTwoLevel]] and the Lloyd
    * training sample is bounded (32 vectors per cell). 4096 cells =
    * autoK at ~1M vectors with the default 256 target — every
    * oracle-checked tier (fixtures ≤ 2k vectors, hash-slice sampled
    * twins at any replica) sits far below it, so the bit-replay twins
    * never see the approximate path; at 2.2M vectors (8,681 cells)
    * the flat argmin is ~19e9 distance rows and this gate is the
    * difference between minutes and an n × k wall. Cell assignment is
    * BLOCKING, not scoring: a near-dup pair's two near-identical
    * vectors compute near-identical probe distances, so IVF-style
    * probing moves cell boundaries, not pair recall, and the
    * threshold filter downstream stays exact.
    */
  val SemDedupTwoLevelCells: Int = 4096

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * partition the corpus with deterministic k-means, score cosine
    * pairs only WITHIN each cluster, connect the ≥ `threshold` pairs,
    * keep the min-id representative per component. Returns
    * (id, cluster, canonical_id, is_kept) for every vector;
    * `filter(is_kept)` is the deduplicated corpus.
    *
    * This is the cluster-bounded alternative to the LSH-blocked
    * [[Knn.semanticDedup]]: instead of hash buckets, the candidate set
    * is the k-means cell — pair volume Σ n_c² ≈ n × (n/k), so the
    * dial is k ∝ corpus/targetCellSize (the paper runs k ≈ 11k for
    * 100M docs). The per-cell self-join is a plain equi-join on the
    * cluster id (shuffle-partitioned by cell, AQE skew-splittable),
    * never a crossJoin; assignment cost is n × k broadcast-argmin
    * rows, collapsed to one row per vector per partition by the
    * native partial top-k before the exchange ([[assign]]).
    * Trade-off vs LSH blocking, stated honestly: duplicates that
    * straddle a cell boundary are missed (the paper accepts this —
    * near-dup pairs co-locate under k-means overwhelmingly), while
    * LSH misses boundary-similarity pairs probabilistically; both
    * record their dial (k here, planes/tables there).
    *
    * Deterministic end-to-end (lowest-id seeds, 6-dp assignment keys,
    * decimal-exact centroid means, 6-dp cosine), so a DuckDB twin
    * replays the full chain bit-for-bit.
    *
    * @param k        cell count; 0 derives it via [[autoK]]
    * @param trainCap as in [[kmeansAssign]] — bounds Lloyd training,
    *                 never the assignment or the pair stage.
    */
  def semDedup(vectors: DataFrame, k: Int, iters: Int, threshold: Double,
               trainCap: Int = 0,
               driverCcThreshold: Int = 1000000,
               targetCellSize: Int = 256,
               twoLevelCells: Int = SemDedupTwoLevelCells,
               scaleProbe: Int = 4): DataFrame = {
    val v = vectors
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .localCheckpoint() // read by seeds, every Lloyd round, and the pair stage
    val kk = if (k > 0) k else autoK(v.count(), targetCellSize)
    val scalePath = kk > twoLevelCells
    val effTrainCap =
      if (trainCap > 0 || !scalePath) trainCap else 32 * kk
    val cents = trainedCentroids(v, kk, iters, effTrainCap)
    val assigned =
      if (scalePath) assignTwoLevel(v, cents, nProbe = scaleProbe)
      else assign(v, cents)
    // |e| once per vector BEFORE the pair join (the Knn.cosinePre rule).
    val withNorm = assigned.select(col("cid"), col("vec_id"), col("e"),
      Knn.norm(col("e")).as("nrm"))
    val pairs = withNorm
      .select(col("cid"), col("vec_id").as("id_a"), col("e").as("e_a"),
        col("nrm").as("na"))
      .join(withNorm.select(col("cid"), col("vec_id").as("id_b"),
        col("e").as("e_b"), col("nrm").as("nb")), Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(Knn.cosinePre(col("e_a"), col("e_b"), col("na"), col("nb"))
        >= threshold)
      .select(col("id_a"), col("id_b"))
    graft.dedup.Components
      .canonical(v.select(col("vec_id").as("id")), pairs, driverCcThreshold)
      .join(assigned.select(col("vec_id").as("id"), col("cid").as("cluster")), "id")
      .select(col("id"), col("cluster"), col("canonical_id"),
        (col("id") === col("canonical_id")).as("is_kept"))
  }

  /** Cluster-stratified deterministic sample: the `perCluster`
    * lowest-xxhash64 vectors of each cluster — the balanced-subset
    * selection step between clustering and training-mix assembly.
    * Native partial/final top-k: at most `perCluster` rows per cluster
    * per partition reach the exchange (a window rank would shuffle the
    * full assignment).
    */
  def stratifiedSample(assigned: DataFrame, perCluster: Int): DataFrame =
    graft.plans.TopK.perKey(
      assigned.withColumn("h", xxhash64(col("vec_id"))),
      Seq(col("cluster")), Seq(col("h").asc, col("vec_id").asc), perCluster)
      .select(col("cluster"), col("vec_id"), col("rank"))
}
