package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exactness baseline: |Q| × |C|
  * comparisons as a broadcast nested loop (queries broadcast, corpus
  * streamed — no shuffle of the corpus). The scale path is
  * random-hyperplane LSH: bucket by sign bits, search only co-bucketed
  * candidates — one equi-join shuffle instead of the cross product,
  * trading recall (multi-table probing restores it: a pair is a
  * candidate if it co-buckets in ANY of the independent tables).
  */
object Knn {

  /** Dot product of two float-array columns in double precision
    * (index order, so bit-deterministic). Backed by the codegen'd
    * [[graft.functions.DotProduct]] expression — a primitive loop in
    * whole-stage codegen instead of a per-element interpreted lambda.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 6 dp (stable ranking key). */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Cosine from PRE-COMPUTED per-vector norms: one dot-product loop
    * per pair instead of three. `cosine(a, b)` re-runs the norm loops
    * for every candidate pair, so a vector meeting p partners pays
    * 2p+1 loops; attaching `norm(e)` per side BEFORE the pair join
    * pays 1 loop per vector + 1 per pair. Bit-identical to [[cosine]]:
    * the norm is the same index-order sqrt(dot(e,e)) double wherever
    * it is evaluated, and Catalyst does not migrate a below-join
    * projection above the join, so the per-vector placement sticks.
    */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  /** Rank scored candidates per query through the native partial/final
    * top-k operator: at most k rows per query per input partition reach
    * the exchange — the window form would shuffle every scored pair.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(scored,
      Seq(col("query_id")), Seq(col("sim").desc, col("cand_id").asc), k)
      .select(col("query_id"), col("cand_id"), col("sim"), col("rank"))

  /** Exact top-k neighbors for each query vector (excluding self). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_nrm"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_nrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim",
        cosinePre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
    rankTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane for (table, plane):
    * splitmix64 of the (table, plane, dim) triple scaled into
    * [-0.5, 0.5), computed ONCE on the driver and shipped as a literal
    * array. The per-row cost at scan time is one multiply-add per
    * dimension inside codegen — not a hash call per (row, plane, dim),
    * which at 100 TB × 32 planes × 64 dims would dominate the scan.
    * `table` selects an independent plane set (multi-table probing).
    */
  private def planeVector(table: Int, plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      var z = table.toLong * 0x9E3779B97F4A7C15L +
        plane.toLong * 0xBF58476D1CE4E5B9L + d.toLong
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (java.lang.Math.floorMod(z, 100000L).toDouble / 100000.0) - 0.5
    }

  /** Sign-bit plane count derived from the corpus size. Buckets hold
    * ~n/2^planes vectors, so in-bucket candidate pairs grow like
    * n²/2^planes per table — holding expected occupancy at
    * `targetOccupancy` (planes = ceil(log2(n/occupancy))) keeps the
    * candidate stage LINEAR in n as the corpus scales. This replaces
    * the fixture-tuned constant that was the one quantified scale
    * cliff: EmbScaleProbe measured 8 planes at 222k vectors leaving
    * 868 vectors/bucket (469M candidate pairs — quadratic) vs
    * 4.3/bucket at 16 planes. Planes control occupancy ONLY; recall
    * is bought with nTables (miss probability falls with its power),
    * so growing planes with log2(n) trades a per-table recall factor
    * that nTables restores, never correctness (candidates are always
    * exact-verified). Floor 4 keeps tiny corpora from collapsing to a
    * couple of buckets.
    */
  def autoPlanes(n: Long, targetOccupancy: Int = 8): Int =
    math.max(4, math.ceil(
      math.log(math.max(n, 1L).toDouble / targetOccupancy) / math.log(2.0)).toInt)

  /** Corpus-derived rerank factor for the PQ families ([[pqTopK]] /
    * [[ivfPqTopK]] with `rerankFactor = 0`) — the [[autoPlanes]]
    * treatment for the OTHER fixture-tuned ANN dial. ADC ranking noise
    * is a property of the codebooks, not of n, but the number of true
    * near-ties inside the noise band around the k-th neighbor grows
    * with corpus density, so a fixed shortlist decays: measured at the
    * 100× replica (200k vectors, registry params), rr=16 scores
    * pq 59 / ivfpq 61 aggregate hits — under the 79/70 floors — while
    * rr=48 restores 82/77 (RecallProbe sweep, rr ∈ {16,24,32,48,64}).
    *
    * r11 re-characterized the whole curve with DETERMINISTIC codebooks
    * (decimal-exact Lloyd means — before that fix, recall was a
    * run-to-run random variable) across five replica decades of the
    * diagonal-rotated embedding universe (2k fixture, 20k, 46k, 100k,
    * 200k, 500k vectors). The landscape is NOT monotone in n: the 46k
    * decade (23 rotated replicas) is the measured worst case — the r10
    * slope n/4096 resolves to 16 there and scores ivfpq 61, nine under
    * its 70 floor, while 100k/200k/500k need only ~0.25% shortlists.
    * The rule `max(64, ceil(n/2048))` covers every measured decade
    * with margin ≥ 6: the 64 floor fixes the hard mid-decades (46k →
    * ivfpq 76/70, pq 93/79) at a cost of a few hundred exact dots per
    * query, and the n/2048 slope (shortlist ≈ 0.24% of the corpus)
    * carries the large decades (200k → rr 98: ivfpq 80, pq 89;
    * 500k → rr 245: ivfpq 83, pq 97; per-query mins ≥ 2 everywhere).
    * Raising rr is monotonically recall-safe: the exact re-rank picks
    * top-k from a SUPERSET of candidates, so hits are nondecreasing in
    * rr and every previously passing record stays passing. Re-rank
    * cost stays shortlist × k exact dots per query; latency-critical
    * callers can pin a smaller factor and accept the measured recall.
    */
  def autoRerank(n: Long): Int =
    math.max(64, math.ceil(math.max(n, 1L).toDouble / 2048.0).toInt)

  /** Corpus-derived IVF list count — the LAST fixture-tuned ANN dial
    * ([[autoPlanes]] and [[autoRerank]] already scale with n) given
    * the same treatment. An inverted list is a join partition: at the
    * pinned nCentroids = 16, 2.2M vectors mean 140k-row lists and a
    * 16-distinct-key equi-join — the candidate shuffle's parallelism
    * ceiling IS the list count, so this dial must grow with n or the
    * index stops scaling horizontally. Balanced split: nCentroids =
    * ceil(sqrt(n/8)) puts list count and mean list size on the same
    * √n curve (mean list ≈ √(8n)), reproduces the shipped 16 at the
    * 2k fixture, floors at 16 and caps at 4096 (the centroid table
    * stays broadcast-sized at any corpus). Recall under the derived
    * dials is re-proven per decade with RecallProbe (SCALE_100x.md):
    * [[autoProbe]] holds the probed-list FRACTION at the shipped 1/2,
    * so a query's angular neighborhood is sampled no more coarsely
    * than under the fixture dials — and the PQ families' measured
    * nProbe recall ceiling rises with the cell count instead of
    * pinning at 8-of-16.
    */
  def autoCentroids(n: Long): Int =
    math.max(16, math.min(4096,
      math.ceil(math.sqrt(math.max(n, 1L) / 8.0)).toInt))

  /** Probe count for an [[autoCentroids]]-sized index: half the lists,
    * the shipped 8-of-16 fraction held constant as the cell count
    * grows. Candidate volume per query stays ~n/2 — on THIS data that
    * fraction is what the measured recall floors need (random 64-dim
    * vectors are near-orthogonal; see the RecallProbe decade tables) —
    * but the work arrives as ~nCentroids/2 independent join keys
    * instead of 8, so it spreads across the cluster. Deployments with
    * clustered (real-embedding) corpora can pin a smaller nProbe and
    * accept their measured recall.
    */
  def autoProbe(nCentroids: Int): Int =
    math.max(8, math.ceil(nCentroids / 2.0).toInt)

  /** Sign-bit bucket id from `nPlanes` hyperplanes of table `table`,
    * as column math: one [[dot]] against a literal plane per bit. The
    * operators bucket through [[bucketedAll]]'s one-pass kernel; this
    * form is its parity reference and stays public for callers that
    * bucket a single table.
    */
  def lshBucket(emb: Column, dim: Int, nPlanes: Int, table: Int = 0): Column =
    (0 until nPlanes).map { p =>
      val proj = dot(emb, typedLit(planeVector(table, p, dim)))
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** The planes of tables 0 until `nTables`, indexed (table)(plane)(dim)
    * — what [[graft.functions.LshBuckets]] takes.
    */
  private[graft] def lshPlanes(dim: Int, nPlanes: Int,
      nTables: Int): Seq[Seq[Seq[Double]]] =
    (0 until nTables).map(t => (0 until nPlanes).map(p => planeVector(t, p, dim)))

  /** (tbl, bucket, ...) rows: one row per vector per LSH table — all
    * tables' buckets computed by ONE [[graft.functions.LshBuckets]]
    * kernel that reads each embedding once (bit-identical to
    * [[lshBucket]] per table), then one posexplode, not one scan per
    * table.
    */
  private def bucketedAll(df: DataFrame, dim: Int, nPlanes: Int,
                          nTables: Int): DataFrame =
    df.select(col("*"),
      posexplode(graft.functions.GraftFunctions.lshBuckets(
        col("embedding"), lshPlanes(dim, nPlanes, nTables))))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")

  /** ANN top-k: candidates restricted to the buckets the query lands in
    * across `nTables` independent tables, then exact cosine rank over
    * the deduplicated candidate set. Same schema as bruteForceTopK
    * (rank is within the probed candidates).
    */
  def lshTopK(vectors: DataFrame, queries: DataFrame, dim: Int,
              nPlanes: Int = 8, k: Int = 10, nTables: Int = 2): DataFrame = {
    val c = bucketedAll(
      vectors.select(col("vec_id").as("cand_id"), col("embedding"),
        norm(col("embedding")).as("c_nrm")),
      dim, nPlanes, nTables)
      .select(col("tbl"), col("bucket"), col("cand_id"),
        col("embedding").as("c_emb"), col("c_nrm"))
    val q = bucketedAll(
      queries.select(col("vec_id").as("query_id"), col("embedding"),
        norm(col("embedding")).as("q_nrm")),
      dim, nPlanes, nTables)
      .select(col("tbl"), col("bucket"), col("query_id"),
        col("embedding").as("q_emb"), col("q_nrm"))
    val scored = c.join(q, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      // a pair co-bucketing in several tables must score once: dedup
      // with ONE shuffle (groupBy carrying the embeddings as first())
      .groupBy(col("query_id"), col("cand_id"))
      .agg(first(col("q_emb")).as("q_emb"), first(col("c_emb")).as("c_emb"),
        first(col("q_nrm")).as("q_nrm"), first(col("c_nrm")).as("c_nrm"))
      .withColumn("sim",
        cosinePre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
    rankTopK(scored, k)
  }

  /** IVF coarse quantizer: `nCentroids` deterministically hash-sampled
    * corpus vectors (xxhash64 order — seedless and executor-stable),
    * refined by `lloydIters` Lloyd iterations (assign to nearest, move
    * centroid to the member mean). One iteration costs one broadcast
    * assignment pass + one (cid, dim)-keyed shuffle of the exploded
    * coordinates — the standard k-means step, distributed.
    */
  def ivfCentroids(vectors: DataFrame, nCentroids: Int,
                   lloydIters: Int = 1): DataFrame = {
    val seeds = vectors.orderBy(xxhash64(col("vec_id")))
      .limit(nCentroids)
      .select(monotonically_increasing_id().as("cid"),
        transform(col("embedding"), _.cast("double")).as("c_emb"))
    (0 until lloydIters).foldLeft(seeds) { (cents, _) =>
      val assigned = ivfAssign(vectors, cents)
      assigned.select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .groupBy(col("cid"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("s"))
        .select(col("cid"), transform(col("s"), x => x.getField("m")).as("c_emb"))
    }
  }

  /** Above this centroid count the argmax expression would embed too
    * large a literal matrix in every task binary (the
    * Clustering.ArgminLiteralMaxCells rationale) — the broadcast
    * crossJoin + native top-1 form stays the scale path there, and it
    * also covers the empty-centroid case (empty result, as the r13
    * window form produced) where the expression's require would throw.
    */
  private val AssignLiteralMaxCentroids = 16384

  /** Assign every vector to its nearest centroid. r14: the argmax is
    * per-row column math against the collected centroid set (bounded —
    * autoCentroids caps at 4096) through the codegen'd
    * [[graft.functions.NearestCentroid]], so the corpus TRULY never
    * shuffles: the former crossJoin + rank-1 window pushed
    * n×nCentroids rows carrying the embedding arrays through an
    * exchange just to keep each row's argmax. Parity with that window
    * (round-6 cosine, NaN-high ordering, cid-asc ties, null → smallest
    * cid) is pinned in the expression and by ShingleMinHashSpec.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    // bounded probe, not an unconditional collect: a caller passing a
    // huge centroid frame must fall back, not OOM the driver
    val sample = centroids.select(col("cid").cast("long"), col("c_emb"))
      .limit(AssignLiteralMaxCentroids + 1).collect()
    if (sample.nonEmpty && sample.length <= AssignLiteralMaxCentroids) {
      val cents = sample
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1)
      val cids = cents.map(_._1).toSeq
      val mat = cents.map(_._2).toSeq
      vectors.select(col("vec_id"), col("embedding"),
        element_at(typedlit(cids),
          graft.functions.GraftFunctions.nearestCentroid(col("embedding"), mat)
            + 1).as("cid"))
    } else {
      // the pre-r14 shape NearestCentroid is parity-pinned against:
      // broadcast crossJoin + round-6 cosinePre + native top-1 (csim
      // desc, cid asc ties) — identical assignments, scale-safe sizing
      val scored = vectors
        .withColumn("e_nrm", norm(col("embedding")))
        .crossJoin(broadcast(centroids
          .select(col("cid").cast("long").as("cid"), col("c_emb"),
            norm(col("c_emb")).as("c_nrm"))))
        .withColumn("csim",
          cosinePre(col("embedding"), col("c_emb"), col("e_nrm"), col("c_nrm")))
      graft.plans.TopK.perKey(scored,
        Seq(col("vec_id")), Seq(col("csim").desc, col("cid").asc), 1)
        .select(col("vec_id"), col("embedding"), col("cid"))
    }
  }

  /** IVF top-k: probe the query's `nProbe` nearest inverted lists, then
    * exact-rank within them. One equi-join shuffle on the list id
    * instead of |Q|×|C| comparisons; recall comes from nProbe.
    * `nCentroids = 0` / `nProbe = 0` derive the dials from the corpus
    * ([[autoCentroids]] / [[autoProbe]] — the `rerankFactor = 0`
    * pattern).
    */
  def ivfTopK(vectors: DataFrame, queries: DataFrame,
              nCentroids: Int = 16, nProbe: Int = 4, k: Int = 10,
              lloydIters: Int = 1): DataFrame = {
    val nc = if (nCentroids > 0) nCentroids else autoCentroids(vectors.count())
    val nPr = if (nProbe > 0) nProbe else autoProbe(nc)
    val centroids = ivfCentroids(vectors, nc, lloydIters).localCheckpoint()
    val assigned = ivfAssign(vectors, centroids)
      .select(col("cid"), col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_nrm"))
    val probeScored = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .crossJoin(broadcast(centroids.withColumn("cc_nrm", norm(col("c_emb")))))
      .withColumn("csim",
        cosinePre(col("q_emb"), col("c_emb"), col("q_nrm"), col("cc_nrm")))
    val probes = graft.plans.TopK.perKey(probeScored,
      Seq(col("query_id")), Seq(col("csim").desc, col("cid").asc), nPr)
      .select(col("cid"), col("query_id"), col("q_emb"), col("q_nrm"))
    val scored = assigned.join(probes, Seq("cid"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim",
        cosinePre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
    rankTopK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, exact
    * all-pairs form: O(n²) comparisons — the oracle/verification
    * baseline ONLY. Production callers use
    * [[cosineNearDupPairsBlocked]].
    */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      norm(col("embedding")).as("na"))
    val b = vectors.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      norm(col("embedding")).as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosinePre(col("e_a"), col("e_b"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-space semantic dedup: blocked cosine near-dup pairs →
    * connected components → canonical (min id) per duplicate cluster.
    * Returns (id, canonical_id) for every vector; `filter(id ===
    * canonical_id)` is the semantically-deduplicated corpus. The same
    * composition as [[graft.dedup.ScaleDedup.nearDupDedup]] with the
    * candidate stage swapped from MinHash to sign-bit LSH — the
    * near-dup primitive an embedding-based training pipeline runs.
    */
  def semanticDedup(
      vectors: DataFrame, dim: Int, threshold: Double,
      nPlanes: Int = 0, nTables: Int = 4,
      driverCcThreshold: Int = 1000000): DataFrame = {
    val pairs = cosineNearDupPairsBlocked(vectors, dim, threshold, nPlanes, nTables)
    graft.dedup.Components.canonical(
      vectors.select(col("vec_id").as("id")), pairs, driverCcThreshold)
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantization codebooks: the embedding space is split into
    * `m` subspaces of dim/m dims; per subspace a `k`-centroid codebook
    * is trained (hash-sampled seeds, Lloyd-refined — the
    * [[ivfCentroids]] recipe applied per subspace in ONE distributed
    * pass over all subspaces, keyed by (vec_id, s)). Returned
    * driver-side: m×k×subDim doubles — a few KB, shipped to executors
    * as expression literals, never joined.
    *
    * A subspace centroid that loses all members in a Lloyd step drops
    * out; code indices are rebuilt from the collected order, so the
    * codebook stays dense (k shrinks for that subspace).
    */
  def pqCodebooks(vectors: DataFrame, dim: Int, m: Int, k: Int,
                  lloydIters: Int = 1, trainCap: Int = 8192): Seq[Seq[Seq[Double]]] = {
    val subDim = dim / m
    // Codebooks train on a BOUNDED deterministic hash-sample (the
    // trainCap lowest xxhash64(vec_id), ties by id — executor-stable):
    // at corpus scale nobody runs Lloyd over every vector, and 8192 =
    // 256 training points per 32-cell codebook, comfortably above the
    // k-means rule of thumb. The full corpus still gets ENCODED — only
    // the iterative training is capped. trainCap = 0 disables.
    //
    // r14 shape: centroids live on the DRIVER between iterations
    // (bounded: m×k cells, the same collect the function ended with
    // anyway), so each Lloyd step is ONE projection through the
    // codegen'd [[graft.functions.PqEncode]] — whose argmin arithmetic
    // is bit-identical to the former broadcast-join + window scoring
    // (norms − 2.0·dot in index order, first-min = cid-asc ties) —
    // plus ONE decimal-mean aggregate and a ≤ m×k×subDim-row collect.
    // The r13 form paid a per-subspace explode (checkpointed), a seed
    // window, and per iteration a broadcast join + ranking window +
    // two aggregation exchanges.
    val train =
      (if (trainCap > 0)
        vectors.orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
          .limit(trainCap)
      else vectors)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("emb"))
        .localCheckpoint()
    // seeds: the k lowest-(hash, id) train vectors — the former
    // per-subspace rank window picked the SAME k vectors for every
    // subspace (its order key is subspace-independent), so one bounded
    // k-row collect replaces it, sliced per subspace driver-side.
    val seedRows = train
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(k).select(col("emb")).collect()
      .map(_.getSeq[Double](0))
    var cur: Seq[Seq[Seq[Double]]] = (0 until m).map(s =>
      seedRows.toSeq.map(_.slice(s * subDim, (s + 1) * subDim)))
    var iter = 0
    while (iter < lloydIters) {
      // decimal-exact means (the Clustering.recompute pattern): a
      // float avg() is partition-order-dependent, and the ulp drift
      // cascades through argmin code assignments into RUN-TO-RUN
      // recall variance (measured pq 86 vs 100 at the same shortlist
      // on the 511k replica before this fix) — codebooks must be a
      // deterministic function of the corpus for the recall floors,
      // the autoRerank knee, and the oracle twins to be meaningful.
      val means = train
        .select(posexplode(
          graft.functions.GraftFunctions.pqEncode(col("emb"), cur))
          .as(Seq("s", "cid")), col("emb"))
        .select(col("s"), col("cid"),
          posexplode(slice(col("emb"), col("s") * subDim + 1, lit(subDim))))
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg(round(sum(col("col")
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast(org.apache.spark.sql.types.DoubleType) /
          count(lit(1)), 6).as("mcoord"))
        .collect()
      // rebuild per subspace: surviving cells in ascending cid order
      // (a centroid that loses all members drops out — dense
      // re-indexing, exactly the former collect-order rebuild)
      cur = (0 until m).map { s =>
        means.filter(_.getInt(0) == s)
          .groupBy(_.getInt(1)).toSeq.sortBy(_._1)
          .map { case (_, rows) =>
            val coords = rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
            require(coords.length == subDim,
              s"pqCodebooks: subspace $s centroid has ${coords.length} " +
                s"coords, expected $subDim")
            coords
          }
      }
      iter += 1
    }
    cur
  }

  /** PQ top-k with ADC (asymmetric distance computation) and exact
    * re-rank. Encoding is pure per-row scan math: per subspace, the
    * code is argmin over |c_j|² − 2⟨sub, c_j⟩ against codebook
    * literals (the ⟨sub,sub⟩ term is constant across j — dropped), so
    * the per-subspace cost equals ONE full-width dot product and the
    * corpus never shuffles or materializes distances. Scoring reads
    * only the m-byte codes: each query precomputes its m×k partial-dot
    * table once, a candidate's approximate cosine is m array lookups
    * against the candidate's reconstruction norm. The scoring pass is
    * a broadcast of the (tiny) query side over the streamed code
    * table — the same declared-baseline shape as [[bruteForceTopK]]
    * but ~dim/m× cheaper per candidate and reading codes, not
    * vectors; the final exact re-rank touches full vectors only for
    * `rerankFactor`·k candidates per query via an equi-join on
    * cand_id.
    */
  def pqTopK(vectors: DataFrame, queries: DataFrame, dim: Int,
             m: Int = 4, kCode: Int = 16, k: Int = 10,
             lloydIters: Int = 1, rerankFactor: Int = 4): DataFrame = {
    val subDim = dim / m
    // cosine-PQ: L2-normalize BEFORE quantization — on the unit sphere
    // cosine is a plain dot product, so the ADC score needs no
    // reconstruction-norm correction (whose quantization error would
    // re-rank candidates), and the codebooks spend their 16 cells per
    // subspace on directions, not magnitudes.
    def normalized(df: DataFrame): DataFrame =
      // r14: one-pass codegen'd normalize — the transform form re-ran
      // the captured norm subtree per element (O(dim²) per vector)
      df.select(col("vec_id"),
        graft.functions.GraftFunctions.l2Normalize(col("embedding"))
          .as("embedding"))
    // pinned: consumed by codebook training AND the encode pass
    val vecsN = normalized(vectors).localCheckpoint()
    val rr = if (rerankFactor > 0) rerankFactor else autoRerank(vecsN.count())
    val cbs = pqCodebooks(vecsN, dim, m, kCode, lloydIters)
    def subv(e: Column, s: Int) = slice(e, s * subDim + 1, subDim)
    def dotLit(sv: Column, c: Seq[Double]) =
      graft.functions.GraftFunctions.dotProduct(sv, typedlit(c))

    // per-row encoding: m codes, each argmin_j |c_j|² − 2⟨sub,c_j⟩ —
    // ONE native expression ([[graft.functions.PqEncode]]); the m×k
    // literal-dot form built a ~1000-node projection that fell out of
    // codegen and evaluated interpreted (~30 s at 20k rows, m16/k32)
    val encoded = vecsN
      .select(col("vec_id").as("cand_id"),
        graft.functions.GraftFunctions.pqEncode(col("embedding"), cbs).as("codes"))

    // per-query ADC tables: m×k partial dots against the codebooks
    val prepped = normalized(queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("tables", array(cbs.indices.map(s =>
        array(cbs(s).indices.map(j => dotLit(subv(col("q_emb"), s), cbs(s)(j))): _*)): _*))
      .select(col("query_id"), col("tables"))

    val approx = encoded.crossJoin(broadcast(prepped))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("approx_sim",
        cbs.indices.map(s => element_at(col("tables")(s), col("codes")(s) + 1))
          .reduceLeft(_ + _))
    val cands = graft.plans.TopK.perKey(approx,
        Seq(col("query_id")), Seq(col("approx_sim").desc, col("cand_id").asc),
        k * rr)
      .select(col("query_id"), col("cand_id"))

    // exact re-rank of the shortlist only
    val scored = cands
      .join(vectors.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_nrm")), "cand_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm"))),
        "query_id")
      .withColumn("sim",
        cosinePre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
    rankTopK(scored, k)
  }

  /** IVF-PQ with residual encoding — the two index families composed
    * the way a production vector index builds them: vectors assign to
    * `nCentroids` inverted lists, the PQ codebooks train on the
    * RESIDUAL x − c(x) (residuals concentrate near the origin, so the
    * same kCode cells quantize far finer than on raw vectors), and a
    * query scores only the codes in its `nProbe` nearest lists:
    * ⟨q,x⟩ = ⟨q,c⟩ + ⟨q,r⟩ ≈ ⟨q,c⟩ + Σ_s ⟨q_s, cb_s[code_s]⟩ — the
    * first term exact per (query, list), the second the ADC table
    * lookup. Unlike flat PQ's broadcast scan over ALL codes, the
    * candidate pass is an EQUI-JOIN on the list id: each query reads
    * ~nProbe/nCentroids of the code table, and the shortlist alone
    * touches full vectors in the exact re-rank.
    */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, dim: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 16, kCode: Int = 32, k: Int = 10,
                lloydIters: Int = 1, rerankFactor: Int = 4): DataFrame = {
    val subDim = dim / m
    def normalized(df: DataFrame): DataFrame =
      // r14: one-pass codegen'd normalize — the transform form re-ran
      // the captured norm subtree per element (O(dim²) per vector)
      df.select(col("vec_id"),
        graft.functions.GraftFunctions.l2Normalize(col("embedding"))
          .as("embedding"))
    val vecsN = normalized(vectors).localCheckpoint()
    // one count (on the pinned frame) feeds every auto dial
    lazy val n = vecsN.count()
    val rr = if (rerankFactor > 0) rerankFactor else autoRerank(n)
    val nc = if (nCentroids > 0) nCentroids else autoCentroids(n)
    val nPr = if (nProbe > 0) nProbe else autoProbe(nc)
    val centroids = ivfCentroids(vecsN, nc, lloydIters).localCheckpoint()
    val assigned = ivfAssign(vecsN, centroids)
    // residual r = x − c(x), per assigned list
    val resid = assigned.join(broadcast(centroids), "cid")
      .select(col("cid"), col("vec_id"),
        zip_with(col("embedding"), col("c_emb"), (x, y) => x - y).as("embedding"))
      .localCheckpoint()
    val cbs = pqCodebooks(
      resid.select(col("vec_id"), col("embedding")), dim, m, kCode, lloydIters)
    def subv(e: Column, s: Int) = slice(e, s * subDim + 1, subDim)
    def dotLit(sv: Column, c: Seq[Double]) =
      graft.functions.GraftFunctions.dotProduct(sv, typedlit(c))
    // per-row residual encoding, same argmin as flat PQ — the native
    // PqEncode expression (see pqTopK for the codegen rationale)
    val encoded = resid
      .select(col("cid"), col("vec_id").as("cand_id"),
        graft.functions.GraftFunctions.pqEncode(col("embedding"), cbs).as("codes"))

    // probe the nProbe nearest lists; ⟨q,c⟩ rides along exactly
    val qN = normalized(queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probeScored = qN.crossJoin(broadcast(centroids))
      .withColumn("qc_dot", dot(col("q_emb"), col("c_emb")))
    // localCheckpoint: the m×k literal-dot `tables` projection is a
    // ~2000-node expression tree — pinned at |queries|·nProbe rows it
    // is trivial, but left lazy the optimizer can collapse it toward
    // the (candidate-scale) join output, where it falls out of codegen
    // and evaluates interpreted per candidate row (the PqEncode
    // failure mode; measured ~10 s of the 21 s ivfpq wall at the 10×
    // replica)
    val probes = graft.plans.TopK.perKey(probeScored,
        Seq(col("query_id")), Seq(col("qc_dot").desc, col("cid").asc), nPr)
      .withColumn("tables", array(cbs.indices.map(s =>
        array(cbs(s).indices.map(j =>
          dotLit(subv(col("q_emb"), s), cbs(s)(j))): _*)): _*))
      .select(col("cid"), col("query_id"), col("qc_dot"), col("tables"))
      .localCheckpoint()

    val approx = encoded.join(probes, Seq("cid"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("approx_sim", col("qc_dot") +
        cbs.indices.map(s => element_at(col("tables")(s), col("codes")(s) + 1))
          .reduceLeft(_ + _))
    val cands = graft.plans.TopK.perKey(approx,
        Seq(col("query_id")), Seq(col("approx_sim").desc, col("cand_id").asc),
        k * rr)
      .select(col("query_id"), col("cand_id"))

    // exact re-rank of the shortlist only
    val scored = cands
      .join(vectors.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_nrm")), "cand_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm"))),
        "query_id")
      .withColumn("sim",
        cosinePre(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")))
    rankTopK(scored, k)
  }

  // ------------------------------------------------ recall-floor oracle

  /** Per-query recall audit of an ANN result against the exact top-k,
    * computed in the SAME query (fixture-scale only: the exact side is
    * the broadcast-NL baseline). `hits` counts ANN rows whose exact
    * cosine reaches the k-th exact similarity — the distance-based
    * recall@k definition, robust to rank ties at the 6-dp rounding.
    */
  def recallAudit(ann: DataFrame, queries: DataFrame, corpus: DataFrame,
                  k: Int): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val exact = bruteForceTopK(queries, corpus, k)
    val exAgg = exact.groupBy(col("query_id")).agg(
      min(when(col("rank") === 1, col("cand_id"))).as("exact_top1"),
      // decimal-exact sum of the 6-dp sims, rounded back to 6 dp — the
      // cross-engine-stable form (DuckDB replays the same cast chain)
      round(sum(col("sim").cast(DecimalType(18, 9))).cast(DoubleType), 6)
        .as("exact_sim_sum"),
      min(col("sim")).as("kth_sim"))
    val hits = ann.select(col("query_id"), col("sim"))
      .join(exAgg.select(col("query_id"), col("kth_sim")), "query_id")
      .filter(col("sim") >= col("kth_sim"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    exAgg.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("exact_top1"), col("exact_sim_sum"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** The oracle-facing form (`a8_distinct_approx` pattern): exact-side
    * columns a DuckDB all-pairs twin recomputes, plus TWO boolean
    * recall floors the twin asserts as literal TRUE. `recall_ok` is
    * per-query (hits ≥ minHits — catches one query cratering);
    * `agg_recall_ok` is corpus-level (sum of hits across ALL queries ≥
    * minTotalHits — catches an index that decays broadly without
    * dipping any single query below its per-query floor). The total is
    * an unpartitioned window over the per-query audit rows — #queries
    * rows, a driver-bounded set by construction, never corpus-sized.
    * A broken ANN index flips a floor false and fails the hash gate.
    */
  def recallChecked(ann: DataFrame, queries: DataFrame, corpus: DataFrame,
                    k: Int, minHits: Int, minTotalHits: Int = 0,
                    maxBelow: Int = 0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    // maxBelow > 0 tolerates a BOUNDED number of queries under minHits
    // (each still needing >= 1 hit) — fixture luck puts one query at
    // exactly 1/5 on some GenFixture seeds, but a broad per-query
    // degradation (many queries at 1 hit) pushes the below-floor count
    // past the bound and flips every such row false. This keeps the
    // per-query guarantee meaningful where a flat minHits=1 would
    // accept 70 queries × 1 hit as long as the aggregate held.
    recallAudit(ann, queries, corpus, k)
      .withColumn("_total", sum(col("hits")).over(w))
      .withColumn("_below",
        sum(when(col("hits") < minHits, 1L).otherwise(0L)).over(w))
      .select(col("query_id"), col("exact_top1"), col("exact_sim_sum"),
        (col("hits") >= minHits ||
          (col("hits") >= 1 && col("_below") <= maxBelow)).as("recall_ok"),
        (col("_total") >= minTotalHits).as("agg_recall_ok"))
  }

  /** Embedding-cosine near-duplicate pairs, blocked: candidates are
    * pairs co-bucketed in ANY of `nTables` independent sign-bit LSH
    * tables (one posexplode pass + one self-equi-join on (tbl,
    * bucket)), verified with exact cosine. No cross join anywhere —
    * cost is bounded by in-bucket pair counts. Recall: a pair at
    * angle θ co-buckets per table with prob (1 − θ/π)^nPlanes and is
    * missed with the nTables-th power of the complement — at the 8×4
    * default that is ~1.6e−6 for cos≈0.9999 pairs but ~0.9% for pairs
    * AT a 0.99 threshold (θ/π ≈ 0.045 → per-table co-bucket ≈ 0.69).
    * The stage is effectively lossless only for pairs well above the
    * threshold; corpora with boundary-pair mass should raise nTables.
    *
    * `nPlanes <= 0` (the default) derives the plane count from the
    * corpus size via [[autoPlanes]] — one extra count() job, which on
    * a parquet-backed corpus is metadata-only and on a derived frame
    * is one cheap pass, either way negligible next to the candidate
    * join it right-sizes. Pass an explicit positive count only for
    * probing/tuning (EmbScaleProbe) — a fixture-tuned constant is how
    * the quadratic cliff happens.
    */
  def cosineNearDupPairsBlocked(
      vectors: DataFrame, dim: Int, threshold: Double,
      nPlanes: Int = 0, nTables: Int = 4): DataFrame = {
    val planes = if (nPlanes > 0) nPlanes else autoPlanes(vectors.count())
    val bucketed = bucketedAll(
      vectors.select(col("vec_id"), col("embedding")), dim, planes, nTables)
      .select(col("tbl"), col("bucket"), col("vec_id"))
    val l = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
    val r = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
    val cands = l.join(r, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val a = vectors.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
      norm(col("embedding")).as("na"))
    val b = vectors.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
      norm(col("embedding")).as("nb"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("sim", cosinePre(col("e_a"), col("e_b"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
