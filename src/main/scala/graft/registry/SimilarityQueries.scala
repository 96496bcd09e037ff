package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.{Clustering, Knn}

/** Similarity-search extension family over `embeddings` (64-dim float
  * vectors). Brute-force cosine top-k and perturbation near-dup pairs
  * carry full DuckDB oracles (list lambdas + identical double math);
  * the LSH path hashes with xxhash64 — rows-only, recall pinned by
  * KnnSpec.
  */
object SimilarityQueries extends QueryRegistry {

  private[graft] def queriesDf(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") < 20)

  def withPerturbed(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    base.unionByName(base.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * 1.0001 + 0.001).as("embedding")))
  }

  /** 1/EmbSampleMod deterministic slice for the `_sampled` scale-twin
    * queries — shared between the Spark predicate and the generated
    * SQL. The all-pairs cosine twins are O(n²) list-dots in DuckDB —
    * fine at fixture scale, intractable at a 10×/100× replica; the
    * hash slice keeps the full LSH→verify→CC chain under a real
    * ground-truth check at any corpus size.
    */
  private[registry] val EmbSampleMod = 16

  /** The adaptive divisor for this corpus (Spark side) — see
    * [[SampleMod]]: 16 at every tier up to 10×, larger at replica
    * scale so the all-pairs twins stay DuckDB-tractable.
    */
  private[registry] def embMod(s: SparkSession, dir: String): Long =
    SampleMod.of(Tables.embeddings(s, dir).count(), EmbSampleMod)

  /** Shared constants for the SemDeDup pair (`emb_semdedup_cluster` /
    * `_sampled`): the Spark calls and the generated twins interpolate
    * the SAME vals, so a parameter change cannot silently diverge the
    * two sides (the dedup_winnow_pairs lesson). The cell count is NOT
    * a constant: both sides derive k = max(2, ceil(n / SemCellTarget))
    * from their own corpus count ([[graft.similarity.Clustering.autoK]]
    * on the Spark side, a `count(*)` CTE in the twin), so the
    * within-cell pair stage stays n × SemCellTarget — linear — at any
    * scale instead of super-linear at a fixture-tuned k.
    */
  private[registry] val SemCellTarget = 256
  private[registry] val SemIters = 2
  private[registry] val SemThreshold = 0.99

  /** [[withPerturbed]] over the xxhash64 slice, perturbed copies
    * planted AFTER sampling so every sampled vec_id % 9 == 0
    * contributes a true near-dup pair at any scale.
    */
  def withPerturbedSampled(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .filter(pmod(xxhash64(col("vec_id")), lit(embMod(s, dir))) === 0)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    base.unionByName(base.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * 1.0001 + 0.001).as("embedding")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_cosine_topk" -> ((s, dir) =>
      Knn.bruteForceTopK(queriesDf(s, dir), Tables.embeddings(s, dir), k = 5)),

    // blocked (multi-table LSH + exact verify) but oracle-checked
    // against the full all-pairs SQL. The plane count is AUTO-derived
    // from the corpus size (Knn.autoPlanes: ceil(log2(n/8)) — 7 at
    // sf0.01, 9 at sf0.1, 15 at the 100× replica), which holds bucket
    // occupancy ~constant so the candidate stage stays linear in n at
    // registry defaults — no manual plane bump at any scale. Candidate
    // recall at cosine c is 1 − (1 − (1 − θ/π)^planes)^nTables with
    // θ = arccos(c): for perturbed-copy pairs at c≈0.9999 the miss is
    // ~1e−6 at 7 planes and still ~2e−5 at 16 planes × 4 tables, but
    // ~0.9% for pairs AT the 0.99 boundary — the stage is lossless
    // only for pairs well above threshold. The full-oracle match holds
    // on this fixture because every true pair is a perturbed copy and
    // random 64-dim pairs concentrate at |cos| ≈ N(0, 1/64) (0.99 is
    // ~8σ — no boundary mass exists). A corpus with boundary-pair mass
    // needs more tables: miss shrinks with the nTables-th power.
    "emb_near_dup" -> ((s, dir) =>
      Knn.cosineNearDupPairsBlocked(withPerturbed(s, dir), dim = 64,
        threshold = 0.99, nTables = 4)),

    // the blocked near-dup chain over the deterministic 1/EmbSampleMod
    // hash slice — the scale-record twin (full all-pairs SQL over the
    // slice stays tractable at any corpus size).
    "emb_near_dup_sampled" -> ((s, dir) =>
      Knn.cosineNearDupPairsBlocked(withPerturbedSampled(s, dir), dim = 64,
        threshold = 0.99, nTables = 4)),

    // The 4 ANN families run under the recall-floor oracle
    // (`Knn.recallChecked`, the a8_distinct_approx pattern): the query
    // emits per query_id the exact top-1 id and decimal-exact top-k
    // sim sum — recomputed by the DuckDB all-pairs twin — plus TWO
    // booleans the twin asserts as literal TRUE: `recall_ok` (this
    // query's ANN hits at the k-th exact similarity ≥ minHits) and
    // `agg_recall_ok` (hits summed over ALL 20 queries ≥ minTotalHits
    // — catches an index that decays broadly without dipping any
    // single query below its per-query floor). Index parameters are
    // fixture-tuned (random 64-dim vectors are near-orthogonal, so
    // neighbor angles are wide — few planes, many tables).
    //
    // Floors are measured minima (tools/RecallProbe) across FOUR
    // fixtures — sf0.01 (500 vecs), sf0.1 (2k), the rotated 10× bench
    // replica and the sign-flip 10× verify replica (20k each):
    // per-query LSH 3/4/4/5, IVF 2/2/3/4, PQ 4/4/2/5, IVF-PQ 2/2/3/4;
    // aggregate LSH 93/97/96/100, IVF 79/79/82/99, PQ 99/93/82/100,
    // IVF-PQ 80/77/76/99. minTotalHits = aggregate minimum − 3, a
    // determinism guard for Lloyd's partition-order float sums (the
    // rotation replica genuinely hardens PQ: its per-query floor is 2).
    // Seed-robustness update: the seed-4242 GenFixture corpus measures
    // aggregate 73 for BOTH ivf and ivfpq at registry params (the four
    // r5-era fixtures never dipped below 76/77) — so those two floors
    // are 73 − 3 = 70. A floor exists to catch a BROKEN index (which
    // craters to single digits), not to pin fixture luck.
    "ann_lsh_topk" -> ((s, dir) => {
      val (emb, q) = (Tables.embeddings(s, dir), queriesDf(s, dir))
      Knn.recallChecked(
        Knn.lshTopK(emb, q, dim = 64, nPlanes = 3, k = 5, nTables = 12),
        q, emb, k = 5, minHits = 3, minTotalHits = 90)
    }),

    // nCentroids/nProbe = 0 → corpus-derived (Knn.autoCentroids /
    // autoProbe, r12): the last pinned ANN dials now scale like
    // autoPlanes and autoRerank do. At every fixture ≤ 2k vectors the
    // rules resolve to exactly the previously pinned (16, 8) — small-
    // tier records are value-identical — and grow as √n past that
    // (raw replica counts: 20k → 50/25, 200k → 159/80, 2.0M →
    // 500/250; the r12 RecallProbe's deepest decade ran its 2,222,223-
    // row fixture — 2.0M raw + the perturbed 1/9 union — where the
    // rule resolves 528/264), so an inverted list stays a bounded
    // join partition instead of n/16 rows.
    "ann_ivf_topk" -> ((s, dir) => {
      val (emb, q) = (Tables.embeddings(s, dir), queriesDf(s, dir))
      Knn.recallChecked(
        Knn.ivfTopK(emb, q, nCentroids = 0, nProbe = 0, k = 5, lloydIters = 1),
        // minHits 2 with maxBelow 2 (r11, was minHits=1 in r10): a
        // fourth fixture seed (GenFixture seed 2) measured one query at
        // exactly 1 hit with a healthy aggregate — fixture luck, not a
        // defect — but flat minHits=1 would also accept a BROAD
        // degradation (many queries at 1 hit). The bounded-outlier form
        // keeps the per-query floor at 2 while tolerating at most 2
        // one-hit outliers; measured below-floor counts across all five
        // fixture seeds are 0–1 (RecallProbe, CHANGELOG r11).
        q, emb, k = 5, minHits = 2, minTotalHits = 70, maxBelow = 2)
    }),

    // PQ/ADC: codes-only candidate scan (m lookups per candidate, the
    // corpus never shuffles) + exact re-rank of the shortlist.
    "ann_pq_topk" -> ((s, dir) => {
      val (emb, q) = (Tables.embeddings(s, dir), queriesDf(s, dir))
      Knn.recallChecked(
        Knn.pqTopK(emb, q, dim = 64, m = 16, kCode = 32, k = 5,
          lloydIters = 2, rerankFactor = 0), // 0 = Knn.autoRerank(n) =
          // max(64, ceil(n/2048)) — 64 at every fixture ≤ 131k
          // vectors, 98 at the 200k replica, 245 at the 500k probe.
          // The r11 rule is sized by a five-decade deterministic
          // sweep; the 64 floor exists because the recall landscape
          // is NOT monotone in n (the 46k replica decade is the
          // measured worst case). See Knn.autoRerank + SCALE_100x.md.
        q, emb, k = 5, minHits = 2, minTotalHits = 79)
    }),

    // IVF-PQ composed: residual-encoded codes bucketed by inverted
    // list — the candidate pass is an equi-join on the list id (each
    // query reads ~nProbe/nCentroids of the code table), unlike flat
    // PQ's broadcast scan over all codes.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val (emb, q) = (Tables.embeddings(s, dir), queriesDf(s, dir))
      Knn.recallChecked(
        Knn.ivfPqTopK(emb, q, dim = 64, nCentroids = 0, nProbe = 0,
          m = 16, kCode = 32, k = 5, lloydIters = 1,
          rerankFactor = 0), // auto — see ann_pq_topk
        // bounded-outlier floor: see ann_ivf_topk
        q, emb, k = 5, minHits = 2, minTotalHits = 70, maxBelow = 2)
    }),

    // Incremental ANN against a FROZEN reference index — the
    // similarity-side sibling of dedup_against_reference: the daily
    // batch probes an IVF index trained on the frozen corpus only. At
    // scale the centroids and the assigned code/list table are
    // write-once artifacts of the reference corpus; per-batch cost
    // tracks the batch (each query reads ~nProbe/nCentroids of the
    // list table through the equi-join), never the corpus. The batch
    // here is the vec_id % 10 == 7, < 200 slice (20 queries); the
    // index never sees it. Floors RecallProbe-measured on sf0.001/
    // 0.01/0.1: per-query min 2/2/2, totals 74/82/73 → 2 and 73−3.
    "ann_incremental_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ref = emb.filter(col("vec_id") % 10 =!= 7)
      val batch = emb.filter(col("vec_id") % 10 === 7 && col("vec_id") < 200)
      Knn.recallChecked(
        Knn.ivfTopK(ref, batch, nCentroids = 0, nProbe = 0, k = 5, lloydIters = 1),
        batch, ref, k = 5, minHits = 2, minTotalHits = 70)
    }),

    // semantic dedup composition: blocked cosine pairs (auto-scaled
    // plane count — see emb_near_dup) -> connected components ->
    // canonical per vector.
    "emb_semantic_dedup" -> ((s, dir) =>
      Knn.semanticDedup(withPerturbed(s, dir), dim = 64, threshold = 0.99,
        nTables = 4)),

    // semantic-dedup scale-record twin over the same hash slice.
    "emb_semantic_dedup_sampled" -> ((s, dir) =>
      Knn.semanticDedup(withPerturbedSampled(s, dir), dim = 64,
        threshold = 0.99, nTables = 4)),

    // SemDeDup (cluster-blocked semantic dedup): k-means cells bound
    // the cosine pair join instead of LSH buckets — the published
    // scale recipe for embedding-space dedup (pair volume n × cell
    // size; the dial is k ∝ corpus / target cell, derived here via
    // autoK from the corpus count — k = 0 — so cell population stays
    // ~SemCellTarget at any scale). Full bit-replay twin: a count(*)
    // CTE derives the SAME k, then the kmeans CTE chain + within-cell
    // pairs + recursive closure, every constant interpolated from the
    // shared vals.
    "emb_semdedup_cluster" -> ((s, dir) =>
      Clustering.semDedup(withPerturbed(s, dir), k = 0, iters = SemIters,
        threshold = SemThreshold, targetCellSize = SemCellTarget)),

    // the same chain over the deterministic hash slice — the
    // scale-record twin (within-cell all-pairs SQL over the slice
    // stays tractable at any corpus size).
    "emb_semdedup_sampled" -> ((s, dir) =>
      Clustering.semDedup(withPerturbedSampled(s, dir), k = 0,
        iters = SemIters, threshold = SemThreshold,
        targetCellSize = SemCellTarget)),

    // Deterministic k-means over the embedding corpus — the topic-
    // bucketing step of a curation pipeline, under a FULL twin (the
    // recall-floor IVF family deliberately is not bit-replayable; this
    // one is: lowest-id seeds, 6-dp-rounded dot-product distances,
    // decimal-exact centroid means — see graft.similarity.Clustering).
    "emb_kmeans_cluster" -> ((s, dir) =>
      Clustering.kmeansAssign(Tables.embeddings(s, dir), k = 8, iters = 2)),

    // Two-level (IVF-style) assignment — the scale path past the flat
    // argmin's n × k wall (autoK at 100M docs ≈ 390k cells): cluster
    // the k centroids into sqrt(k) super-cells, probe nProbe nearest,
    // argmin only over member centroids. Deterministic at ANY probe
    // width (6-dp keys, lowest-id ties at both levels), so the twin
    // replays the full two-level chain bit-for-bit — k = 16 cells,
    // s = 4 super-cells, nProbe = 2 exercises the genuinely
    // approximate regime under a full oracle.
    "emb_kmeans_twolevel" -> ((s, dir) =>
      Clustering.kmeansAssignTwoLevel(Tables.embeddings(s, dir), k = 16,
        iters = 2, nProbe = 2)),

    // the COMPLETE two-level chain (base kmeans → meta kmeans →
    // super-cell probes → member argmin) over the 1/EmbSampleMod hash
    // slice — the scale-record twin: the full twin replays two
    // unrolled kmeans over the whole corpus (~3000 s at 2M vectors);
    // the slice keeps the entire approximate-assignment construction
    // under a tractable full replay at any corpus size.
    "emb_kmeans_twolevel_sampled" -> ((s, dir) =>
      Clustering.kmeansAssignTwoLevel(
        Tables.embeddings(s, dir)
          .filter(pmod(xxhash64(col("vec_id")), lit(embMod(s, dir))) === 0),
        k = 16, iters = 2, nProbe = 2)),

    // per-cluster distance z-scores: the embedding-space outlier gate
    // (mislabeled/degenerate vectors sit far from their cluster mean).
    "emb_cluster_outliers" -> ((s, dir) =>
      Clustering.distanceOutliers(
        Clustering.kmeansAssign(Tables.embeddings(s, dir), k = 8, iters = 2))),

    // per-cluster occupancy: the mixture-balance diagnostic.
    "emb_cluster_balance" -> ((s, dir) =>
      Clustering.clusterBalance(
        Clustering.kmeansAssign(Tables.embeddings(s, dir), k = 8, iters = 2))),

    // cluster-stratified deterministic sample: balanced subset across
    // topic buckets (native per-key top-k on the hash order).
    "emb_cluster_sample" -> ((s, dir) =>
      Clustering.stratifiedSample(
        Clustering.kmeansAssign(Tables.embeddings(s, dir), k = 8, iters = 2),
        perCluster = 3)),

    // chunk → embed → mean-pool: roll per-chunk vectors into one
    // document vector — the embedding-aggregation step between
    // chunking and ANN indexing. Chunk embedding is the deterministic
    // md5-nibble stub (the codec seam); pooling is distributed the
    // scale way: explode to (doc, dim), decimal-exact mean per cell,
    // re-assemble — never a collect_list of whole vectors per doc.
    "emb_chunk_mean_pool" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val cells = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.text.TextAnalysis.chunks(col("text"), 64, 8)).as("ch"))
        .select(col("doc_id"), md5(col("ch.chunk_text").cast("binary")).as("hx"))
        .select(col("doc_id"), posexplode(array((0 until 4).map(i =>
          (ascii(substring(col("hx"), i + 1, 1)) % 16).cast("double") / 15.0 - 0.5): _*)))
      cells.groupBy(col("doc_id"), col("pos"))
        .agg(round(sum(col("col").cast(DecimalType(18, 9))).cast(DoubleType) /
          count(lit(1)), 6).as("m"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("s"))
        .select(col("doc_id") +:
          (0 until 4).map(i => col("s").getItem(i).getField("m").as(s"e$i")): _*)
    }),
  )

  private val dotSql =
    "list_sum(list_transform(list_zip(%s, %s), x -> x[1] * x[2]))"

  private def cosineSql(a: String, b: String): String = {
    val d = dotSql.format(a, b)
    val na = s"sqrt(${dotSql.format(a, a)})"
    val nb = s"sqrt(${dotSql.format(b, b)})"
    s"round($d / ($na * $nb), 6)"
  }

  /** Squared-L2 in the exact operation order the Spark side runs:
    * (|e|² − 2⟨e,c⟩) + |c|², each dot an index-ordered double sum,
    * rounded to 6 dp — the cross-engine assignment key.
    */
  private def d2Sql(e: String, c: String): String =
    s"round(${dotSql.format(e, e)} - 2.0 * ${dotSql.format(e, c)} + " +
      s"${dotSql.format(c, c)}, 6)"

  /** CTE chain replaying [[graft.similarity.Clustering.kmeansAssign]]
    * with `iters` Lloyd iterations unrolled (the PageRank-twin
    * pattern). Emits `v` (cast vectors), `c0..c$iters` (centroids) and
    * `af(vec_id, cid, d2)` — the final assignment.
    */
  private[registry] def kmeansCtes(
      k: Int, iters: Int,
      vSrc: String = "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings")
      : String = kmeansCtesK(k.toString, iters, vSrc)

  /** [[kmeansCtes]] with the cell count as an arbitrary SQL scalar
    * expression (e.g. a scalar subquery over a count CTE) instead of a
    * literal — the seed CTE filters `row_number() <= kExpr` rather
    * than `LIMIT k`, which is the same set for a unique-ordered key.
    * This is what lets the SemDeDup twin derive k from the corpus size
    * exactly like the Spark side's autoK.
    */
  private[registry] def kmeansCtesK(
      kExpr: String, iters: Int,
      vSrc: String = "SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings",
      p: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}v AS ($vSrc),
      |${p}c0 AS (SELECT rn - 1 AS cid, e AS c FROM
      |       (SELECT row_number() OVER (ORDER BY vec_id) AS rn, e FROM ${p}v)
      |       WHERE rn <= ($kExpr)),
      |""".stripMargin
    for (i <- 0 until iters) {
      sb ++= s"""${p}a$i AS (
        |  SELECT vec_id, e, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM (SELECT v.vec_id, v.e, c.cid, ${d2Sql("v.e", "c.c")} AS d2
        |          FROM ${p}v v, ${p}c$i c))
        |  WHERE rn = 1),
        |${p}c${i + 1} AS (
        |  SELECT cid, list(m ORDER BY pos) AS c FROM (
        |    SELECT cid, d.pos,
        |      round(CAST(SUM(CAST(e[d.pos] AS DECIMAL(18,9))) AS DOUBLE)
        |            / COUNT(*), 6) AS m
        |    FROM ${p}a$i, unnest(generate_series(1, len(e))) AS d(pos)
        |    GROUP BY cid, d.pos)
        |  GROUP BY cid),
        |""".stripMargin
    }
    sb ++= s"""${p}af AS (
      |  SELECT vec_id, cid, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM (SELECT v.vec_id, c.cid, ${d2Sql("v.e", "c.c")} AS d2
      |          FROM ${p}v v, ${p}c$iters c))
      |  WHERE rn = 1)""".stripMargin
    sb.toString
  }

  /** Shared DuckDB twin for the 4 recall-checked ANN queries: replay
    * the EXACT side all-pairs (fine at fixture scale), aggregate to
    * the same per-query columns, assert the recall floor as TRUE —
    * identical SQL for all families because the exact side is the
    * same ground truth; only the Spark-side ANN path (and its floor)
    * differs.
    */
  private val annRecallSql: String = s"""
    |WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
    |           FROM embeddings WHERE vec_id < 20),
    |c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings),
    |scored AS (
    |  SELECT query_id, cand_id, ${cosineSql("qe", "ce")} AS sim
    |  FROM c, q WHERE query_id <> cand_id),
    |r AS (SELECT *, row_number() OVER (
    |        PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
    |      FROM scored)
    |SELECT query_id,
    |  MIN(CASE WHEN rank = 1 THEN cand_id END) AS exact_top1,
    |  round(CAST(SUM(CAST(sim AS DECIMAL(18,9))) AS DOUBLE), 6) AS exact_sim_sum,
    |  TRUE AS recall_ok,
    |  TRUE AS agg_recall_ok
    |FROM r WHERE rank <= 5 GROUP BY query_id""".stripMargin

  /** base + perturbed-copy + union CTEs over the FULL embeddings table
    * — the un-sampled sibling of [[sampledBaseCtes]] (the
    * [[withPerturbed]] replay).
    */
  private val fullBaseCtes: String =
    s"""base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |pert AS (SELECT vec_id + 100000 AS vec_id,
      |           list_transform(e, x -> x * 1.0001 + 0.001) AS e
      |         FROM base WHERE vec_id % 9 = 0),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert)""".stripMargin

  /** Twin for [[graft.similarity.Clustering.semDedup]]: replay the
    * kmeans chain over `allv`, score cosine only within a final
    * cluster, close transitively, pick min-id canonicals; singletons
    * map to themselves through the `reach` base case.
    */
  private def semDedupSql(baseCtes: String): String = s"""
    |WITH RECURSIVE $baseCtes,
    |kk AS (SELECT greatest(2, CAST(ceil(COUNT(*) / $SemCellTarget.0) AS BIGINT)) AS k
    |       FROM allv),
    |${kmeansCtesK("SELECT k FROM kk", SemIters, "SELECT vec_id, e FROM allv")},
    |pairs AS (
    |  SELECT aa.vec_id AS id_a, bb.vec_id AS id_b
    |  FROM af aa JOIN af bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
    |  JOIN allv ea ON ea.vec_id = aa.vec_id
    |  JOIN allv eb ON eb.vec_id = bb.vec_id
    |  WHERE ${cosineSql("ea.e", "eb.e")} >= $SemThreshold),
    |edges AS (
    |  SELECT id_a AS a, id_b AS b FROM pairs
    |  UNION
    |  SELECT id_b AS a, id_a AS b FROM pairs),
    |reach(id, r) AS (
    |  SELECT vec_id, vec_id FROM allv
    |  UNION
    |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
    |canon AS (SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id)
    |SELECT c.id, af.cid AS cluster, c.canonical_id,
    |  c.id = c.canonical_id AS is_kept
    |FROM canon c JOIN af ON af.vec_id = c.id""".stripMargin

  /** The two-level assignment tail over a base-kmeans CTE chain
    * (`v`/`c2` from the chain; meta kmeans + probes + member argmin
    * appended) — shared by the full twin and its hash-slice twin, so
    * both replay one spec of the approximate assignment.
    */
  private def twolevelChain(baseCtes: String): String = s"""
    |$baseCtes,
    |${kmeansCtesK(
         "SELECT greatest(2, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM c2",
         2, "SELECT cid AS vec_id, c AS e FROM c2", "m")},
    |members AS (SELECT vec_id AS cid, cid AS mid FROM maf),
    |probes AS (
    |  SELECT vec_id, e, mid FROM (
    |    SELECT v.vec_id, v.e, m.cid AS mid,
    |      row_number() OVER (PARTITION BY v.vec_id
    |        ORDER BY ${d2Sql("v.e", "m.c")}, m.cid) AS rn
    |    FROM v v, mc2 m)
    |  WHERE rn <= 2)
    |SELECT vec_id, cid AS cluster, d2 AS dist2 FROM (
    |  SELECT p.vec_id, mem.cid, ${d2Sql("p.e", "c.c")} AS d2,
    |    row_number() OVER (PARTITION BY p.vec_id
    |      ORDER BY ${d2Sql("p.e", "c.c")}, mem.cid) AS rn
    |  FROM probes p
    |  JOIN members mem ON mem.mid = p.mid
    |  JOIN c2 c ON c.cid = mem.cid)
    |WHERE rn = 1""".stripMargin

  /** CTE chain for the sampled twins: the xxhash64-selected base slice
    * (same longHashCte replay as the Spark predicate) with the same
    * perturbed copies planted after sampling.
    */
  private val sampledBaseCtes: String =
    s"""${SampleMod.modCte("embeddings", EmbSampleMod)},
      |${XxHashOracleSql.longHashCte("vsel", "embeddings", Seq("vec_id", "embedding"),
         "vec_id", "CAST(42 AS UBIGINT)", "h64")},
      |base AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM vsel
      |  WHERE ${SampleMod.slicePredicate("h64")}),
      |pert AS (SELECT vec_id + 100000 AS vec_id,
      |           list_transform(e, x -> x * 1.0001 + 0.001) AS e
      |         FROM base WHERE vec_id % 9 = 0),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert)""".stripMargin

  def oracle: Map[String, String] = Map(
    "emb_semdedup_cluster" -> semDedupSql(fullBaseCtes),
    "emb_semdedup_sampled" -> semDedupSql(sampledBaseCtes),

    "emb_kmeans_cluster" -> s"""
      |WITH ${kmeansCtes(8, 2)}
      |SELECT vec_id, cid AS cluster, d2 AS dist2 FROM af""".stripMargin,

    // full two-level replay: base kmeans (k=16) -> meta kmeans over
    // the final centroids (s=4, the mc* chain, centroid id playing
    // vec_id) -> members (centroid -> super-cell from maf) -> top-2
    // super-cell probes per vector -> argmin over probed members.
    // Same 6-dp d2 chain and lowest-id ties as the Spark side at
    // every level, so the approximate assignment matches exactly.
    "emb_kmeans_twolevel" -> s"WITH ${twolevelChain(kmeansCtes(16, 2))}",

    // the same chain with the base kmeans fed by the 1/EmbSampleMod
    // XXH64 vec slice — the scale-record twin of the full form.
    "emb_kmeans_twolevel_sampled" -> s"""
      |WITH RECURSIVE ${SampleMod.modCte("embeddings", EmbSampleMod)},
      |${XxHashOracleSql.longHashCte("vsel", "embeddings",
           Seq("vec_id", "embedding"), "vec_id", "CAST(42 AS UBIGINT)", "h64")},
      |${twolevelChain(kmeansCtes(16, 2,
           vSrc = "SELECT vec_id, embedding::DOUBLE[] AS e FROM vsel " +
             s"WHERE ${SampleMod.slicePredicate("h64")}"))}""".stripMargin,

    // same math as Clustering.distanceOutliers: decimal-exact Σd² and
    // Σd⁴ (6-dp d² ⇒ both sums exact), variance arithmetic in double
    // on identical inputs, z rounded to 6 dp, singletons never flag.
    "emb_cluster_outliers" -> s"""
      |WITH ${kmeansCtes(8, 2)},
      |stats AS (
      |  SELECT cid, COUNT(*) AS n,
      |    CAST(SUM(CAST(d2 AS DECIMAL(18,9))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(d2 AS DECIMAL(18,9)) * CAST(d2 AS DECIMAL(18,9)))
      |         AS DOUBLE) AS s2
      |  FROM af GROUP BY cid),
      |st AS (
      |  SELECT cid, mean_d,
      |    sqrt(greatest(s2 / n - mean_d * mean_d, 0.0)) AS std_d
      |  FROM (SELECT cid, n, s2, s1 / n AS mean_d FROM stats)),
      |z AS (
      |  SELECT af.vec_id, af.cid, af.d2,
      |    CASE WHEN st.std_d > 0
      |         THEN round((af.d2 - st.mean_d) / st.std_d, 6)
      |         ELSE 0.0 END AS z
      |  FROM af JOIN st ON st.cid = af.cid)
      |SELECT vec_id, cid AS cluster, d2 AS dist2, z, abs(z) > 2.0 AS is_outlier
      |FROM z""".stripMargin,

    // share via the half-up scaled-integer idiom, replaying the Spark
    // side exactly — round(double, 6) disagreed between engines at a
    // 5e-7 tie the 2M-vector replica landed on (see clusterBalance).
    "emb_cluster_balance" -> s"""
      |WITH ${kmeansCtes(8, 2)}
      |SELECT cid AS cluster, COUNT(*) AS n,
      |  CAST((2 * CAST(COUNT(*) AS HUGEINT) * 1000000
      |        + SUM(COUNT(*)) OVER ())
      |       // (2 * SUM(COUNT(*)) OVER ()) AS DOUBLE) / 1000000 AS share
      |FROM af GROUP BY cid""".stripMargin,

    // Spark orders by signed xxhash64(vec_id) — longHashCte emits the
    // identical signed BIGINT, so the per-cluster ranks line up.
    "emb_cluster_sample" -> s"""
      |WITH ${kmeansCtes(8, 2)},
      |${XxHashOracleSql.longHashCte("kh", "af", Seq("cid", "vec_id"),
         "vec_id", "CAST(42 AS UBIGINT)", "h64")}
      |SELECT cid AS cluster, vec_id, rank FROM (
      |  SELECT cid, vec_id,
      |    row_number() OVER (PARTITION BY cid ORDER BY h64, vec_id) AS rank
      |  FROM kh)
      |WHERE rank <= 3""".stripMargin,

    "ann_lsh_topk" -> annRecallSql,
    "ann_ivf_topk" -> annRecallSql,
    "ann_pq_topk" -> annRecallSql,
    "ann_ivfpq_topk" -> annRecallSql,

    // same ground-truth shape, restricted to the batch/reference
    // split: queries are the held-out batch, candidates the frozen
    // reference corpus the index was built on.
    "ann_incremental_topk" -> s"""
      |WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id % 10 = 7 AND vec_id < 200),
      |c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce
      |      FROM embeddings WHERE vec_id % 10 <> 7),
      |scored AS (
      |  SELECT query_id, cand_id, ${cosineSql("qe", "ce")} AS sim
      |  FROM c, q WHERE query_id <> cand_id),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      |      FROM scored)
      |SELECT query_id,
      |  MIN(CASE WHEN rank = 1 THEN cand_id END) AS exact_top1,
      |  round(CAST(SUM(CAST(sim AS DECIMAL(18,9))) AS DOUBLE), 6) AS exact_sim_sum,
      |  TRUE AS recall_ok,
      |  TRUE AS agg_recall_ok
      |FROM r WHERE rank <= 5 GROUP BY query_id""".stripMargin,

    "emb_cosine_topk" -> s"""
      |WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings),
      |scored AS (
      |  SELECT query_id, cand_id, ${cosineSql("qe", "ce")} AS sim
      |  FROM c, q WHERE query_id <> cand_id),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
      |      FROM scored)
      |SELECT query_id, cand_id, sim, rank FROM r WHERE rank <= 5""".stripMargin,

    "emb_near_dup" -> s"""
      |WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |pert AS (SELECT vec_id + 100000 AS vec_id,
      |           list_transform(e, x -> x * 1.0001 + 0.001) AS e
      |         FROM base WHERE vec_id % 9 = 0),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ${cosineSql("a.e", "b.e")} AS sim
      |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      |WHERE ${cosineSql("a.e", "b.e")} >= 0.99""".stripMargin,

    "emb_near_dup_sampled" -> s"""
      |WITH $sampledBaseCtes
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ${cosineSql("a.e", "b.e")} AS sim
      |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      |WHERE ${cosineSql("a.e", "b.e")} >= 0.99""".stripMargin,

    // transitive closure over the sampled >= 0.99 pairs, singletons
    // map to themselves — the emb_semantic_dedup twin on the slice.
    "emb_semantic_dedup_sampled" -> s"""
      |WITH RECURSIVE $sampledBaseCtes,
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      |  WHERE ${cosineSql("a.e", "b.e")} >= 0.99),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION
      |  SELECT id_b AS a, id_a AS b FROM pairs),
      |reach(id, r) AS (
      |  SELECT vec_id, vec_id FROM allv
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
      |SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id""".stripMargin,

    "emb_chunk_mean_pool" -> """
      |WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, t,
      |    greatest(CAST(ceil((len(t) - 8) / 56.0) AS INT), 1) AS nchunks
      |  FROM tok),
      |ch AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_slice(t, i * 56 + 1, i * 56 + 64), ' ')) AS hx
      |  FROM n, unnest(generate_series(0, nchunks - 1)) AS u(i)),
      |cells AS (
      |  SELECT doc_id, d.pos,
      |    (ascii(substr(hx, d.pos + 1, 1)) % 16) / 15.0 - 0.5 AS v
      |  FROM ch, (SELECT unnest(generate_series(0, 3)) AS pos) d),
      |m AS (
      |  SELECT doc_id, pos,
      |    round(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS m
      |  FROM cells GROUP BY 1, 2)
      |SELECT doc_id,
      |  MAX(CASE WHEN pos = 0 THEN m END) AS e0,
      |  MAX(CASE WHEN pos = 1 THEN m END) AS e1,
      |  MAX(CASE WHEN pos = 2 THEN m END) AS e2,
      |  MAX(CASE WHEN pos = 3 THEN m END) AS e3
      |FROM m GROUP BY doc_id""".stripMargin,

    // transitive closure over the >= 0.99 cosine pairs; canonical =
    // numeric min per component, singletons map to themselves.
    "emb_semantic_dedup" -> s"""
      |WITH RECURSIVE base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |pert AS (SELECT vec_id + 100000 AS vec_id,
      |           list_transform(e, x -> x * 1.0001 + 0.001) AS e
      |         FROM base WHERE vec_id % 9 = 0),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      |  WHERE ${cosineSql("a.e", "b.e")} >= 0.99),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION
      |  SELECT id_b AS a, id_a AS b FROM pairs),
      |reach(id, r) AS (
      |  SELECT vec_id, vec_id FROM allv
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
      |SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id""".stripMargin,
  )
}
