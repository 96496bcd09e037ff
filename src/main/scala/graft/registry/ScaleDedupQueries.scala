package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.ScaleDedup

/** Scale-dedup extension family over `documents`, with engineered
  * duplicates so results are non-trivially non-empty: exact copies
  * (doc_id % 5) and near-dup copies with three appended tokens
  * (doc_id % 7), both at doc_id + 100000.
  *
  * `dedup_exact`, `dedup_ngram_jaccard[_capped]` and
  * `dedup_corpus_composed` carry full DuckDB oracles — the composed
  * oracle replays LSH→verify→CC as exact-Jaccard pairs + a recursive
  * transitive closure, valid because k=64/bands=32 makes the candidate
  * stage lossless above the 0.6 threshold (miss odds < 1e-6 per pair).
  * `dedup_minhash` and `dedup_simhash` ALSO carry full oracles:
  * DuckDB has no xxhash64, so XxHashOracleSql replays Spark's XXH64
  * bit-for-bit (signature slots, band hashes, token votes) — the
  * band-bucket pair set and hamming pair set hash-match exactly;
  * ScaleDedupSpec additionally pins their recall against the exact
  * Jaccard pairs.
  */
object ScaleDedupQueries extends QueryRegistry {

  /** dedup_winnow_pairs parameters — one set of vals interpolated into
    * BOTH the registry call and the generated DuckDB twin (the
    * kmeansCtes pattern), so a parameter change cannot silently
    * diverge the two sides.
    */
  private val WinnowN = 3
  private val WinnowW = 4
  private val WinnowMinShared = 5L
  private val WinnowMaxDocFreq = 1000L

  /** dedup_minhash_autoband parameters — [[ScaleDedup.bandPlan]] made
    * executable in the registered surface. The banding is DERIVED
    * ((bands, k) = bandPlan(t, ε, rows) at rows = 3, the next rung up
    * from the shipped rows=2/(32, 64) ladder: (57 bands, k = 171)),
    * and the DuckDB twin is the EXACT ≥-t Jaccard pair set at the same
    * interpolated threshold — so the oracle passing is the proof that
    * the sizing rule produces a lossless-above-threshold pipeline, not
    * just a spec-pinned formula. Shared vals, the Winnow pattern: one
    * constant feeds both sides.
    */
  private[registry] val AutoBandT = 0.6
  private[registry] val AutoBandEps = 1e-6
  private[registry] val AutoBandRows = 3

  /** Minimum slice divisor for the `_sampled` scale-twin queries — the
    * effective divisor is scale-adaptive ([[SampleMod.of]] over the
    * documents row count; 8 at every tier up to 10×, larger at replica
    * scale so the twins stay DuckDB-tractable). Shared between the
    * Spark predicate and the generated SQL (and with TextQueries'
    * sampled winnow twin).
    */
  private[registry] val DocSampleMod = 8

  /** The adaptive divisor for this corpus (Spark side). */
  private[registry] def docMod(s: SparkSession, dir: String): Long =
    SampleMod.of(Tables.documents(s, dir).count(), DocSampleMod)

  private def withExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** The near-dup fixture over the deterministic 1/[[DocSampleMod]]
    * xxhash64 slice of the base corpus, duplicates planted AFTER
    * sampling so every sampled doc_id % 7 == 0 contributes a pair at
    * any scale (sampling before planting would keep each side of a
    * pair independently — 1/mod² pair survival).
    */
  def withNearDupsSampled(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .filter(pmod(xxhash64(col("doc_id")), lit(docMod(s, dir))) === 0)
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz9 yy8 xx7")).as("text")))
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** The RAW 1/[[DocSampleMod]] hash slice of the corpus (no planted
    * copies) — the input for sampled scale twins whose full form reads
    * `documents` directly (langid/quality/repetition/stats/chunk/
    * overlap). The slice is the complete chain's input, so the twin
    * replays the ENTIRE operator over it; only corpus coverage shrinks.
    */
  private[registry] def docsSliced(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(pmod(xxhash64(col("doc_id")), lit(docMod(s, dir))) === 0)

  def withNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz9 yy8 xx7")).as("text")))
      // single-row-group local parquet -> 1 scan task; the shingle
      // explode + tokenize downstream is CPU-bound, so spread it first.
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** Intra-doc repetition fixture: every 5th doc (with ≥ 12 tokens)
    * gets its own first 12 tokens appended TWICE — two full repeat
    * occurrences of a 12-token run inside ONE document, exercising
    * multi-occurrence islands in [[ScaleDedup.scrubRepeats]]. The
    * rebuild goes through the same lowercased tokenization the scrub
    * operates in, so both sides window identically; the SQL twin
    * replays the identical construction.
    */
  def withRepeats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val tk = graft.text.TextAnalysis.tokens(col("text"))
    d.select(col("doc_id"),
        when(col("doc_id") % 5 === 0 && size(tk) >= 12,
          array_join(concat(tk, slice(tk, 1, 12), slice(tk, 1, 12)), " "))
          .otherwise(col("text")).as("text"))
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** [[withSubsets]] over the deterministic 1/[[DocSampleMod]] hash
    * slice — subsets planted AFTER sampling (the withNearDupsSampled
    * argument: sampling first keeps every planted pair intact at any
    * scale; planting first would survive only 1/mod² of them). The
    * offset is max(doc_id)+1 over the SLICE, replayed by the twin.
    */
  def withSubsetsSampled(s: SparkSession, dir: String): DataFrame =
    subsetsOver(s, Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(pmod(xxhash64(col("doc_id")), lit(docMod(s, dir))) === 0))

  /** Subset-duplicate fixture: every 11th doc gains a prefix-half copy
    * at doc_id + offset — containment 1.0 into its source (every
    * shingle of the prefix is in the original) while Jaccard ≈ 0.5,
    * invisible to the symmetric dedup families. The offset is derived
    * as max(doc_id) + 1 (NOT a constant): a grown fixture can never
    * alias a copy onto a real doc_id, and the SQL twin derives the
    * same offset, so the construction stays replayable at any scale.
    * Shared by the full and sampled forms via [[subsetsOver]].
    */
  def withSubsets(s: SparkSession, dir: String): DataFrame =
    subsetsOver(s, Tables.documents(s, dir).select(col("doc_id"), col("text")))

  private def subsetsOver(s: SparkSession, d: DataFrame): DataFrame = {
    // offset computed INSIDE the plan (broadcast cross join on the
    // 1-row max) — building the closure stays lazy (no eager driver
    // job per bench trial / plan dump), and an empty fixture yields an
    // empty copy side instead of a driver NPE.
    val off = d.agg((max(col("doc_id")) + 1L).as("_off"))
    val tk = graft.text.TextAnalysis.tokens(col("text"))
    d.unionByName(d.filter(col("doc_id") % 11 === 0)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("_off")).as("doc_id"),
        array_join(slice(tk, lit(1), ceil(size(tk) / lit(2.0)).cast("int")), " ")
          .as("text")))
      .repartition(s.sparkContext.defaultParallelism)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      ScaleDedup.exact(withExactDups(s, dir), "doc_id", "text")),

    // asymmetric containment — the subset-duplicate detector.
    "dedup_containment" -> ((s, dir) =>
      ScaleDedup.containmentPairs(withSubsets(s, dir), "doc_id", "text",
        n = 3, threshold = 0.9, maxDocFreq = 64)),

    // the COMPLETE containment chain over the 1/DocSampleMod hash
    // slice (subsets planted after sampling) — the scale-record twin:
    // the full twin's pairwise shingle join over the whole corpus is
    // oracle-side intractable at replica scale, the slice keeps the
    // entire shingle→freq-cap→intersect→direct construction under a
    // tractable full replay at any corpus size.
    "dedup_containment_sampled" -> ((s, dir) =>
      ScaleDedup.containmentPairs(withSubsetsSampled(s, dir), "doc_id",
        "text", n = 3, threshold = 0.9, maxDocFreq = 64)),

    // cross-source leakage matrix over the raw corpus.
    "source_overlap" -> ((s, dir) =>
      ScaleDedup.sourceOverlap(
        Tables.documents(s, dir).select(col("source"), col("text")),
        "source", "text")),

    // the overlap matrix over the 1/DocSampleMod hash slice — the
    // scale-record twin (the full twin's shared-shingle mass is the
    // measured 1000x cost center: ~956M shingle pairs at 5.7M docs).
    // Slicing docs shrinks the mass ~mod²; sources and the complete
    // shingle→intersect→containment chain stay intact.
    "source_overlap_sampled" -> ((s, dir) =>
      ScaleDedup.sourceOverlap(
        docsSliced(s, dir).select(col("source"), col("text")),
        "source", "text")),

    // source authority: fixed-iteration PageRank over the directed
    // source-overlap graph (edge a→b weighted by shared distinct
    // shingles) — which sources are HUBS of duplicated content versus
    // originators. Scaled-integer arithmetic end to end, so the
    // unrolled DuckDB twin matches hash-for-hash; every per-iteration
    // frame is node/edge-sized (#sources ~ 20), never corpus-sized.
    "corpus_source_authority" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("source"), col("text"))
      val nodes = docs.select(col("source").as("id")).distinct()
      val edges = ScaleDedup.sourceOverlap(docs, "source", "text")
        .select(col("src_a").as("src"), col("src_b").as("dst"),
          col("n_shared").as("w"))
      graft.operators.PageRank.ranks(nodes, edges, iters = 5)
        .select(col("id").as("source"), col("authority"))
    }),

    // authority scale twin over the 1/DocSampleMod hash slice: the
    // full twin's source-overlap edge CTE (shingle self-join over the
    // whole corpus) spills DuckDB past available disk at replica
    // scale; the sliced chain keeps the COMPLETE PageRank replay
    // (edges -> 5 unrolled scaled-integer iterations) tractable at
    // any corpus size.
    "corpus_source_authority_sampled" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(pmod(xxhash64(col("doc_id")), lit(docMod(s, dir))) === 0)
        .select(col("source"), col("text"))
      val nodes = docs.select(col("source").as("id")).distinct()
      val edges = ScaleDedup.sourceOverlap(docs, "source", "text")
        .select(col("src_a").as("src"), col("src_b").as("dst"),
          col("n_shared").as("w"))
      graft.operators.PageRank.ranks(nodes, edges, iters = 5)
        .select(col("id").as("source"), col("authority"))
    }),

    // exact-threshold Jaccard pairs — since r11 computed via the
    // LOSSLESS prefix filter (identical output to the uncapped
    // all-pairs form, proven at every tier; 75 s over 571k docs at
    // 100× where the uncapped self-join cannot run). The uncapped
    // form survives as the non-registered oracle helper
    // `ScaleDedup.ngramJaccardPairs(maxDocFreq = 0)` (specs assert
    // prefix == uncapped) and still runs over the hash slice in
    // `dedup_ngram_jaccard_sampled` below.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      ScaleDedup.ngramJaccardPairsPrefix(withNearDups(s, dir), "doc_id",
        "text", n = 3, threshold = 0.5)),

    // the baseline over the 1/DocSampleMod hash slice — gives even the
    // uncapped form a tractable full twin at replica scale (the full
    // twin IS the uncapped shingle self-join).
    "dedup_ngram_jaccard_sampled" -> ((s, dir) =>
      ScaleDedup.ngramJaccardPairs(withNearDupsSampled(s, dir), "doc_id",
        "text", n = 3, threshold = 0.5, maxDocFreq = 0)),

    // EXACT-threshold pairs at corpus scale, losslessly: prefix
    // filtering (df-ascending global order, per-doc prefix of
    // |d| − ceil(t·|d|) + 1 shingles) bounds candidates without the
    // cap's semantic loss — the scale path when the answer must be
    // exactly the uncapped pair set. Twin: the SAME exact-Jaccard SQL
    // as dedup_ngram_jaccard (the filter is provably lossless, so the
    // outputs are identical).
    "dedup_ngram_jaccard_prefix" -> ((s, dir) =>
      ScaleDedup.ngramJaccardPairsPrefix(withNearDups(s, dir), "doc_id",
        "text", n = 3, threshold = 0.5)),

    // prefix form over the hash slice — proves prefix == exact against
    // the independent DuckDB replay at every tier including 100×.
    "dedup_ngram_jaccard_prefix_sampled" -> ((s, dir) =>
      ScaleDedup.ngramJaccardPairsPrefix(withNearDupsSampled(s, dir),
        "doc_id", "text", n = 3, threshold = 0.5)),

    // hot-shingle cap at 64 docs: drops the engineered stop-shingle
    // (715 docs at sf0.1 → 255k pair expansions from ONE group row)
    // before the quadratic expansion; the oracle applies the same
    // document-frequency predicate.
    "dedup_ngram_jaccard_capped" -> ((s, dir) =>
      ScaleDedup.ngramJaccardPairs(withNearDups(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 64)),

    "dedup_minhash" -> ((s, dir) =>
      ScaleDedup.minhashCandidates(withNearDups(s, dir), "doc_id", "text")),

    // the full banded-minhash chain over the deterministic
    // 1/DocSampleMod hash slice: the scale-record twin. At replica
    // scale the full-corpus XXH64 replay is oracle-side intractable;
    // this runs the COMPLETE chain over a slice DuckDB replays at any
    // corpus size, so the 10× record carries a real hash check for the
    // minhash family instead of a documented exclusion.
    "dedup_minhash_sampled" -> ((s, dir) =>
      ScaleDedup.minhashCandidates(withNearDupsSampled(s, dir), "doc_id", "text")),

    // bandPlan-derived banding, end to end: candidates from the
    // (bands, k) the sizing rule computes for (AutoBandT, AutoBandEps,
    // rows=3), exact verify at the same threshold. Twin = the exact
    // Jaccard pair SQL — any candidate the derived banding misses is a
    // row diff.
    "dedup_minhash_autoband" -> ((s, dir) =>
      ScaleDedup.nearDupPairsPlanned(withNearDups(s, dir), "doc_id", "text",
        n = 3, threshold = AutoBandT, missBound = AutoBandEps,
        rows = AutoBandRows)),

    // the derived-banding chain over the 1/DocSampleMod hash slice —
    // the scale-record twin (the full exact-Jaccard replay is
    // oracle-side intractable at replica scale; the slice keeps the
    // COMPLETE planned-banding chain under a tractable full twin at
    // any corpus size, the dedup_minhash_sampled pattern).
    "dedup_minhash_autoband_sampled" -> ((s, dir) =>
      ScaleDedup.nearDupPairsPlanned(withNearDupsSampled(s, dir), "doc_id",
        "text", n = 3, threshold = AutoBandT, missBound = AutoBandEps,
        rows = AutoBandRows)),

    // the rows RUNG derived too (bandPlanAuto: argmin of signature +
    // expected-false-candidate cost over the satisfiable ladder, a
    // function of the corpus count) — zero banding dials. Every rung
    // the rule can pick is lossless above AutoBandT up to AutoBandEps,
    // so the twin stays the SAME exact-Jaccard pair set: the oracle
    // passing proves the auto-chosen rung loses nothing, at whatever
    // rung the tier resolves (571 docs → rows 2, 57k → 3, 571k+ → 4).
    // nDocs passed from the base-table count (+1/7 planted copies):
    // the fixture frame is a transformed union, so letting
    // nearDupPairsAuto count it would re-execute that lineage once at
    // corpus scale just to pick a rung that needs only the order of
    // magnitude (every satisfiable rung is lossless — see bandPlanAuto).
    "dedup_minhash_bandauto" -> ((s, dir) =>
      ScaleDedup.nearDupPairsAuto(withNearDups(s, dir), "doc_id", "text",
        n = 3, threshold = AutoBandT, missBound = AutoBandEps,
        nDocs = {
          val base = Tables.documents(s, dir).count()
          base + base / 7
        })),

    // the derived-rung chain over the 1/DocSampleMod hash slice — the
    // scale-record twin (rung resolved from the SLICE count, so the
    // complete auto chain stays under a tractable full twin at any
    // corpus size).
    // slice count estimated as base/mod (+1/7 planted) — the rung
    // needs order of magnitude only, and the base count was already
    // paid by docMod.
    "dedup_minhash_bandauto_sampled" -> ((s, dir) =>
      ScaleDedup.nearDupPairsAuto(withNearDupsSampled(s, dir), "doc_id",
        "text", n = 3, threshold = AutoBandT, missBound = AutoBandEps,
        nDocs = {
          val slice = math.max(1L,
            Tables.documents(s, dir).count() / docMod(s, dir))
          slice + slice / 7
        })),

    // substring-level dedup: maximal >=10-token runs shared verbatim
    // across docs (boilerplate/quote blocks that survive doc-level
    // Jaccard because the host docs differ). Spark detects duplicate
    // windows by xxhash64; the twin joins on the window STRING, so a
    // hash collision surfaces as a parity failure, never silently.
    "corpus_substring_spans" -> ((s, dir) =>
      ScaleDedup.duplicatedSpans(withNearDups(s, dir), "doc_id", "text",
        minTokens = 10)),

    // span-detection scale twin over the hash slice: the full twin
    // GROUPs 10-token window STRINGS over the whole corpus (tens of GB
    // of spill at the 100x replica); the sliced chain keeps the
    // complete window→dup-group→island construction tractable at any
    // corpus size.
    "corpus_substring_spans_sampled" -> ((s, dir) =>
      ScaleDedup.duplicatedSpans(withNearDupsSampled(s, dir), "doc_id",
        "text", minTokens = 10)),

    // the excision consumer of the detection above: every doc comes
    // back token-rebuilt with its duplicated spans removed, except the
    // first-occurrence owner (min doc_id per duplicated window), which
    // keeps them — all-but-first-occurrence substring dedup.
    "corpus_scrub_spans" -> ((s, dir) =>
      ScaleDedup.scrubSpans(withNearDups(s, dir), "doc_id", "text",
        minTokens = 10)),

    // intra-doc boilerplate excision: repeated >=10-token runs WITHIN
    // one document (nav blocks, template runs) dropped after their
    // first occurrence — the within-doc complement of the cross-doc
    // scrub above, on a fixture whose every 5th doc carries its own
    // 12-token prefix appended twice.
    "corpus_scrub_repeats" -> ((s, dir) =>
      ScaleDedup.scrubRepeats(withRepeats(s, dir), "doc_id", "text",
        minTokens = 10)),

    "dedup_simhash" -> ((s, dir) =>
      ScaleDedup.simhashPairs(
        ScaleDedup.simhash(withNearDups(s, dir), "doc_id", "text"),
        maxHamming = 3)),

    // simhash scale-record twin over the same hash slice (see
    // dedup_minhash_sampled).
    "dedup_simhash_sampled" -> ((s, dir) =>
      ScaleDedup.simhashPairs(
        ScaleDedup.simhash(withNearDupsSampled(s, dir), "doc_id", "text"),
        maxHamming = 3)),

    // the md5-hash simhash twin under a FULL oracle (bit-exact
    // cross-engine fingerprints) — pins the bit-vote semantics the
    // xxhash64 scale form implements.
    "dedup_simhash_md5" -> ((s, dir) =>
      ScaleDedup.simhashMd5Bits(withNearDups(s, dir), "doc_id", "text")),

    // the flagship composition: LSH candidates -> candidate-bounded
    // Jaccard verify -> connected components -> canonical id per doc.
    "dedup_corpus_composed" -> ((s, dir) =>
      ScaleDedup.nearDupDedup(withNearDups(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6)),

    // the SAME composition forced through the distributed
    // large-star/small-star CC path (driverCcThreshold = 0) — the
    // shape that runs when the duplicate graph outgrows the driver
    // bound at 100 TB. Identical oracle to the composed form: the CC
    // algorithm must be invisible in the answer.
    "dedup_cc_distributed" -> ((s, dir) =>
      ScaleDedup.nearDupDedup(withNearDups(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6, driverCcThreshold = 0)),

    // scale-record twins for the composed / forced-distributed-CC
    // forms over the 1/DocSampleMod hash slice (see
    // dedup_minhash_sampled): the full twins' exact-Jaccard pair CTE
    // is the uncapped shingle self-join — oracle-side intractable at
    // replica scale — so the 100× record grades these via the COMPLETE
    // chain (LSH → verify → CC) on a slice DuckDB replays at any size.
    "dedup_corpus_composed_sampled" -> ((s, dir) =>
      ScaleDedup.nearDupDedup(withNearDupsSampled(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6)),

    "dedup_cc_distributed_sampled" -> ((s, dir) =>
      ScaleDedup.nearDupDedup(withNearDupsSampled(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6, driverCcThreshold = 0)),

    // incremental screen: the near-dup forks (doc_id >= 100000 in the
    // withNearDups fixture) play the NEW batch, the originals the
    // frozen reference corpus — the asymmetric band join must find
    // every cross near-dup without any new×new / ref×ref work. The
    // exact-Jaccard twin's pair set is restricted to cross pairs.
    "dedup_against_reference" -> ((s, dir) => {
      val all = withNearDups(s, dir)
      ScaleDedup.dedupAgainstReference(
          all.filter(col("doc_id") >= 100000),
          all.filter(col("doc_id") < 100000),
          "doc_id", "text", n = 3, threshold = 0.6)
        .select(col("id_ref").as("id_a"), col("id_new").as("id_b"),
          col("jaccard"))
    }),

    // asymmetric-screen scale twin over the hash slice: same complete
    // new×ref band-join chain, tractable full replay at any scale.
    "dedup_against_reference_sampled" -> ((s, dir) => {
      val all = withNearDupsSampled(s, dir)
      ScaleDedup.dedupAgainstReference(
          all.filter(col("doc_id") >= 100000),
          all.filter(col("doc_id") < 100000),
          "doc_id", "text", n = 3, threshold = 0.6)
        .select(col("id_ref").as("id_a"), col("id_new").as("id_b"),
          col("jaccard"))
    }),

    // the whole training-corpus prep chain: quality/language gate ->
    // exact dedup -> near-dup dedup -> surviving doc ids.
    "corpus_prep" -> ((s, dir) =>
      ScaleDedup.prepareCorpus(withNearDups(s, dir), "doc_id", "text",
        minQuality = 0.5, lang = "en", n = 3, threshold = 0.6)),

    // prep-chain scale twin over the hash slice (same rationale as the
    // composed sampled form above).
    "corpus_prep_sampled" -> ((s, dir) =>
      ScaleDedup.prepareCorpus(withNearDupsSampled(s, dir), "doc_id", "text",
        minQuality = 0.5, lang = "en", n = 3, threshold = 0.6)),

    // MOSS-style winnow-fingerprint overlap pairs: how much VERBATIM
    // material two docs share (each shared fingerprint witnesses a
    // shared >= n+w-1-token run) — the plagiarism-detection complement
    // of the Jaccard set-similarity pairs, on an index ~2/(w+1) the
    // size of the full shingle index.
    "dedup_winnow_pairs" -> ((s, dir) =>
      ScaleDedup.winnowPairs(withNearDups(s, dir), "doc_id", "text",
        n = WinnowN, w = WinnowW, minShared = WinnowMinShared,
        maxDocFreq = WinnowMaxDocFreq)),

    // eval-set decontamination: an eval doc (id % 10 == 0) is
    // contaminated to the degree it shares n-gram shingles with the
    // train side — the overlap check run before publishing a held-out
    // set. One equi-join on the hashed shingle (the same inverted
    // index every dedup path uses), distinct-count per eval doc; never
    // a doc×doc comparison.
    "corpus_decontaminate" -> ((s, dir) => {
      val idx = ScaleDedup.shingleIndex(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", 3)
      val evalSide = idx.filter(col("id") % 10 === 0)
      val trainSh = idx.filter(col("id") % 10 =!= 0).select(col("sh")).distinct()
      evalSide.join(trainSh, "sh")
        .groupBy(col("id"))
        .agg(countDistinct(col("sh")).as("n_shared"))
        .select(col("id").as("doc_id"), col("n_shared"))
    }),
  )

  private val exactDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0""".stripMargin

  private val nearDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000, text || ' zz9 yy8 xx7' FROM documents WHERE doc_id % 7 = 0""".stripMargin

  // the append goes through the SAME lowercased tokenization the
  // engine's window hashing applies, so both sides window identically
  private val repeatsSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 AND len(t) >= 12
      |       THEN array_to_string(t || t[1:12] || t[1:12], ' ')
      |       ELSE text END AS text
      |FROM (SELECT doc_id, text,
      |        string_split_regex(lower(trim(text)), '\s+') AS t
      |      FROM documents)""".stripMargin

  /** smod + XXH64 + slice CTEs selecting the RAW 1/[[DocSampleMod]]
    * doc slice (no planted copies) as `<out>` — the SQL twin of
    * [[docsSliced]]; shared by every sampled twin whose full form
    * reads `documents` directly. Ends without a trailing comma.
    */
  private[registry] def docSliceCtes(
      cols: Seq[String], out: String = "docs"): String =
    s"""${SampleMod.modCte("documents", DocSampleMod)},
      |${XxHashOracleSql.longHashCte("dsel", "documents", cols, "doc_id",
         "CAST(42 AS UBIGINT)", "h64")},
      |$out AS (
      |  SELECT ${cols.mkString(", ")} FROM dsel
      |  WHERE ${SampleMod.slicePredicate("h64")})""".stripMargin

  // the prefix rejoin goes through the SAME lowercased tokenization the
  // engine's shingle index applies, so both sides shingle identically
  private val subsetsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
      |  array_to_string(t[1:CAST(ceil(len(t) / 2.0) AS BIGINT)], ' ') AS text
      |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |      FROM documents)
      |WHERE doc_id % 11 = 0""".stripMargin

  /** [[subsetsSql]] planted over the hash slice — replays
    * [[withSubsetsSampled]]: slice first (dsamp), then the prefix-half
    * copies with the offset derived from the SLICE max. Emits `docs`.
    */
  private val subsetsSampledCtes: String =
    s"""${docSliceCtes(Seq("doc_id", "text"), out = "dsamp")},
      |docs AS (
      |  SELECT doc_id, text FROM dsamp
      |  UNION ALL
      |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM dsamp) AS doc_id,
      |    array_to_string(t[1:CAST(ceil(len(t) / 2.0) AS BIGINT)], ' ') AS text
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |        FROM dsamp)
      |  WHERE doc_id % 11 = 0)""".stripMargin

  /** Containment chain over a `docs(doc_id, text)` CTE — shared by the
    * full and hash-slice twins (one spec of the freq-cap/intersect/
    * direct construction, two input fixtures). Starts at `tok`, ends
    * at the SELECT.
    */
  private val containmentChainSql: String =
    """tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM docs),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |freq AS (SELECT shingle, COUNT(*) AS dfreq FROM sh GROUP BY shingle),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |    JOIN freq f ON f.shingle = a.shingle AND f.dfreq <= 64
      |  GROUP BY 1, 2),
      |directed AS (
      |  SELECT id_a AS id_sub, id_b AS id_super,
      |    round(CAST(i AS DOUBLE) / sa.sz, 6) AS containment
      |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
      |  UNION ALL
      |  SELECT id_b, id_a, round(CAST(i AS DOUBLE) / sb.sz, 6)
      |  FROM inter JOIN sizes sb ON sb.doc_id = id_b)
      |SELECT id_sub, id_super, containment FROM directed
      |WHERE containment >= 0.9""".stripMargin

  /** Source-overlap chain over a `docs(source, text)` CTE — shared by
    * the full matrix and its hash-slice twin. The containment share
    * uses the half-up scaled-integer idiom (engine-rounding-proof).
    */
  private val overlapChainSql: String =
    """tok AS (
      |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM docs),
      |sh AS (
      |  SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
      |sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source <> b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, CAST(i AS BIGINT) AS n_shared,
      |  CAST((CAST(i AS HUGEINT) * 2000000 + sz) // (2 * sz) AS DOUBLE) / 1000000 AS containment
      |FROM inter JOIN sizes s ON s.source = src_a""".stripMargin

  /** Shared oracle scaffolding: shingle sets, sizes, pairwise
    * intersections (optionally doc-frequency-capped), Jaccard pairs.
    * `src` names the (doc_id, text) relation the pairs are computed
    * over.
    */
  private def jaccardPairsSql(
      threshold: Double, maxDocFreq: Long, src: String = "docs"): String = {
    val interFrom =
      if (maxDocFreq > 0)
        s"""FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  JOIN freq f ON f.shingle = a.shingle AND f.dfreq <= $maxDocFreq""".stripMargin
      else
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id"
    s"""tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM $src),
       |sh AS (
       |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |freq AS (SELECT shingle, COUNT(*) AS dfreq FROM sh GROUP BY shingle),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
       |  $interFrom
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= $threshold)""".stripMargin
  }

  /** Shared XXH64 replay of the k=16/bands=8 MinHash banding over a
    * `docs(doc_id, text)` CTE: shingle hashes → per-slot salted mins →
    * comma-joined band strings → band hashes. Ends with
    * `banded(id, band, bh)`; embed under WITH RECURSIVE.
    */
  private[registry] val minhashBandedCtes: String = {
    val slotSeeds = (0 until 16)
      .map(i => s"($i, ${XxHashOracleSql.uLit(XxHashOracleSql.intSeed(i))})")
      .mkString(", ")
    val bandSeeds = (0 until 8)
      .map(b => s"($b, ${XxHashOracleSql.uLit(XxHashOracleSql.intSeed(b))})")
      .mkString(", ")
    s"""tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM docs),
      |shp AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
      |xxs_src AS MATERIALIZED (
      |  SELECT row_number() OVER () AS xid, shingle AS s,
      |         CAST(42 AS UBIGINT) AS useed, doc_id
      |  FROM shp),
      |${XxHashOracleSql.stringHashCtes("xxs")},
      |idx AS MATERIALIZED (
      |  SELECT DISTINCT m.doc_id AS id, o.hash64 AS sh
      |  FROM xxs_src m JOIN xxs_out o ON o.xid = m.xid),
      |slots(slot, useed) AS (SELECT * FROM (VALUES $slotSeeds)),
      |dsh AS MATERIALIZED (SELECT DISTINCT sh FROM idx),
      |${XxHashOracleSql.longHashCte("sloth", "dsh CROSS JOIN slots",
         Seq("sh", "slot"), "sh", "useed", "h")},
      |sig AS MATERIALIZED (
      |  SELECT i.id, t.slot, MIN(t.h) AS mh
      |  FROM idx i JOIN sloth t ON t.sh = i.sh
      |  GROUP BY i.id, t.slot),
      |bandseeds(band, useed) AS (SELECT * FROM (VALUES $bandSeeds)),
      |xxb_src AS MATERIALIZED (
      |  SELECT row_number() OVER () AS xid,
      |         CAST(a.mh AS VARCHAR) || ',' || CAST(c.mh AS VARCHAR) AS s,
      |         b.useed, a.id, b.band
      |  FROM bandseeds b
      |  JOIN sig a ON a.slot = b.band * 2
      |  JOIN sig c ON c.slot = b.band * 2 + 1 AND c.id = a.id),
      |${XxHashOracleSql.stringHashCtes("xxb")},
      |banded AS MATERIALIZED (
      |  SELECT m.id, m.band, o.hash64 AS bh
      |  FROM xxb_src m JOIN xxb_out o ON o.xid = m.xid)""".stripMargin
  }

  /** CTE chain selecting the deterministic xxhash64 sub-corpus and
    * planting the same near-dup copies `withNearDupsSampled` plants —
    * the `docs` a sampled twin consumes. Sampling is replayed with the
    * longHashCte XXH64 chain (Spark's seed-42 xxhash64 over the long
    * doc_id), so the slice is bit-identical cross-engine. Purpose: at
    * replica scale the FULL minhash/simhash replays are oracle-side
    * intractable (single-node DuckDB over tens of millions of hash
    * rows); the 1/$DocSampleMod slice keeps the complete chain —
    * shingle → signature → band → pair — under a tractable full twin
    * at ANY corpus size, making the scale record exclusion-free.
    */
  private[registry] val sampledNearDupsCtes: String =
    s"""${SampleMod.modCte("documents", DocSampleMod)},
      |${XxHashOracleSql.longHashCte("dsel", "documents", Seq("doc_id", "text"),
         "doc_id", "CAST(42 AS UBIGINT)", "h64")},
      |dsamp AS (
      |  SELECT doc_id, text FROM dsel
      |  WHERE ${SampleMod.slicePredicate("h64")}),
      |docs AS (
      |  SELECT doc_id, text FROM dsamp
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' zz9 yy8 xx7' FROM dsamp
      |  WHERE doc_id % 7 = 0)""".stripMargin

  /** Full XXH64 banded-minhash replay over the given `docs` CTE chain:
    * slot-salted signature mins, band hashes, candidate pair join.
    */
  private def minhashTwin(docsCtes: String): String = s"""
    |WITH RECURSIVE $docsCtes,
    |$minhashBandedCtes
    |SELECT DISTINCT l.id AS id_a, r.id AS id_b
    |FROM banded l
    |JOIN banded r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id""".stripMargin

  /** Exact-Jaccard (>= 0.6) pairs + transitive closure over the given
    * `docs` CTE chain: the shared twin body for the composed and
    * forced-distributed-CC forms (full corpus AND hash-slice sampled).
    */
  private def composedTwin(docsCtes: String): String = s"""
    |WITH RECURSIVE $docsCtes,
    |${jaccardPairsSql(0.6, 0)},
    |edges AS (
    |  SELECT id_a AS a, id_b AS b FROM pairs
    |  UNION
    |  SELECT id_b AS a, id_a AS b FROM pairs),
    |reach(id, r) AS (
    |  SELECT doc_id, doc_id FROM docs
    |  UNION
    |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
    |SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id""".stripMargin

  /** Duplicated-span detection twin over the given `docs` CTE chain:
    * 10-token windows, cross-doc duplicate groups, island coalescing.
    */
  private def spansTwin(docsCtes: String): String = s"""
    |WITH RECURSIVE $docsCtes,
    |tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    |        FROM docs),
    |g AS (
    |  SELECT doc_id, i AS pos,
    |    array_to_string(list_slice(t, i, i + 9), ' ') AS gram
    |  FROM tok, unnest(generate_series(1, len(t) - 9)) AS u(i)),
    |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    |isl AS (SELECT doc_id, pos,
    |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS k
    |        FROM hits)
    |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
    |  CAST(MAX(pos) - MIN(pos) + 10 AS BIGINT) AS span_tokens
    |FROM isl GROUP BY doc_id, k""".stripMargin

  /** Full XXH64 replay of SimHash hamming pairs over the given `docs`
    * CTE chain: per-token hash (every occurrence votes), 64 bit-votes,
    * fingerprint assembled in the unsigned domain, 16-bit-chunk
    * blocking, hamming <= 3.
    */
  private def simhashTwin(docsCtes: String): String = {
    val votes = (0 until 64)
      .map(j => s"CAST(SUM(CASE WHEN (hu >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$j")
      .mkString(",\n|    ")
    val assemble = (0 until 64)
      .map(j => s"CASE WHEN v$j > 0 THEN CAST(${BigInt(1) << j} AS UHUGEINT) ELSE CAST(0 AS UHUGEINT) END")
      .mkString(" + ")
    s"""
    |WITH RECURSIVE $docsCtes,
    |toku AS (
    |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    |  FROM docs),
    |xxt_src AS MATERIALIZED (
    |  SELECT row_number() OVER () AS xid, token AS s,
    |         CAST(42 AS UBIGINT) AS useed, doc_id
    |  FROM toku),
    |${XxHashOracleSql.stringHashCtes("xxt")},
    |th AS MATERIALIZED (
    |  SELECT m.doc_id AS id,
    |    CAST((CAST(o.hash64 AS HUGEINT) + 18446744073709551616) % 18446744073709551616 AS UBIGINT) AS hu
    |  FROM xxt_src m JOIN xxt_out o ON o.xid = m.xid),
    |v AS (
    |  SELECT id,
    |    $votes
    |  FROM th GROUP BY id),
    |fp AS MATERIALIZED (
    |  SELECT id, CAST(($assemble) % 18446744073709551616 AS UBIGINT) AS shu FROM v),
    |ch AS MATERIALIZED (
    |  SELECT id, shu, u.chunk, (shu >> (u.chunk * 16)) & 65535 AS cv
    |  FROM fp, unnest([0, 1, 2, 3]) u(chunk))
    |SELECT id_a, id_b, hamming FROM (
    |  SELECT DISTINCT l.id AS id_a, r.id AS id_b,
    |    CAST(bit_count(xor(l.shu, r.shu)) AS INT) AS hamming
    |  FROM ch l JOIN ch r ON l.chunk = r.chunk AND l.cv = r.cv AND l.id < r.id)
    |WHERE hamming <= 3""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "dedup_exact" -> s"""
      |WITH docs AS ($exactDupsSql)
      |SELECT md5(array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ')) AS fingerprint,
      |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
      |FROM docs GROUP BY 1""".stripMargin,

    "dedup_ngram_jaccard" -> s"""
      |WITH docs AS ($nearDupsSql),
      |${jaccardPairsSql(0.5, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    // hash-slice scale twin of the uncapped baseline
    "dedup_ngram_jaccard_sampled" -> s"""
      |WITH RECURSIVE $sampledNearDupsCtes,
      |${jaccardPairsSql(0.5, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    // the prefix-filtered forms are LOSSLESS, so their twins are the
    // identical exact-Jaccard replays — any filter miss shows up as a
    // row diff against the unfiltered pair set.
    "dedup_ngram_jaccard_prefix" -> s"""
      |WITH docs AS ($nearDupsSql),
      |${jaccardPairsSql(0.5, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    "dedup_ngram_jaccard_prefix_sampled" -> s"""
      |WITH RECURSIVE $sampledNearDupsCtes,
      |${jaccardPairsSql(0.5, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    // the bandPlan-derived banding is lossless above AutoBandT up to
    // the AutoBandEps miss bound, so its twin is the exact pair set at
    // the same shared-val threshold (the prefix-twin pattern).
    "dedup_minhash_autoband" -> s"""
      |WITH docs AS ($nearDupsSql),
      |${jaccardPairsSql(AutoBandT, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    "dedup_minhash_autoband_sampled" -> s"""
      |WITH RECURSIVE $sampledNearDupsCtes,
      |${jaccardPairsSql(AutoBandT, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    // bandPlanAuto picks the rung; losslessness-above-threshold holds
    // for EVERY rung it can pick, so the twin is rung-independent —
    // the same exact pair set grades whatever the tier resolves to.
    "dedup_minhash_bandauto" -> s"""
      |WITH docs AS ($nearDupsSql),
      |${jaccardPairsSql(AutoBandT, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    "dedup_minhash_bandauto_sampled" -> s"""
      |WITH RECURSIVE $sampledNearDupsCtes,
      |${jaccardPairsSql(AutoBandT, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    "source_overlap" ->
      s"WITH docs AS (SELECT source, text FROM documents),\n$overlapChainSql",

    // the complete overlap chain over the raw hash slice — the
    // scale-record twin of the full matrix above.
    "source_overlap_sampled" ->
      s"WITH RECURSIVE ${docSliceCtes(Seq("doc_id", "source", "text"))},\n$overlapChainSql",

    "corpus_source_authority" -> graft.operators.PageRank.oracleSql(
      nodesSql = "SELECT DISTINCT source AS id FROM documents",
      edgesSql = """
        |WITH tok AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |shg AS (
        |  SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i))
        |SELECT a.source AS src, b.source AS dst, CAST(COUNT(*) AS BIGINT) AS w
        |FROM shg a JOIN shg b ON a.shingle = b.shingle AND a.source <> b.source
        |GROUP BY 1, 2""".stripMargin,
      iters = 5),

    // the hash-slice scale twin: identical PageRank replay, edges from
    // the deterministic 1/DocSampleMod XXH64 doc slice (see the Spark
    // form's rationale).
    "corpus_source_authority_sampled" -> graft.operators.PageRank.oracleSql(
      prefixCtes = s"""${SampleMod.modCte("documents", DocSampleMod)},
        |${XxHashOracleSql.longHashCte("dsel", "documents",
           Seq("doc_id", "source", "text"), "doc_id",
           "CAST(42 AS UBIGINT)", "h64")},
        |dsamp AS (
        |  SELECT source, text FROM dsel
        |  WHERE ${SampleMod.slicePredicate("h64")}),"""
        .stripMargin,
      nodesSql = "SELECT DISTINCT source AS id FROM dsamp",
      edgesSql = """
        |WITH tok AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM dsamp),
        |shg AS (
        |  SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i))
        |SELECT a.source AS src, b.source AS dst, CAST(COUNT(*) AS BIGINT) AS w
        |FROM shg a JOIN shg b ON a.shingle = b.shingle AND a.source <> b.source
        |GROUP BY 1, 2""".stripMargin,
      iters = 5),

    "corpus_substring_spans" -> spansTwin(s"docs AS ($nearDupsSql)"),

    // hash-slice scale twin (same island construction, sliced docs)
    "corpus_substring_spans_sampled" -> spansTwin(sampledNearDupsCtes),

    // excision twin: same islands construction as the detection twin,
    // but hits keep only NON-owner occurrences (owner = MIN doc_id per
    // duplicated gram); the rebuild keeps every token position no span
    // covers. Spark groups windows by xxhash64, this twin by the gram
    // STRING — a hash collision surfaces as a parity failure.
    "corpus_scrub_spans" -> s"""
      |WITH docs AS ($nearDupsSql),
      |tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |        FROM docs),
      |g AS (
      |  SELECT doc_id, i AS pos,
      |    array_to_string(list_slice(t, i, i + 9), ' ') AS gram
      |  FROM tok, unnest(generate_series(1, len(t) - 9)) AS u(i)),
      |dup AS (SELECT gram, MIN(doc_id) AS owner FROM g
      |        GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
      |hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
      |         WHERE g.doc_id <> dup.owner),
      |isl AS (SELECT doc_id, pos,
      |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS k
      |        FROM hits),
      |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 9 AS e
      |          FROM isl GROUP BY doc_id, k),
      |pos AS (SELECT doc_id, i AS p, t[i] AS tk
      |        FROM tok, unnest(generate_series(1, len(t))) AS u(i)),
      |dropped AS (SELECT DISTINCT pos.doc_id, pos.p
      |            FROM pos JOIN spans s ON s.doc_id = pos.doc_id
      |              AND pos.p BETWEEN s.s AND s.e),
      |kept AS (SELECT pos.doc_id, pos.p, pos.tk FROM pos
      |         LEFT JOIN dropped d ON d.doc_id = pos.doc_id AND d.p = pos.p
      |         WHERE d.p IS NULL),
      |agg AS (SELECT doc_id,
      |          array_to_string(list(tk ORDER BY p), ' ') AS cleaned_text,
      |          COUNT(*) AS nk
      |        FROM kept GROUP BY doc_id)
      |SELECT tok.doc_id,
      |  coalesce(a.cleaned_text, '') AS cleaned_text,
      |  CAST(len(tok.t) - coalesce(a.nk, 0) AS BIGINT) AS n_dropped
      |FROM tok LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // intra-doc excision twin: identical rebuild scaffolding, but a
    // hit is an occurrence >= 10 positions after the FIRST occurrence
    // of the same window in the SAME doc (occurrences overlapping the
    // kept first occurrence count as part of it). Spark groups by
    // xxhash64, this twin by the gram STRING — a hash collision
    // surfaces as a parity failure.
    "corpus_scrub_repeats" -> s"""
      |WITH docs AS ($repeatsSql),
      |tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |        FROM docs),
      |g AS (
      |  SELECT doc_id, i AS pos,
      |    array_to_string(list_slice(t, i, i + 9), ' ') AS gram
      |  FROM tok, unnest(generate_series(1, len(t) - 9)) AS u(i)),
      |fst AS (SELECT doc_id, gram, MIN(pos) AS f FROM g
      |        GROUP BY doc_id, gram),
      |hits AS (SELECT g.doc_id, g.pos FROM g JOIN fst USING (doc_id, gram)
      |         WHERE g.pos >= fst.f + 10),
      |isl AS (SELECT doc_id, pos,
      |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS k
      |        FROM hits),
      |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 9 AS e
      |          FROM isl GROUP BY doc_id, k),
      |pos AS (SELECT doc_id, i AS p, t[i] AS tk
      |        FROM tok, unnest(generate_series(1, len(t))) AS u(i)),
      |dropped AS (SELECT DISTINCT pos.doc_id, pos.p
      |            FROM pos JOIN spans s ON s.doc_id = pos.doc_id
      |              AND pos.p BETWEEN s.s AND s.e),
      |kept AS (SELECT pos.doc_id, pos.p, pos.tk FROM pos
      |         LEFT JOIN dropped d ON d.doc_id = pos.doc_id AND d.p = pos.p
      |         WHERE d.p IS NULL),
      |agg AS (SELECT doc_id,
      |          array_to_string(list(tk ORDER BY p), ' ') AS cleaned_text,
      |          COUNT(*) AS nk
      |        FROM kept GROUP BY doc_id)
      |SELECT tok.doc_id,
      |  coalesce(a.cleaned_text, '') AS cleaned_text,
      |  CAST(len(tok.t) - coalesce(a.nk, 0) AS BIGINT) AS n_dropped
      |FROM tok LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "dedup_containment" ->
      s"WITH docs AS ($subsetsSql),\n$containmentChainSql",

    // the complete chain over the hash-slice-planted fixture — the
    // scale-record twin of the full form above.
    "dedup_containment_sampled" ->
      s"WITH RECURSIVE $subsetsSampledCtes,\n$containmentChainSql",

    "dedup_ngram_jaccard_capped" -> s"""
      |WITH docs AS ($nearDupsSql),
      |${jaccardPairsSql(0.5, 64)}
      |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin,

    // Full XXH64 replay of the MinHash-LSH candidate pairs (k=16,
    // bands=8, rows=2): hash each shingle string (seed 42), min the
    // slot-salted long rehashes per (doc, slot), hash each band's
    // comma-joined signature slice with Spark's int-chained seed, join
    // on (band, band_hash). Seeds constant-folded via Spark's own
    // XXH64 so they cannot drift from the engine.
    "dedup_minhash" -> minhashTwin(s"docs AS ($nearDupsSql)"),

    // the SAME replay over the xxhash64-sampled sub-corpus — the twin
    // that stays DuckDB-tractable at replica scale (see
    // sampledNearDupsCtes).
    "dedup_minhash_sampled" -> minhashTwin(sampledNearDupsCtes),

    "dedup_simhash" -> simhashTwin(s"docs AS ($nearDupsSql)"),
    "dedup_simhash_sampled" -> simhashTwin(sampledNearDupsCtes),

    // transitive closure over the >= 0.6 Jaccard pairs: reach(id, r)
    // holds every (node, ancestor-in-component); canonical = MIN reach.
    "dedup_corpus_composed" -> composedTwin(s"docs AS ($nearDupsSql)"),

    // the hash-slice scale twin (same closure over the sampled docs)
    "dedup_corpus_composed_sampled" -> composedTwin(sampledNearDupsCtes),

    // the asymmetric screen's twin: the full exact-Jaccard pair set,
    // restricted to (reference, new-batch) cross pairs — LSH at
    // k=64/bands=32 is effectively lossless (miss odds < 1e-6/pair),
    // so the engine's banded candidates must reproduce it exactly.
    "dedup_against_reference" -> s"""
      |WITH docs AS ($nearDupsSql),
      |${jaccardPairsSql(0.6, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs
      |WHERE id_a < 100000 AND id_b >= 100000""".stripMargin,

    // hash-slice scale twin of the asymmetric screen
    "dedup_against_reference_sampled" -> s"""
      |WITH RECURSIVE $sampledNearDupsCtes,
      |${jaccardPairsSql(0.6, 0)}
      |SELECT id_a, id_b, jaccard FROM pairs
      |WHERE id_a < 100000 AND id_b >= 100000""".stripMargin,

    // identical twin for the forced-distributed-CC form: the CC
    // implementation (driver union-find vs star alternation) must not
    // be observable in the canonical assignment.
    "dedup_cc_distributed" -> composedTwin(s"docs AS ($nearDupsSql)"),
    "dedup_cc_distributed_sampled" -> composedTwin(sampledNearDupsCtes),

    "dedup_simhash_md5" -> {
      val votes = (0 until 64).map { j =>
        val pos = 16 - j / 4
        val bit = j % 4
        s"SUM(CASE WHEN (((strpos('0123456789abcdef', substr(hx, $pos, 1)) - 1) >> $bit) & 1) = 1 THEN 1 ELSE -1 END) AS v$j"
      }.mkString(",\n|    ")
      val bits = (63 to 0 by -1)
        .map(j => s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""
      |WITH docs AS ($nearDupsSql),
      |tok AS (
      |  SELECT doc_id AS id,
      |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      |  FROM docs),
      |h AS (SELECT id, substr(md5(token), 1, 16) AS hx FROM tok),
      |v AS (
      |  SELECT id,
      |    $votes
      |  FROM h GROUP BY id)
      |SELECT id, $bits AS simhash_bits FROM v""".stripMargin
    },

    // replays the winnow chain of text_winnow_md5 over the near-dup
    // fixture, then the capped inverted-index pair join. Fingerprints
    // are distinct per doc (list_distinct), so COUNT(*) per fp is the
    // doc frequency and COUNT(*) per pair the shared-fp count.
    "dedup_winnow_pairs" -> s"""
      |WITH d AS ($nearDupsSql),
      |tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |  FROM d),
      |h AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < $WinnowN THEN CAST([] AS VARCHAR[])
      |         ELSE list_transform(generate_series(1, len(t) - ${WinnowN - 1}),
      |                i -> md5(array_to_string(t[i:i+${WinnowN - 1}], ' '))) END AS hs
      |  FROM tok),
      |fp AS (
      |  SELECT doc_id,
      |    CASE WHEN len(hs) < $WinnowW THEN list_sort(list_distinct(hs))
      |         ELSE list_sort(list_distinct(list_transform(
      |                generate_series(1, len(hs) - ${WinnowW - 1}),
      |                i -> list_min(hs[i:i+${WinnowW - 1}])))) END AS fps
      |  FROM h),
      |e AS (SELECT doc_id, unnest(fps) AS f FROM fp),
      |keep AS (SELECT f FROM e GROUP BY f HAVING COUNT(*) <= $WinnowMaxDocFreq),
      |ee AS (SELECT e.doc_id, e.f FROM e JOIN keep USING (f))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM ee a JOIN ee b ON a.f = b.f AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared""".stripMargin,

    "corpus_decontaminate" -> """
      |WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
      |ev AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
      |tr AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 <> 0)
      |SELECT ev.doc_id, COUNT(DISTINCT ev.s) AS n_shared
      |FROM ev JOIN tr ON ev.s = tr.s
      |GROUP BY 1""".stripMargin,

    // full prep chain: quality+lang gate -> exact dedup (min id per
    // fingerprint) -> near-dup transitive closure -> surviving ids.
    "corpus_prep" -> prepTwin(s"docs AS ($nearDupsSql)"),
    "corpus_prep_sampled" -> prepTwin(sampledNearDupsCtes),
  )

  /** Full prep-chain twin over the given `docs` CTE chain: quality +
    * language gate, exact dedup, near-dup closure, surviving ids.
    */
  private def prepTwin(docsCtes: String): String = s"""
      |WITH RECURSIVE $docsCtes,
      |q AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) AS ntok,
      |      CAST(length(text) AS DOUBLE) AS nchars,
      |      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
      |      CAST(${TextQueries.hits("en")} AS DOUBLE) AS h
      |    FROM docs)
      |  WHERE round(
      |      least(ntok / 100.0, 1.0) * 0.3 +
      |      (CASE WHEN nchars / greatest(ntok, 1.0) BETWEEN 3.0 AND 10.0
      |            THEN 1.0 ELSE 0.3 END) * 0.2 +
      |      alpha / greatest(nchars, 1.0) * 0.3 +
      |      least(h / 3.0, 1.0) * 0.2, 6) >= 0.5
      |    AND ${TextQueries.langCase} = 'en'),
      |fpd AS (SELECT doc_id, text,
      |  md5(array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ')) AS f
      |  FROM q),
      |keepx AS (SELECT f, MIN(doc_id) AS doc_id FROM fpd GROUP BY f),
      |ek AS (SELECT fpd.doc_id, fpd.text FROM fpd JOIN keepx USING (f, doc_id)),
      |${jaccardPairsSql(0.6, 0, src = "ek")},
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION
      |  SELECT id_b AS a, id_a AS b FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM ek
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
      |SELECT id AS doc_id FROM (
      |  SELECT id, MIN(r) AS c FROM reach GROUP BY id)
      |WHERE id = c""".stripMargin
}
