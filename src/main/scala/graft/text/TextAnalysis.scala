package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, fingerprinting. All pure Column
  * chains (codegen'd, pushdown-friendly) — at 100 TB these run inside
  * the scan's whole-stage codegen with zero shuffles.
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text. r15: the codegen'd
    * byte-scan [[graft.functions.WsSplit]] — bit-parity with
    * `split(lower(trim(c)), "\\s+")` (pinned by WsSplitSpec), minus
    * the per-row regex compile + String round-trip `StringSplit` pays.
    */
  def tokens(c: Column): Column =
    graft.functions.GraftFunctions.wsSplit(lower(trim(c)))

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: letter runs, single digits, and isolated
    * punctuation each count as one token (a cheap stand-in for byte-pair
    * tokenizer budgeting).
    */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Tiny per-language stopword inventories for the n-gram heuristic.
    * Order matters: ties resolve to the earliest language here.
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"))

  /** Stopword hits for one language (distinct-token set intersection —
    * order-independent, hence deterministic under any partitioning).
    */
  def stopwordHits(c: Column, words: Seq[String]): Column =
    stopwordHitsOf(tokens(c), words)

  /** [[stopwordHits]] over an already-computed token array — lets a
    * multi-signal gate tokenize the document ONCE (the r14 corpus_prep
    * gate re-split every document ~7 times: 5 languages + quality's
    * count and stopword terms).
    */
  def stopwordHitsOf(toks: Column, words: Seq[String]): Column =
    size(array_intersect(toks, array(words.map(lit): _*)))

  /** Language-ID heuristic: argmax of stopword hits, ties to the first
    * language in `LangStopwords` order (deterministic CASE chain).
    */
  def langId(c: Column): Column = langIdOf(tokens(c))

  /** [[langId]] over an already-computed token array. r14: ONE
    * codegen'd pass (token-set build + 50 lookups) replacing five
    * per-row array_intersect hash builds — bit-parity with the r13
    * CASE chain, pinned by ShingleMinHashSpec.
    */
  def langIdOf(toks: Column): Column =
    graft.functions.GraftFunctions.langIdScore(toks, LangStopwords)

  /** Quality score in [0,1]: word-count saturation, mean word length
    * band, alpha ratio, stopword presence. Plain double arithmetic on
    * one row — deterministic everywhere.
    */
  def qualityScore(c: Column): Column = qualityScoreOf(c, tokens(c))

  /** [[qualityScore]] with the token array precomputed (the char-level
    * signals still read the raw string). r14: one codegen'd pass — the
    * Column form's regexp_replace alpha count scanned every document
    * through the regex engine; the expression's byte scan is exact
    * (ASCII letters are single-byte in UTF-8). Parity with the r13
    * Column chain pinned by ShingleMinHashSpec.
    */
  def qualityScoreOf(c: Column, toks: Column): Column =
    graft.functions.GraftFunctions.qualityScoreFast(c, toks,
      LangStopwords.head._2)

  /** Content fingerprint: md5 over the canonical token stream (stable
    * under whitespace/case noise).
    */
  def fingerprint(c: Column): Column = md5(concat_ws(" ", tokens(c)))

  /** let-binding for higher-order lambdas: evaluate `v` ONCE and bind
    * it as a lambda variable inside `f`. Higher-order functions are
    * interpreted (no codegen), and a lambda body RE-EVALUATES any
    * captured expression tree per element — a captured O(m) array
    * inside an m-window scan silently turns O(m) into O(m²).
    * Measured: text_winnow_fingerprint at the 10× replica dropped
    * from 273 s to single-digit seconds with this binding.
    */
  private[graft] def let1(v: Column, f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** Winnowing fingerprints: hash every n-gram shingle (the rolling
    * hash), then keep the minimum hash of each w-length window —
    * guarantees any shared substring of ≥ n+w-1 tokens yields a shared
    * fingerprint, with ~2/(w+1) of the hashes retained. Pure column
    * ops, so fingerprinting runs inside the scan at 100 TB (the hash
    * array is let-bound — see [[let1]] — so the window scan reads it,
    * never recomputes it).
    */
  def winnowFingerprints(c: Column, n: Int = 3, w: Int = 4): Column =
    graft.functions.GraftFunctions.winnowMinSet(
      graft.functions.GraftFunctions.shingleHashes(tokens(c), n), w)

  /** Oracle-checkable winnowing variant: md5 hex strings as the rolling
    * hashes, lexicographic min per window (hex order = numeric order
    * for same-length lowercase hex). Same substring-sharing guarantee
    * as [[winnowFingerprints]]; the xxhash64 form is the scale path
    * (8-byte vs 32-byte fingerprints). r15: one codegen'd pass
    * (shingle bytes → md5 hex → deque window minima → sorted distinct),
    * bit-parity with the r13/r14 interpreted chain pinned by
    * ShingleMinHashSpec — the md5-hex value domain the DuckDB twin
    * replays is unchanged.
    */
  def winnowFingerprintsMd5(c: Column, n: Int = 3, w: Int = 4): Column =
    graft.functions.GraftFunctions.winnowMd5(tokens(c), n, w)

  /** Deterministic reproducible train/validation split: hash-range on
    * md5 of the id — stable under any partitioning, any engine, and
    * re-runs over a growing corpus (a doc's split never changes). The
    * hex threshold sets the fraction ('e6666666' ≈ 0xe6/256 ≈ 90%
    * train). No shuffle, no sampling state.
    */
  def hashSplit(id: Column, hexThreshold: String = "e6666666"): Column =
    when(md5(id.cast("string").cast("binary")) < hexThreshold, "train")
      .otherwise("val")

  /** Context-window chunking: overlapping token windows of
    * `maxTokens`, advancing by `maxTokens - overlap` — the split a
    * training pipeline applies to documents longer than the model's
    * context. Returns an array of (token_start, n_tokens, chunk_text)
    * structs; pure column math, so chunking runs inside the scan.
    */
  def chunks(c: Column, maxTokens: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < maxTokens, "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    // token array let-bound: the per-chunk lambda would otherwise
    // re-tokenize the document per chunk (see let1)
    let1(tokens(c), t => {
      val nChunks = greatest(
        ceil((size(t) - lit(overlap)).cast("double") / stride).cast("int"), lit(1))
      transform(sequence(lit(0), nChunks - 1), i => struct(
        (i * stride).as("token_start"),
        least(lit(maxTokens), size(t) - i * stride).as("n_tokens"),
        concat_ws(" ", slice(t, i * stride + 1, lit(maxTokens))).as("chunk_text")))
    })
  }

  /** Sharded greedy sequence packing — the batch-construction step
    * before tokenization. Greedy prefix-sum packing is sequential per
    * group BY SEMANTICS (every bin depends on all earlier docs), so a
    * bare per-language window is one task per language — at corpus
    * scale the `en` partition IS the corpus. Sharding restores
    * parallelism: bins never span a `(lang, floor(id / shardRows))`
    * shard, the same window runs one task PER SHARD, and the only cost
    * is at most one underfilled bin per shard (bounded waste:
    * ≤ tokenBudget-1 tokens per shard).
    *
    * Returns (idCol, langCol, ntok, shard, bin_id); `bin_id` is the
    * greedy bin ordinal within its (lang, shard).
    */
  def packBinsSharded(
      df: DataFrame, idCol: String, langCol: String, textCol: String,
      tokenBudget: Int, shardRows: Long): DataFrame = {
    require(tokenBudget > 0 && shardRows > 0, "need positive budget and shard size")
    val w = Window.partitionBy(col(langCol), col("shard"))
      .orderBy(col(idCol)).rowsBetween(Window.unboundedPreceding, 0)
    df.select(col(idCol), col(langCol),
        tokenCount(col(textCol)).cast("long").as("ntok"))
      .withColumn("shard", floor(col(idCol) / shardRows).cast("long"))
      .withColumn("bin_id",
        floor((sum(col("ntok")).over(w) - col("ntok")) / tokenBudget).cast("long"))
  }

  /** DSIR featurizer (Xie et al. 2023, arXiv:2302.03169): bag of
    * hashed word n-grams — unigrams and bigrams, each mapped to one of
    * 4096 buckets by the numeric value of the first 3 hex nibbles of
    * its md5 (no modulo step, and md5 is replayable in the DuckDB
    * twin, unlike a multiply-shift hash). Pure column ops, so
    * featurization runs inside the scan; the token array is let-bound
    * (see [[let1]]) so the bigram lambda never re-splits the document.
    */
  def hashedNgramBuckets(c: Column): Column =
    graft.functions.GraftFunctions.md5NgramBuckets(tokens(c))

  /** Word n-gram shingles (empty below n tokens). The token array is
    * let-bound: the per-shingle lambda captured `tokens(c)` and
    * re-split the document once PER SHINGLE — O(len²) per document,
    * quadratic in document length for every shingle consumer (minhash,
    * jaccard, winnowing, decontamination).
    */
  def shingles(c: Column, n: Int): Column =
    let1(tokens(c), t =>
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n))))))
}
