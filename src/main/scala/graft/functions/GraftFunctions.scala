package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.ColumnBridge

/** Column-level entry points for graft's custom Catalyst expressions. */
object GraftFunctions {

  /** `uuid5(namespace, name)` — RFC 4122 v5 deterministic UUID. */
  def uuid5(namespace: Column, name: Column): Column =
    ColumnBridge.column(Uuid5(
      ColumnBridge.expression(namespace),
      ColumnBridge.expression(name)))

  /** uuid5 in the reference's fixed DNS namespace
    * (`code/structure_data.py:118-122`).
    */
  def uuid5(name: Column): Column = uuid5(lit(Uuid5.NamespaceDns), name)

  /** `ro_similarity(a, b)` — difflib-parity Ratcliff–Obershelp ratio. */
  def roSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(RatcliffObershelp(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** `dot_product(a, b)` — codegen'd numeric-array dot product, the
    * similarity hot loop.
    */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** `pq_encode(v)` — all m product-quantization codes of a vector in
    * one codegen'd primitive pass against literal codebooks.
    */
  def pqEncode(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(v), codebooks))

  /** `lsh_buckets(v)` — the sign-bit bucket of every LSH table in one
    * codegen'd pass over the vector; `planes(t)(p)` is table t's plane
    * p (bit-parity with `Knn.lshBucket` per table).
    */
  def lshBuckets(v: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(LshBuckets(ColumnBridge.expression(v), planes))

  /** `cms_estimate(sketch, item)` — point-query a serialized
    * Count-Min sketch column for a string item's estimated count.
    */
  def cmsEstimate(sketch: Column, item: Column): Column =
    ColumnBridge.column(CmsEstimate(
      ColumnBridge.expression(sketch), ColumnBridge.expression(item)))

  /** `sample_k(c, k)` — deterministic bottom-k-by-md5 hash sample
    * aggregate (order/partitioning-independent distributed sampling).
    */
  def sampleK(c: Column, k: Int): Column =
    ColumnBridge.column(
      HashSampleK(ColumnBridge.expression(c), k).toAggregateExpression())

  /** `shingle_hashes(tokens, n)` — all n-gram window xxhash64 values of
    * a token array in one codegen'd allocation-free pass (bit-parity
    * with `transform(shingles(c, n), xxhash64)`).
    */
  def shingleHashes(tokens: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(tokens), n))

  /** `ws_split(c)` — whitespace tokenization as one codegen'd byte
    * scan (bit-parity with `split(c, "\\s+")`, whose String.split
    * route recompiles the regex per row).
    */
  def wsSplit(c: Column): Column =
    ColumnBridge.column(WsSplit(ColumnBridge.expression(c)))

  /** `minhash_sig(shs, k)` — the k-slot MinHash signature of a hashed-
    * shingle array in one codegen'd pass with precomputed slot seeds
    * (bit-parity with `array_i(min(xxhash64(lit(i), sh)))`).
    */
  def minhashSig(shs: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shs), k))

  /** `md5_ngram_buckets(tokens)` — DSIR unigram+bigram 12-bit md5
    * bucket ids in one codegen'd pass (bit-parity with the
    * `conv(substring(md5(f), 1, 3), 16, 10)` HOF chain).
    */
  def md5NgramBuckets(tokens: Column): Column =
    ColumnBridge.column(Md5NgramBuckets(ColumnBridge.expression(tokens)))

  /** `long_sorted_set(a)` — sort + dedup a long array in one codegen'd
    * pass (the doc-set frame's canonical form).
    */
  def longSortedSet(a: Column): Column =
    ColumnBridge.column(LongSortedSet(ColumnBridge.expression(a)))

  /** `sorted_intersect_size(a, b)` — |a ∩ b| of two sorted-distinct
    * long arrays by linear merge (== size(array_intersect(a, b))).
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** `band_hashes(sig, bands)` — all LSH band hashes of a MinHash
    * signature in one codegen'd pass (bit-parity with the
    * `xxhash64(b, concat_ws(",", ...))` HOF chain the DuckDB oracle
    * replays).
    */
  def bandHashes(sig: Column, bands: Int): Column =
    ColumnBridge.column(BandHashes(ColumnBridge.expression(sig), bands))

  /** `winnow_md5(tokens, n, w)` — winnowing fingerprints in the
    * md5-hex domain in one codegen'd pass: shingle strings → md5 hex →
    * deque window minima → sorted distinct (bit-parity with the
    * interpreted winnowFingerprintsMd5 HOF chain).
    */
  def winnowMd5(tokens: Column, n: Int, w: Int): Column =
    ColumnBridge.column(WinnowMd5(ColumnBridge.expression(tokens), n, w))

  /** `winnow_min_set(hashes, w)` — winnowing window minima of a long
    * hash array as a sorted distinct set, one deque pass (bit-parity
    * with the `array_min(slice(...))` HOF tail over shingle hashes).
    */
  def winnowMinSet(hashes: Column, w: Int): Column =
    ColumnBridge.column(WinnowMinSet(ColumnBridge.expression(hashes), w))

  /** `l2_normalize(e)` — one-pass L2 normalization (bit-parity with
    * `transform(e, x => x.cast("double") / norm(e))`, which re-ran the
    * captured norm once per element).
    */
  def l2Normalize(e: Column): Column =
    ColumnBridge.column(L2Normalize(ColumnBridge.expression(e)))

  /** `nearest_centroid(e)` — 0-based argmax-cosine position against
    * literal centroids (bit-parity with the crossJoin + cosinePre +
    * rank-1 window assignment it replaces).
    */
  def nearestCentroid(e: Column, centroids: Seq[Seq[Double]]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(e), centroids))

  /** `centroid_argmin_l2(e)` — struct(pos, d2) of the L2-argmin
    * centroid against literal centroids (bit-parity with the
    * crossJoin + round-6 d2 + rank-1 window it replaces).
    */
  def centroidArgminL2(e: Column, centroids: Seq[Seq[Double]]): Column =
    ColumnBridge.column(CentroidArgminL2(ColumnBridge.expression(e), centroids))

  /** `lang_id(tokens)` — argmax distinct-stopword-hit language, ties to
    * inventory order (bit-parity with the CASE chain over
    * array_intersect scores).
    */
  def langIdScore(toks: Column, inventory: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(LangIdScore(ColumnBridge.expression(toks), inventory))

  /** `quality_score(text, tokens)` — the 4-signal quality score in one
    * codegen'd pass (bit-parity with the Column chain incl. the
    * regexp_replace alpha count).
    */
  def qualityScoreFast(text: Column, toks: Column,
                       stopwords: Seq[String]): Column =
    ColumnBridge.column(QualityScoreExpr(
      ColumnBridge.expression(text), ColumnBridge.expression(toks), stopwords))
}
