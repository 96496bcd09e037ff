package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Scale-path deduplication family for training-data pipelines: exact
  * (hash groupBy), n-gram Jaccard (inverted-index join), MinHash+LSH
  * (signature banding), SimHash (bit-vote fingerprints).
  *
  * Shuffle budget at 100 TB:
  *  - exact: one hash shuffle on the digest (map-side combine first);
  *  - jaccard: explode shingles → one shuffle on shingle (the inverted
  *    index), pair counts aggregate map-side; never a cross join;
  *  - minhash: in-row signatures (no shuffle) + one join shuffle on
  *    (band, band_hash) — candidate volume is controlled by bands×rows,
  *    independent of corpus² ;
  *  - simhash: one agg shuffle for the 64 bit-votes.
  *
  * Intermediate frames that feed two stages (the doc-set frame) are
  * `localCheckpoint`ed, not `cache`d: blocks are materialized once,
  * lineage is cut, and the ContextCleaner frees them when the frame is
  * garbage-collected — no unpersist bookkeeping leaking across a
  * long-lived session running hundreds of queries.
  */
object ScaleDedup {

  /** Exact dedup over a content digest: canonical (min id) per digest
    * plus the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_docs"))

  /** Per-doc DISTINCT hashed shingle sets (id, shs: array<long>) — the
    * r14 primitive every doc-keyed dedup path derives from. Computed
    * entirely inside the row (one codegen'd window-hash pass over the
    * token array, then an in-row distinct), so building it costs ZERO
    * shuffles — where the r13 exploded-index form paid a full
    * `.distinct()` exchange of every (id, sh) row just to dedup
    * shingles that all live in the same input row anyway.
    *
    * Precondition: `idCol` is unique per row (one row per document) —
    * true for every registered corpus frame; a duplicated id would
    * leave duplicate (id, sh) pairs where the old global distinct
    * merged them (source-keyed callers like [[sourceOverlap]] add
    * their own cross-row distinct).
    *
    * Docs with < n tokens get an EMPTY array (kept, so canonical
    * assignment can read ids off this frame); [[explodeSets]] drops
    * them exactly like the old index (no rows).
    */
  def docShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.longSortedSet(
        graft.functions.GraftFunctions.shingleHashes(
          TextAnalysis.tokens(col(textCol)), n)).as("shs"))

  /** Exploded (id, sh) rows off a doc-set frame — the inverted-index
    * view for self-join consumers. Pure Generate, no shuffle; empty
    * sets produce no rows.
    */
  def explodeSets(sets: DataFrame): DataFrame =
    sets.select(col("id"), explode(col("shs")).as("sh"))

  /** (id, sh) inverted-index rows, `sh` = xxhash64 of the n-gram
    * shingle — distinct so Jaccard is over shingle SETS. Hashing at
    * the index boundary (not downstream) means every consumer —
    * distinct, signatures, set intersections — works on 8-byte longs
    * instead of ~n-word strings: the index shuffles/checkpoints at a
    * fraction of the bytes and the 64-slot MinHash rehashes a long,
    * not a string. Collision odds ~|shingles|²/2^65 — immaterial.
    *
    * r14: derived from [[docShingleSets]] — the per-doc in-row distinct
    * replaces the global `.distinct()` exchange (same rows for
    * unique-id inputs, one less shuffle; see the precondition there).
    */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    explodeSets(docShingleSets(df, idCol, textCol, n))

  /** Pairwise n-gram Jaccard ≥ threshold via the inverted index: join
    * on shingle → count shared → |A∪B| from per-doc sizes.
    *
    * `maxDocFreq` caps the quadratic in-group pair expansion: a shingle
    * shared by m docs expands to m(m-1)/2 pairs, so one stop-shingle
    * ("terms of service") in a 100 TB corpus detonates a task. The
    * default drops shingles above 1000 docs — pairs that share ONLY
    * such shingles are far below any useful threshold anyway (their
    * union is ≥ the doc sizes, intersection a handful of stop-
    * shingles). Pass 0 for exact Jaccard (test-scale oracles only).
    *
    * Plan: the capped self-join of [[sharedKeyCounts]] — two shuffles
    * of 8-byte (sh, id) rows, then a map-side-combinable partial count
    * per pair, so no group is ever materialized in one row and
    * per-task memory is flat no matter how hot a shingle runs. The
    * grouped alternative (one shuffle on sh, every in-group pair
    * expanded inside the group row) measured 2.4 s vs 1.8 s at sf0.1
    * and builds ~m²/2 structs in a single row — ~500k at the default
    * cap — a memory spike this plan never takes.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      maxDocFreq: Long = 1000): DataFrame =
    sharedKeyCounts(docShingleSets(df, idCol, textCol, n).localCheckpoint(),
        maxDocFreq)
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The capped inverted-index self-join over a pinned per-doc set
    * frame (id, shs: array of DISTINCT keys): (id_a, id_b, inter,
    * sz_a, sz_b) for every pair id_a < id_b sharing at least one key
    * whose doc frequency is ≤ `maxDocFreq` (0 = no cap), `inter` =
    * number of such shared keys, `sz_*` = each doc's FULL set size.
    *
    *  - The keep-list holds the keys with 2 ≤ df (≤ cap): a df = 1 key
    *    self-joins only with itself (dropped by id_a < id_b), so
    *    pruning it BEFORE the self-join is lossless and, in real text
    *    where most shingles are unique, empties the bulk of both join
    *    inputs (guide §3.2's pre-filter idea, with an exact list
    *    instead of a Bloom filter). The cap is a semi-join against it,
    *    never a per-group row.
    *  - Each index row CARRIES its doc's set size (8 bytes), computed
    *    before the cap, so the per-pair sizes fall out of the count
    *    aggregate (min(sz) — constant per doc, free in the partial
    *    aggregate) instead of two pair-scale sizes joins. A caller
    *    that reads no size ([[winnowPairs]]) pays nothing: Catalyst
    *    prunes the unused mins and the size projection.
    */
  private def sharedKeyCounts(sets: DataFrame, maxDocFreq: Long): DataFrame = {
    val idx = sets.select(col("id"),
      size(col("shs")).cast("long").as("sz"), explode(col("shs")).as("sh"))
    val df0 = idx.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val keep = (if (maxDocFreq > 0) df0.filter(col("df") <= maxDocFreq) else df0)
      .filter(col("df") >= 2).select(col("sh"))
    val capped = idx.join(keep, Seq("sh"), "left_semi")
    capped.select(col("sh"), col("id").as("id_a"), col("sz").as("sz_a"))
      .join(capped.select(col("sh"), col("id").as("id_b"), col("sz").as("sz_b")),
        "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("sz_a")).as("sz_a"), min(col("sz_b")).as("sz_b"))
  }

  /** Winnow-fingerprint overlap pairs — the MOSS-style document-pair
    * detector: docs sharing ≥ `minShared` winnowing fingerprints
    * (each fingerprint witnesses a shared run of ≥ n+w−1 tokens, so
    * `n_shared` approximates how much VERBATIM material two docs
    * share, where Jaccard measures set similarity). Same capped
    * inverted-index self-join as [[ngramJaccardPairs]] but over the
    * winnowed fingerprint set — ~2/(w+1) the index size of the full
    * shingle index, which is the point of winnowing at corpus scale:
    * the self-join and both shuffles shrink by the same factor while
    * the shared-substring guarantee holds. The md5 hash domain matches
    * [[graft.text.TextAnalysis.winnowFingerprintsMd5]] so the DuckDB
    * twin replays the chain exactly; a production deployment uses the
    * xxhash64 domain (8-byte keys) — identical plan, smaller rows.
    */
  def winnowPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4, minShared: Long = 5,
      maxDocFreq: Long = 1000): DataFrame = {
    // checkpoint the per-doc fingerprint ARRAYS (winnow output is
    // already distinct per doc) — the pinned bytes are one row per doc
    // instead of one per fingerprint
    val fps = df.select(col(idCol).as("id"),
        TextAnalysis.winnowFingerprintsMd5(col(textCol), n, w).as("shs"))
      .localCheckpoint() // feeds the hot-list aggregate AND the self-join
    sharedKeyCounts(fps, maxDocFreq)
      .filter(col("inter") >= minShared)
      .select(col("id_a"), col("id_b"), col("inter").as("n_shared"))
  }

  /** EXACT-threshold Jaccard pairs via prefix filtering — the lossless
    * alternative to the doc-frequency cap for exact semantics at
    * scale (Chaudhuri/Ganti/Kaushik ICDE'06; Bayardo/Ma/Srikant
    * WWW'07). Shingles get a GLOBAL total order (doc frequency
    * ascending, shingle hash tie-break); each doc indexes only its
    * first L = |d| − ⌈t·|d|⌉ + 1 shingles under that order. Theorem:
    * J(A,B) ≥ t implies the two prefixes share an element — if the
    * prefixes were disjoint, every common element would rank above
    * the smaller prefix-max, but a doc has only ⌈t·|d|⌉ − 1 such
    * elements, fewer than the ≥ t·|d| common ones J ≥ t guarantees.
    * So the prefix self-join finds EVERY qualifying pair, and the
    * exact [[verifyJaccardSets]] pass makes the output identical to
    * the uncapped all-pairs form — while hot stop-shingles (df-MAX
    * under the ordering) fall at the END of every doc's ranking and
    * almost never enter a prefix: the quadratic stop-shingle
    * expansion that makes the uncapped self-join detonate at corpus
    * scale never happens, with NO lossy cap. Index volume is
    * ~(1−t)·|full index|; candidate volume is bounded by rare-shingle
    * co-occurrence. The ⌈t·|d|⌉ is computed as floor(t·|d| − 1e-6)+1
    * so a one-ulp float drift can only LENGTHEN a prefix (keeps the
    * filter lossless), never shorten it.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val sets = docShingleSets(df, idCol, textCol, n).localCheckpoint()
    val idx = explodeSets(sets)
    val dfreq = idx.groupBy(col("sh")).agg(count(lit(1)).as("dfreq"))
    // r15: the per-doc prefix rank is computed ARRAY-SIDE — the
    // (dfreq, sh) pairs are collected per doc (one hash-aggregate
    // exchange whose list state is bounded by document width), sorted
    // in-row and cut at the prefix length L = sz − ⌈t·sz⌉ + 1, where
    // sz = size of the collected list (every set element contributes
    // exactly one index row, so the list size IS the doc's set size).
    // This replaces the r14 ranking window — whose sort ordered the
    // ENTIRE index by (id, dfreq, sh) per partition — and the separate
    // sizes join, with per-row array sorts of ~doc-width pairs: the
    // same (id, sh) prefix rows, one less corpus-wide sort and one
    // less join (guide §2.4; equivalence: row_number over (dfreq, sh)
    // asc == position in the sorted pair array — (dfreq, sh) is unique
    // within a doc because sh is distinct there).
    //
    // The sort is `sort_array`, not `array_sort`: on non-null structs
    // both give the same ascending order, but `array_sort` is a
    // codegen fallback with an interpreted comparator and takes the
    // enclosing posexplode out of whole-stage codegen, where
    // `sort_array` compares with generated code.
    //
    // r14 shrinks retained:
    //  - dfreq >= 2 (applied after the cut, exactly like the rk
    //    filter): a prefix shingle with corpus doc-frequency 1 joins
    //    only with itself — lossless drop;
    //  - localCheckpoint: the prefix frame feeds both join sides.
    val lCol = (size(col("ps")) -
      floor(lit(threshold) * size(col("ps")) - lit(1e-6))).cast("int")
    val prefix = idx.join(dfreq, "sh")
      .groupBy(col("id"))
      .agg(collect_list(struct(col("dfreq"), col("sh"))).as("ps"))
      .select(col("id"), size(col("ps")).cast("long").as("sz"),
        posexplode(slice(sort_array(col("ps")), lit(1), lCol)))
      .filter(col("col.dfreq") >= 2)
      .select(col("id"), col("col.sh").as("sh"),
        (col("pos") + 1).cast("long").as("p"), col("sz"))
      .localCheckpoint()
    // r15: ppjoin POSITIONAL filter (Xiao/Wang/Lin/Yu WWW'08), lossless
    // by the same family of arguments as the prefix filter itself —
    // the FULL accumulation form (r15b; the first cut used only the
    // FIRST shared element's bound, which this strictly dominates).
    // Position is monotone in the global (dfreq, sh) order within
    // every doc, so over a pair's shared prefix elements: cnt counts
    // them, and max(p_a) / max(p_b) are the two positions of the SAME
    // element — the LAST shared one, e*. Every common element of the
    // full sets ranked <= e* is in both prefixes (its positions are
    // <= the prefix cuts that admit e*), so there are exactly cnt of
    // those; common elements ranked > e* occupy positions > max(p) on
    // each side, so there are <= min(sz_a − max_pa, sz_b − max_pb).
    // Hence |A∩B| <= cnt + min(sz_a − max_pa, sz_b − max_pb) — and
    // since shared positions are distinct and increasing,
    // max_p >= first_p + cnt − 1, which makes this bound <= the
    // first-element bound 1 + min(sz − first_p) on every pair: a
    // strictly tighter lossless cut for the same aggregate exchange.
    // J >= t needs |A∩B| >= t/(1+t)·(sz_a + sz_b), so pairs whose
    // upper bound falls short cannot qualify and are dropped BEFORE
    // the verify joins (which at corpus scale carry the set arrays).
    // The 1e-6 slack mirrors the prefix-length guard: a one-ulp drift
    // can only LOWER the required-overlap estimate, keeping extra
    // pairs — never dropping a qualifying one. Sizes are constant per
    // doc, so min() reads them off the aggregate for free; everything
    // rides the exchange the r14 .distinct() already paid.
    val shared = prefix
      .select(col("sh"), col("id").as("id_a"), col("p").as("p_a"),
        col("sz").as("sz_a"))
      .join(prefix.select(col("sh"), col("id").as("id_b"),
        col("p").as("p_b"), col("sz").as("sz_b")), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("cnt"),
        max(col("p_a")).as("mpa"), max(col("p_b")).as("mpb"),
        min(col("sz_a")).as("sz_a"), min(col("sz_b")).as("sz_b"))
    val needOverlap = ceil(
      lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b"))
        - lit(1e-6))
    // length filter (same paper, same slack idiom): J <= min/max of the
    // set sizes, so J >= t needs min >= t·max — scalars already in the
    // aggregate, one more conjunct, zero added plan cost
    val cands = shared
      .filter(least(col("sz_a"), col("sz_b")) >=
        ceil(lit(threshold) * greatest(col("sz_a"), col("sz_b"))
          - lit(1e-6)))
      .filter(col("cnt") + least(col("sz_a") - col("mpa"),
        col("sz_b") - col("mpb")) >= needOverlap)
      .select(col("id_a"), col("id_b"))
    verifyJaccardSets(cands, sets, threshold)
  }

  /** Asymmetric shingle containment |A∩B| / |A| — catches subset
    * duplicates (a doc wholly contained in a longer one) that
    * symmetric Jaccard misses: a prefix half of a doc has containment
    * 1.0 into its source but Jaccard ≈ 0.5, below any useful
    * threshold. Same capped index self-join as [[ngramJaccardPairs]]
    * ([[sharedKeyCounts]]: two 8-byte shuffles, partial-aggregatable
    * intersection counts, semi-join doc-frequency cap); each surviving
    * unordered pair emits up to two directed (id_sub ⊆ id_super) rows.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9,
      maxDocFreq: Long = 1000): DataFrame =
    sharedKeyCounts(docShingleSets(df, idCol, textCol, n).localCheckpoint(),
        maxDocFreq)
      .select(explode(array(
        struct(col("id_a").as("id_sub"), col("id_b").as("id_super"),
          round(col("inter").cast("double") / col("sz_a"), 6).as("containment")),
        struct(col("id_b").as("id_sub"), col("id_a").as("id_super"),
          round(col("inter").cast("double") / col("sz_b"), 6).as("containment")))).as("p"))
      .select(col("p.id_sub"), col("p.id_super"), col("p.containment"))
      .filter(col("containment") >= threshold)

  /** Source-level contamination matrix: directed shingle containment
    * |S(a) ∩ S(b)| / |S(a)| between source-level shingle SETS — the
    * cross-source leakage screen run before mixing corpora (is
    * source X largely a re-crawl of source Y?). The shingle index is
    * keyed by SOURCE, so the self-join's per-shingle expansion is
    * bounded by #sources² (a constant ~400 for 20 sources) regardless
    * of corpus size; intersection counts partial-aggregate map-side.
    * The ratio is computed by half-up integer division — never a
    * float round, so the oracle comparison cannot hit a decimal tie.
    */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // source-keyed: ids repeat across rows, so the cross-row distinct
    // stays — but the per-row array_distinct inside docShingleSets
    // already collapses within-doc repeats BEFORE the explode, so the
    // distinct exchange reads the reduced stream (guide §2.3: shuffle
    // fewer bytes).
    val idx = explodeSets(docShingleSets(df, srcCol, textCol, n))
      .distinct().localCheckpoint()
    val sizes = idx.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // The self-join's per-shingle expansion is bounded by #sources²
    // (the key is the source, not the doc), so the r13 join shape
    // stays: A/B'd r14 alternatives — a df>=2 keep-list semi-join and
    // a grouped in-row pair expansion — both measured SLOWER on the
    // fixture (1.28 s vs 1.56/2.4 s at sf0.1: the synthetic vocabulary
    // puts most shingles in many sources, so the prefilter removes
    // little and pays its extra exchanges; on a real corpus the
    // expansion is tiny either way, bounded by sources²).
    idx.select(col("sh"), col("id").as("src_a"))
      .join(idx.select(col("sh"), col("id").as("src_b")), "sh")
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "src_a")
        .withColumnRenamed("sz", "sz_a"), "src_a")
      .select(col("src_a"), col("src_b"),
        col("inter").cast("long").as("n_shared"),
        // widen to decimal before the ×2e6 scale-up: at 100 TB a source
        // pair can share ~1e13 distinct shingles and the Long multiply
        // would wrap silently (the DuckDB twin widens to HUGEINT)
        (expr("(CAST(inter AS DECIMAL(38,0)) * 2000000 + sz_a) div (2 * sz_a)")
          .cast("double") / lit(1e6)).as("containment"))
  }

  /** Exact duplicated-substring spans: maximal runs of ≥ `minTokens`
    * consecutive tokens that appear verbatim in at least two distinct
    * docs — the substring-level dedup a training pipeline runs AFTER
    * document-level passes (boilerplate headers/footers and quoted
    * blocks survive doc-level Jaccard because the host docs differ).
    * Returns (doc_id, span_start, span_tokens), span_start 1-based.
    *
    * Shape: every L-token window hashes to 8 bytes (one explode, no
    * window yet); windows whose hash occurs in ≥2 docs survive a
    * map-side-combinable (hash → distinct-doc count) aggregate; the
    * surviving (doc, pos) hits coalesce into maximal spans with the
    * classic islands trick (pos − row_number per doc — a per-doc
    * window, parallel across docs). Two shuffles on 8-byte keys plus
    * one per-doc window; never doc×doc. Duplicate detection is by
    * xxhash64 — collision odds ~(distinct windows)²/2⁶⁴, the accepted
    * trade at corpus scale (the md5/string-join twin would shuffle
    * full window text); the DuckDB twin joins on the window STRING,
    * so a collision would surface as a parity failure, not silent
    * agreement.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20): DataFrame = {
    val grams = windowHashes(df, idCol, textCol, minTokens)
    val dup = grams.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val hits = grams.join(dup, "h").select(col("id"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    hits
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + minTokens).cast("long").as("span_tokens"))
      .select(col("id").as("doc_id"), col("span_start"), col("span_tokens"))
  }

  /** Pinned (id, pos, h) window-hash rows — pos 1-based, h = xxhash64
    * of the L-token window. Feeds TWO consumers in both span operators
    * (the dup-hash aggregate and the hits join); localCheckpoint'ed so
    * the corpus scan + tokenize + explode runs ONCE — unpinned, the
    * executed plan re-read and re-tokenized the corpus for the second
    * consumer (4 parquet scans instead of 2), doubling the dominant
    * cost at 100 TB.
    */
  private[graft] def windowHashes(df: DataFrame, idCol: String,
      textCol: String, minTokens: Int): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(graft.functions.GraftFunctions.shingleHashes(
          TextAnalysis.tokens(col(textCol)), minTokens)))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("h"))
      .localCheckpoint()

  /** Span excision — the consumer of [[duplicatedSpans]]: rebuild each
    * doc's text with its duplicated spans REMOVED, keeping the
    * first-occurrence owner (min doc id per duplicated window hash)
    * intact. Returns one row per input doc:
    * (doc_id, cleaned_text, n_dropped), where cleaned_text is the
    * token-rebuilt text (lowercased, single-space joined — the same
    * token domain the detection ran in) and n_dropped counts removed
    * tokens. A doc that owns every span it participates in (or shares
    * nothing) passes through with n_dropped = 0.
    *
    * Shape: the same two 8-byte shuffles + per-doc islands window as
    * [[duplicatedSpans]] (the window-hash explode is pinned and feeds
    * both the dup aggregate and the hits join), then ONE broadcast-free
    * equi-join of per-doc span lists back onto the corpus. The rebuild
    * is pure column math — `filter(toks, (t, i) => !exists(spans, …))`
    * — per-row cost O(tokens × spans), both bounded by the DOC length,
    * never by corpus size; no position explode of the corpus, no
    * doc×doc work. Duplicate grouping is by xxhash64 exactly as in
    * detection; the DuckDB twin groups by the window STRING, so a hash
    * collision (odds ~windows²/2⁶⁴) surfaces as a parity failure.
    */
  def scrubSpans(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20): DataFrame = {
    val grams = windowHashes(df, idCol, textCol, minTokens)
    val dup = grams.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("nd"), min(col("id")).as("owner"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("owner"))
    // every occurrence of a duplicated window in a NON-owner doc
    val hits = grams.join(dup, "h")
      .filter(col("id") =!= col("owner"))
      .select(col("id"), col("pos"))
    exciseHits(df, idCol, textCol, hits, minTokens)
  }

  /** Intra-document repeated-span excision — the WITHIN-doc complement
    * of [[scrubSpans]] (web boilerplate: nav blocks, repeated headers,
    * template runs repeat inside ONE document and survive every
    * cross-doc pass). For each doc, an L-token window whose hash
    * already occurred ≥ L positions earlier in the SAME doc is a
    * repeat hit; hits coalesce into maximal spans and their tokens are
    * dropped, keeping each window's FIRST occurrence intact. The
    * `pos ≥ first + L` guard means occurrences overlapping the kept
    * first occurrence are treated as part of it (a self-overlapping
    * run like `a a a a` keeps its first window, not just one token).
    * Returns (doc_id, cleaned_text, n_dropped), same contract as
    * [[scrubSpans]].
    *
    * Shape: one pinned window-hash explode, ONE (id, h) map-side-
    * combinable aggregate (min pos — cheaper than the cross-doc form:
    * no distinct-doc count), the hits join, then the shared islands +
    * rebuild. All shuffles key on (id, h) or id — never doc×doc, and
    * repeats are found per-doc, so task memory is bounded by the
    * longest DOC, not the corpus.
    */
  def scrubRepeats(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20): DataFrame = {
    val grams = windowHashes(df, idCol, textCol, minTokens)
    val first = grams.groupBy(col("id"), col("h"))
      .agg(min(col("pos")).as("first"))
    val hits = grams.join(first, Seq("id", "h"))
      .filter(col("pos") >= col("first") + minTokens)
      .select(col("id"), col("pos"))
    exciseHits(df, idCol, textCol, hits, minTokens)
  }

  /** Shared excision tail: coalesce repeat-window hits (id, pos) into
    * maximal spans (islands trick: pos − row_number per doc — a
    * per-doc window, parallel across docs), then rebuild each doc's
    * text with covered tokens dropped. The rebuild is pure column math
    * — `filter(toks, (t, i) => !exists(spans, …))` — per-row cost
    * O(tokens × spans), both bounded by the DOC length, never by
    * corpus size; no position explode of the corpus. Two islands < L
    * apart yield OVERLAPPING spans — the coverage filter handles that
    * naturally (a token drops if ANY span covers it).
    */
  private def exciseHits(df: DataFrame, idCol: String, textCol: String,
      hits: DataFrame, minTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val spans = hits
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + minTokens - 1).as("e"))
      .groupBy(col("id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    df.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .join(spans, Seq("id"), "left")
      .withColumn("kept", when(col("spans").isNull, col("toks"))
        .otherwise(filter(col("toks"), (_, i) =>
          !exists(col("spans"), sp =>
            (i + 1 >= sp.getField("s")) && (i + 1 <= sp.getField("e"))))))
      .select(col("id").as("doc_id"),
        array_join(col("kept"), " ").as("cleaned_text"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_dropped"))
  }

  /** Exact Jaccard evaluated ONLY for the given candidate pairs over
    * a doc-set frame ([[docShingleSets]]' sorted-distinct arrays):
    * one pair of equi-joins attaches each side's size and set, the
    * intersection runs inside codegen. Cost is bounded by
    * |candidates| — this is the verification stage an LSH pass is
    * supposed to buy, never a full-corpus pair expansion.
    *
    * Skew gate: the array path hash-partitions pairs by doc id, so a
    * pathological doc (tens of thousands of shingles × hundreds of
    * candidate partners) funnels ALL its pairs into one task, each row
    * carrying the full set array (~50k-long) — a single-task hotspot
    * with giant rows. Pairs where EITHER side's set exceeds
    * `largeSetGate` instead verify through the exploded index: join
    * the pair list to the (id, sh) rows on both sides and count
    * matching shingles per pair — the same total volume, but spread
    * across the cluster by (id, sh) with map-side-combinable counts
    * and 24-byte rows, no giant arrays. Both branches are EXACT;
    * results are identical (a zero-intersection large pair drops out
    * of the count join, which any threshold > 0 filters anyway —
    * asserted).
    *
    * The size-annotated candidate list is localCheckpoint'ed, and an
    * `Observation` on that (eager) checkpoint counts the pairs past the
    * gate in the same pass. The index branch is planned only when that
    * count is > 0: planned unconditionally, AQE's initial plan built
    * both broadcast hash relations of the exploded index (every set
    * element, twice) before it could see the branch was empty — on
    * every call, although at the gate's 8192 almost no corpus has a
    * large pair.
    */
  def verifyJaccardSets(
      candidates: DataFrame, sets: DataFrame, threshold: Double,
      largeSetGate: Int = 8192): DataFrame = {
    require(threshold > 0,
      "verifyJaccardSets needs threshold > 0 (zero-intersection pairs drop out)")
    // ONE pair of set joins attaches size AND (small) array per side —
    // the r13 shape paid two separate joins per side (sizes, then
    // sets). Arrays above the skew gate are nulled IN the join's fused
    // projection (the original gate rationale). r15: the small-branch
    // merge-intersect is ALSO computed inside that fused projection,
    // so the checkpointed pair rows carry five scalars and never an
    // array — at the sf1 prefix tier the pinned bytes drop from two
    // ~88-element long arrays per pair (~1 GB across 668k pairs) to
    // ~40 B/pair (guide §2.3: pin/shuffle derived scalars, not
    // payloads). inter_sm is null exactly when either side's set
    // exceeds the gate — the branch predicate the filters below read.
    val largeCount = Observation()
    def side(suffix: String): DataFrame = sets.select(
      col("id").as(s"id_$suffix"),
      size(col("shs")).cast("long").as(s"sz_$suffix"),
      when(size(col("shs")) <= largeSetGate, col("shs")).as(s"shs_$suffix"))
    val cand = candidates.select(col("id_a"), col("id_b"))
      .join(side("a"), "id_a")
      .join(side("b"), "id_b")
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        // sorted-set linear-merge intersect — equals
        // size(array_intersect(...)) on the doc-set frame's canonical
        // arrays, without per-row hash-set builds (pinned by spec)
        when(col("shs_a").isNotNull && col("shs_b").isNotNull,
          graft.functions.GraftFunctions.sortedIntersectSize(
            col("shs_a"), col("shs_b")).cast("long")).as("inter_sm"))
      .observe(largeCount, count_if(col("inter_sm").isNull).as("n"))
      .localCheckpoint()
    def jaccardOf(inter: Column, szA: Column, szB: Column): Column =
      round(inter.cast("double") / (szA + szB - inter), 6)

    val small = cand
      .filter(col("inter_sm").isNotNull)
      .select(col("id_a"), col("id_b"),
        jaccardOf(col("inter_sm"), col("sz_a"), col("sz_b")).as("jaccard"))
    // read after the checkpoint above has run: `get` waits for the
    // action that fills it
    val verified = if (largeCount.get("n") == 0L) small else {
      val largePairs = cand
        .filter(col("inter_sm").isNull)
        .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      val idx = explodeSets(sets)
      val largeInter = largePairs.select(col("id_a"), col("id_b"))
        .join(idx.select(col("id").as("id_a"), col("sh")), "id_a")
        .join(idx.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("inter"))
      val large = largePairs
        .join(largeInter, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"),
          jaccardOf(col("inter"), col("sz_a"), col("sz_b")).as("jaccard"))
      small.unionByName(large)
    }
    verified
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash signatures off a doc-set frame: k independent
    * permutations simulated as xxhash64 with per-slot salts over the
    * 8-byte shingle hash (slot i = min over the set of
    * `xxhash64(i, sh)`), computed in ONE codegen'd pass over the in-row
    * array (precomputed slot seeds, tight primitive loop) — no shuffle
    * and no k-buffer aggregation. Values are bit-identical to the
    * per-slot `min(xxhash64(lit(i), sh))` aggregate over the exploded
    * index (pinned by ShingleMinHashSpec); docs with empty sets are
    * dropped.
    */
  def minhashSignaturesOfSets(sets: DataFrame, k: Int = 16): DataFrame =
    sets.filter(size(col("shs")) > 0)
      .select(col("id"),
        graft.functions.GraftFunctions.minhashSig(col("shs"), k).as("sig"))

  /** Size banded MinHash for a corpus decade: the minimal bands `b`
    * such that a pair AT the detection threshold `t` is missed with
    * probability `(1 − t^rows)^b ≤ missBound` (pairs above `t` miss
    * with even lower probability — the banding is effectively
    * lossless above threshold), returned as (bands, k = rows·bands).
    *
    * Why `rows` is the scale dial: a RANDOM pair co-buckets in one
    * band with probability E[s^rows] over the background similarity
    * s, so false candidates grow as Θ(n²·b·E[s^rows]) — fixed
    * (rows, bands) has an n²-growth candidate floor, measured at the
    * 1000× replica (1.62 → 10.42 candidates/doc from 571k → 5.7M
    * docs at the shipped rows=2, bands=32; exact verification still
    * absorbs it there, 59.5M pairs in 268 s). Each +1 of `rows`
    * multiplies the random floor by another E[s] while this function
    * restores the miss bound with more bands — at t=0.6, ε=1e-6 the
    * ladder is rows 2→(32 bands, k=64), 3→(57, 171), 4→(100, 400):
    * roughly 1.8× more signature hashes per rung, the explicit
    * cost/recall trade a deployment makes one rung per ~decade of n.
    * The registered fixture queries keep the shipped (64, 32) — their
    * DuckDB twins replay that banding verbatim.
    */
  def bandPlan(threshold: Double, missBound: Double, rows: Int): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(missBound > 0 && missBound < 1, s"missBound in (0,1), got $missBound")
    require(rows >= 1, s"rows >= 1, got $rows")
    val pBand = math.pow(threshold, rows)
    val bandsD = math.ceil(math.log(missBound) / math.log1p(-pBand))
    // Fail loudly instead of letting ceil(...).toInt saturate at
    // Int.MaxValue (and k = rows·bands wrap): a plan past 1e6 bands
    // means the (threshold, missBound, rows) combination is
    // unsatisfiable in practice — lower `rows` or loosen `missBound`.
    require(bandsD.isFinite && bandsD <= 1e6,
      s"bandPlan(threshold=$threshold, missBound=$missBound, rows=$rows) " +
        s"needs ${if (bandsD.isFinite) bandsD.toLong.toString else "infinitely many"} " +
        "bands (> 1e6): the combination is unsatisfiable — lower rows or loosen missBound")
    val bands = math.max(1, bandsD.toInt)
    (bands, rows * bands)
  }

  /** Pick the rows-per-band RUNG too — [[bandPlan]] with the last
    * caller dial derived. For each candidate `rows`, the miss bound
    * fixes bands(rows); what distinguishes rungs is the work split:
    *
    *  - signature work ∝ k(rows) = rows·bands(rows) hashes per doc
    *    (grows ~1.8×/rung at t = 0.6 — the ladder 16, 64, 171, 400,
    *    855, …), and
    *  - false-candidate work ∝ nDocs·bands(rows)·E[s^rows] expected
    *    random co-bucketings per doc, each paying one exact-Jaccard
    *    verify (the S-curve argument: a random pair co-buckets in one
    *    band with probability E[s^rows], so every +1 of rows buys a
    *    multiplicative E[s] suppression of the floor — steeper curve
    *    at the threshold — at ~1.8× the signature cost).
    *
    * The rung minimizing their sum is therefore a function of nDocs:
    * cost(rows) = k(rows) + nDocs·bands(rows)·bgSim^rows·verifyCost,
    * argmin over the satisfiable rungs. `bgSim` models the effective
    * background per-band similarity of a NON-duplicate pair
    * (s.t. E[s^rows] ≈ bgSim^rows; 0.01 is conservative for 3-token
    * shingle Jaccard over natural text, where random docs share
    * almost no shingles) and `verifyCost` the verify-to-hash cost
    * ratio. Both are model constants, not fixture fits: under the
    * defaults at (t = 0.6, ε = 1e-6) the crossovers sit at
    * cost-equality of adjacent rungs — rows = 2 → (31, 62) (one band
    * under the shipped (32, 64), which is minimal + 1) below ~700
    * docs, rows = 3 → (57, 171) to ~82k, rows = 4 → (100, 400) to
    * ~9M, rows = 5 → (171, 855) beyond: the roughly
    * one-rung-per-two-decades climb the fixed form makes the caller
    * take by hand. Any rung it picks is lossless above `threshold` up
    * to `missBound` by [[bandPlan]]'s construction, so the choice
    * moves COST only, never the answer — which is why one
    * exact-Jaccard twin grades every tier.
    *
    * @return (rows, bands, k)
    */
  def bandPlanAuto(threshold: Double, missBound: Double, nDocs: Long,
                   bgSim: Double = 0.01,
                   verifyCost: Double = 50.0): (Int, Int, Int) = {
    // Validate threshold/missBound HERE, not only inside bandPlan: the
    // per-rung try below treats a rung's IllegalArgumentException as
    // "rung unsatisfiable, skip it", so a globally invalid threshold
    // (e.g. t >= 1) would silently skip every rung and surface as
    // `empty.minBy` instead of a clear refusal.
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(missBound > 0 && missBound < 1, s"missBound in (0,1), got $missBound")
    require(nDocs >= 1, s"nDocs >= 1, got $nDocs")
    require(bgSim > 0 && bgSim < 1, s"bgSim in (0,1), got $bgSim")
    require(verifyCost > 0, s"verifyCost > 0, got $verifyCost")
    val rungs = (1 to 16).flatMap { r =>
      // a rung unsatisfiable under bandPlan's 1e6-band guard is simply
      // not a candidate (rows=1 is always satisfiable for t<1, so the
      // ladder is never empty)
      try {
        val (bands, k) = bandPlan(threshold, missBound, r)
        val cost = k.toDouble +
          nDocs.toDouble * bands * math.pow(bgSim, r) * verifyCost
        Some((cost, r, bands, k))
      } catch { case _: IllegalArgumentException => None }
    }
    // min by cost; ties break to the SMALLER rows (cheaper signatures)
    // deterministically
    val (_, r, bands, k) = rungs.minBy { case (c, r, _, _) => (c, r) }
    (r, bands, k)
  }

  /** [[nearDupPairsPlanned]] with the rows rung derived from the
    * corpus size by [[bandPlanAuto]] — zero banding dials left. The
    * banding it picks is lossless above `threshold` up to `missBound`
    * by the same argument as the fixed-rung form, so the exact-Jaccard
    * twin remains the correctness oracle at every tier.
    *
    * `nDocs` (when > 0) supplies the corpus size so no counting pass
    * runs at all — callers usually already know it (a table count, or
    * base-count arithmetic over a planted fixture), and the rung only
    * needs order of magnitude: the cost-model crossovers sit roughly
    * one rung per two decades, so any estimate within ~2× of the true
    * count picks either the argmin rung or its cost-equal neighbor —
    * and EVERY satisfiable rung is lossless, so the answer never
    * moves. Left at -1, the input frame is counted, re-executing its
    * lineage once (fine for a parquet scan, wasteful for a transformed
    * frame at corpus scale).
    */
  def nearDupPairsAuto(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, missBound: Double, nDocs: Long = -1L): DataFrame = {
    val count = if (nDocs > 0) nDocs else df.count()
    val (rows, _, _) = bandPlanAuto(threshold, missBound, count)
    nearDupPairsPlanned(df, idCol, textCol, n, threshold, missBound, rows)
  }

  /** (id, band, band_hash) LSH bucket keys off a doc-set frame —
    * shared by the self-join candidate path and the asymmetric
    * new-vs-reference path. rows = k/bands sets the LSH S-curve
    * threshold at (1/bands)^(1/rows) — e.g. bands=8, rows=2 → ≈0.35,
    * catching pairs down to ~0.5 Jaccard with high recall. The band
    * string/hash construction is replayed verbatim by the DuckDB
    * XXH64 oracle (minhashBandedCtes) — do not change one without
    * the other.
    */
  def bandHashesOfSets(sets: DataFrame, k: Int, bands: Int): DataFrame =
    bandExplode(minhashSignaturesOfSets(sets, k), bands)

  /** The shared (id, band, band_hash) construction over (id, sig)
    * rows (rows per band = signature length / `bands`): comma-joined
    * signed band strings, `xxhash64(band, str)` —
    * replayed verbatim by the DuckDB oracle (minhashBandedCtes); do
    * not change one without the other. r15: one codegen'd pass
    * ([[graft.functions.BandHashes]], bit-parity with the r13/r14
    * HOF chain pinned by ShingleMinHashSpec — the interpreted chain
    * allocated a slice + per-slot strings + a concat per band).
    */
  private[graft] def bandExplode(sigs: DataFrame, bands: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(graft.functions.GraftFunctions.bandHashes(col("sig"), bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

  /** LSH candidate pairs off a doc-set frame: band the signature
    * (bands × rowsPerBand = k), hash each band, join docs sharing any
    * band bucket. Then verify with exact Jaccard
    * ([[verifyJaccardSets]]) if precision matters.
    */
  def minhashCandidatesFromSets(
      sets: DataFrame, k: Int = 16, bands: Int = 8): DataFrame =
    bandSelfJoin(bandHashesOfSets(sets, k, bands))

  private def bandSelfJoin(banded: DataFrame): DataFrame = {
    // r15 investigated-and-rejected: pre-repartitioning by
    // (band, band_hash) so the two sides share one exchange
    // (guide §2.4) does NOT pay here — at every benchable tier the
    // planner broadcasts one side (the band frame is checkpoint-sized,
    // no shuffle exists to share; the optimizer then drops the
    // repartition), and with broadcast forced off the repartition form
    // measured 2.5× SLOWER than this aliased form with no
    // ReusedExchange materializing (identical 44,741-pair output).
    // Keep the plain aliased self-join.
    val l = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Incremental near-dup screen: which NEW docs duplicate a frozen
    * REFERENCE corpus — the daily-refresh shape of a training
    * pipeline, where re-running the full self-join over corpus ∪
    * batch would redo O(corpus) work to answer an O(batch) question.
    * Returns (id_ref, id_new, jaccard) for every cross pair at or
    * above `threshold`.
    *
    * Shape: both sides build the standard doc-set frame; candidates
    * come from an ASYMMETRIC band join (new × ref only — no new×new,
    * no ref×ref, so candidate volume is proportional to true cross
    * duplication, not corpus size), then the exact-Jaccard verify
    * runs over the unioned set frames. At 100 TB the reference side's
    * sets and band hashes are write-once artifacts: nothing here
    * recomputes per batch except the (small) new side and the
    * cross join on (band, band_hash) — which Catalyst plans as a
    * plain equi-join, broadcastable when the batch is small.
    *
    * Caller contract: id spaces of the two sides are disjoint (the
    * verify pass unions both set frames; colliding ids would merge
    * shingle sets across sides and inflate sizes).
    */
  def dedupAgainstReference(
      newDf: DataFrame, refDf: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      k: Int = 64, bands: Int = 32): DataFrame = {
    val setsNew = docShingleSets(newDf, idCol, textCol, n).localCheckpoint()
    val setsRef = docShingleSets(refDf, idCol, textCol, n).localCheckpoint()
    val cand = bandHashesOfSets(setsNew, k, bands)
      .select(col("band"), col("band_hash"), col("id").as("id_new"))
      .join(bandHashesOfSets(setsRef, k, bands)
        .select(col("band"), col("band_hash"), col("id").as("id_ref")),
        Seq("band", "band_hash"))
      .select(col("id_ref").as("id_a"), col("id_new").as("id_b"))
      .distinct()
    verifyJaccardSets(cand, setsNew.unionByName(setsRef), threshold)
      .select(col("id_a").as("id_ref"), col("id_b").as("id_new"), col("jaccard"))
  }

  /** LSH candidate pairs straight from a corpus (convenience form). */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 8): DataFrame =
    minhashCandidatesFromSets(docShingleSets(df, idCol, textCol, n), k, bands)

  /** 64-bit SimHash: per-token xxhash64, each bit votes ±1, sign of the
    * vote total sets the fingerprint bit. One shuffle (groupBy id).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .withColumn("h", xxhash64(col("token")))
    val votes = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j"))
    // Repartition by id BEFORE the wide-state aggregation (64 sums per
    // doc over exploded tokens): a plain groupBy plans a map-side
    // partial aggregate whose per-task hash map spans up to EVERY doc
    // group, for a combine that buys almost nothing because token rows
    // have zero group locality before the shuffle. Pre-hashing rows
    // onto their reducer bounds the map by groups-per-partition
    // instead of groups-per-corpus at the cost of shuffling raw rows —
    // the trade that stays flat at any corpus size (the exploded-index
    // MinHash aggregate of the same shape died with
    // AGGREGATE_OUT_OF_MEMORY at the 5.7M-doc 1000× replica).
    tok.repartition(col("id")).groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .withColumn("simhash",
        (0 until 64).map(j =>
          when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)))
      .select(col("id"), col("simhash"))
  }

  /** Oracle-checkable SimHash twin: per-token 64-bit hash taken from
    * the first 16 hex chars of md5 (so any engine can replay it), bit
    * votes identical to [[simhash]], fingerprint emitted as a 64-char
    * bit string (bit 63 first — no signed-integer-width pitfalls at
    * the SQL boundary). The xxhash64 form is the scale path (one
    * 8-byte hash per token instead of md5 + hex slicing); this twin
    * pins its semantics under an exact cross-engine oracle.
    */
  def simhashMd5Bits(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .withColumn("hx", substring(md5(col("token").cast("binary")), 1, 16))
    val votes = (0 until 64).map { j =>
      val nib = conv(substring(col("hx"), 16 - j / 4, 1), 16, 10).cast("int")
      sum(when(shiftright(nib, j % 4).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j")
    }
    tok.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        concat((63 to 0 by -1).map(j =>
          when(col(s"v$j") > 0, "1").otherwise("0")): _*).as("simhash_bits"))
  }

  /** Near-dup pairs under [[bandPlan]]-derived banding — the sizing
    * rule made executable: (bands, k) = bandPlan(threshold, missBound,
    * rows), LSH candidates from that derived banding, exact-Jaccard
    * verify at the same threshold. The plan bounds the at-threshold
    * per-pair miss probability by `missBound` (pairs above threshold
    * miss with lower probability still), so the output is the exact
    * ≥-threshold pair set up to that bound — which is why the
    * registered query's DuckDB twin is the EXACT pair SQL: the oracle
    * passing IS the losslessness proof for the derived plan, at every
    * rung of `rows`, not just the shipped (32 bands, k=64) one.
    */
  def nearDupPairsPlanned(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, missBound: Double, rows: Int): DataFrame = {
    val (bands, k) = bandPlan(threshold, missBound, rows)
    val sets = docShingleSets(df, idCol, textCol, n).localCheckpoint()
    verifyJaccardSets(minhashCandidatesFromSets(sets, k, bands), sets, threshold)
  }

  /** The composed corpus-dedup operation: MinHash-LSH candidates →
    * exact-Jaccard verification OF THE CANDIDATES ONLY → connected
    * components → canonical (min id) per duplicate cluster. Returns
    * (id, canonical_id) for every input doc; `filter(id ===
    * canonical_id)` yields the deduped corpus.
    *
    * Shuffle budget: one in-row doc-set frame feeds both stages (it
    * is localCheckpoint'ed), in-row signatures (0) + band join (1) +
    * candidate-bounded verify (2 equi-joins) + CC over the duplicate
    * graph. The exact-Jaccard pass never touches non-candidate pairs —
    * at 100 TB the LSH stage is what makes verification affordable.
    *
    * k=64/bands=32 puts per-pair recall at threshold 0.6 above
    * 1 − (1 − 0.6²)³² ≈ 1 − 7e−7 — the candidate stage is effectively
    * lossless for true pairs, which is what lets a full-Jaccard oracle
    * check this end-to-end.
    *
    * Component assignment is [[Components.canonical]] on the long ids:
    * up to `driverCcThreshold` duplicate edges run driver union-find,
    * more fall back to the distributed large-star / small-star
    * contraction, whose mapping is not broadcast.
    */
  def nearDupDedup(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      k: Int = 64, bands: Int = 32,
      driverCcThreshold: Int = 1000000): DataFrame = {
    // The pinned doc-set frame carries EVERY doc (empty sets included),
    // so canonical assignment reads ids off the checkpoint instead of
    // re-executing the input lineage a second time.
    val sets = docShingleSets(df, idCol, textCol, n).localCheckpoint()
    val cands = minhashCandidatesFromSets(sets, k, bands)
    val verified = verifyJaccardSets(cands, sets, threshold)
    Components.canonical(sets.select(col("id")), verified, driverCcThreshold)
  }

  /** The end-to-end training-corpus preparation chain — what a 100 TB
    * pipeline actually runs before tokenization:
    *
    *   quality + language gate  (pure column predicates, inside the
    *                             scan's codegen — no shuffle)
    *   → exact dedup            (keep min id per content fingerprint —
    *                             one hash shuffle)
    *   → near-dup dedup         (LSH → candidate-bounded verify → CC —
    *                             [[nearDupDedup]]'s shuffle budget)
    *
    * Returns the ids of the surviving documents. Stage order is the
    * cost order: each stage shrinks the corpus the next (more
    * expensive) stage sees.
    */
  def prepareCorpus(
      df: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.5, lang: String = "en",
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    // r14: ONE tokenize pass feeds the whole chain. The r13 form
    // re-split every document ~7 times in the gate alone (5 language
    // scores + quality's token count and stopword hits), an 8th time
    // for the fingerprint, and a 9th for the shingles; binding the
    // token array in one projection evaluates the identical
    // expressions over a shared array. The exact-dedup window then
    // shuffles (id, _fp, shs) — the derived 8-byte shingle sets — so
    // the raw text never crosses an exchange and the survivors need no
    // re-tokenization (guide §2.3: shuffle keys and derived metadata,
    // not payloads).
    val toked = df.select(col(idCol).as("id"), col(textCol).as("_text"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .filter(
        TextAnalysis.qualityScoreOf(col("_text"), col("_toks")) >= minQuality &&
          TextAnalysis.langIdOf(col("_toks")) === lang)
      .select(col("id"),
        md5(concat_ws(" ", col("_toks"))).as("_fp"),
        // longSortedSet, NOT array_distinct: verifyJaccardSets' small
        // branch intersects by sorted linear merge and silently
        // undercounts on unsorted input (mid-document edits) — the shs
        // column must be the doc-set frame's sorted-distinct canonical
        // form, exactly as docShingleSets builds it.
        graft.functions.GraftFunctions.longSortedSet(
          graft.functions.GraftFunctions.shingleHashes(
            col("_toks"), n)).as("shs"))
    // exact dedup through the native partial/final top-k operator (min
    // id per fingerprint == top-1 by id): at most one row per
    // fingerprint per input partition reaches the exchange, where the
    // r13 row_number window shuffled EVERY gated row and sorted each
    // partition. A groupBy+semi-join would evaluate the gate chain on
    // both join sides.
    val sets = graft.plans.TopK.perKey(toked,
        Seq(col("_fp")), Seq(col("id").asc), 1)
      .select(col("id"), col("shs"))
      .localCheckpoint()
    val cands = minhashCandidatesFromSets(sets, 64, 32)
    val verified = verifyJaccardSets(cands, sets, threshold)
    Components.canonical(sets.select(col("id")), verified)
      .filter(col("id") === col("canonical_id"))
      .select(col("id").as("doc_id"))
  }

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by simhash: block on 16-bit chunks (a ≤k-distance
    * pair must agree on ≥ one chunk for k < 4), verify with hamming.
    */
  def simhashPairs(fingerprints: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunked = fingerprints.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val l = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val r = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
