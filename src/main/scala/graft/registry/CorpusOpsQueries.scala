package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.OracleSafe
import graft.text.TextAnalysis

/** Corpus-operations extension family: ranked retrieval (BM25),
  * segment-level exact dedup, dataset profiling, and time-series gap
  * filling. Each query carries a full DuckDB twin; floating-point
  * aggregates go through exact decimal sums or fixed-order addition so
  * the hash gate is partitioning- and engine-independent.
  */
object CorpusOpsQueries extends QueryRegistry {

  /** BM25 parameters (Robertson/Sparck Jones defaults). */
  private val K1 = 1.2
  private val B  = 0.75
  /** Fixed query-term set (all present in the fixture vocabulary). */
  private val BmTerms = Seq("spark", "join", "window")

  /** Segment width (tokens) for segment-level exact dedup. */
  private val SegTokens = 20

  private val ProfileCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** DSIR parameters: hashed-ngram bucket count (3 md5 hex nibbles —
    * fixed by the featurizer), the target-domain predicate (docs whose
    * hashed-ngram distribution the selection should match), and the
    * resample size. Interpolated into BOTH the Spark code and the
    * DuckDB twin so the two can never drift.
    */
  private val DsirBuckets = 4096
  private val DsirTargetLang = "en"
  private val DsirK = 100

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 ranked retrieval over the corpus for a fixed term set.
    // Corpus stats (N, avgdl, per-term df) are a driver scalar from one
    // tiny stats job — embedded as literals, NOT a 1-row join (a
    // scalar-subquery shape would plan a nested loop). The scoring pass
    // is then pure per-row column math in the scan: no shuffle until
    // the global top-k sort of the (tiny) score column. Per-term
    // contributions are summed in fixed left-to-right order so the
    // double addition is engine-identical before rounding.
    "text_bm25_topk" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      val statAggs =
        count(lit(1)).cast("double").as("n") ::
        avg(size(col("tk"))).as("avgdl") ::
        BmTerms.map(t =>
          sum(when(array_contains(col("tk"), t), 1).otherwise(0))
            .cast("double").as(s"df_$t")).toList
      val statsRow = toks.agg(statAggs.head, statAggs.tail: _*).head()
      val n = statsRow.getDouble(0)
      val avgdl = statsRow.getDouble(1)
      val dl = size(col("tk")).cast("double")
      val contribs = BmTerms.zipWithIndex.map { case (t, i) =>
        val df = statsRow.getDouble(2 + i)
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        val tf = size(filter(col("tk"), x => x === lit(t))).cast("double")
        lit(idf) * tf * lit(K1 + 1.0) /
          (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / lit(avgdl)))
      }
      toks.select(col("doc_id"), round(contribs.reduceLeft(_ + _), 5).as("bm25"))
        .filter(col("bm25") > 0)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    }),

    // Segment-level exact dedup (the span-granular form of exact doc
    // dedup): fixed 20-token segments, global first occurrence by
    // (doc_id, seg_id) wins, docs reassembled from surviving segments.
    // First-owner selection is a partial-aggregatable min-struct
    // groupBy + equi-join on the segment text — NOT a window over
    // seg_text, whose per-key sort has no map-side combine and dies on
    // a boilerplate segment shared by millions of docs. Two hash
    // shuffles total (segment key, then doc reassembly).
    "dedup_segments" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      val nSeg = ceil(size(col("tk")) / lit(SegTokens.toDouble)).cast("int")
      val segArr = transform(
        sequence(lit(0), greatest(nSeg - 1, lit(0))),
        i => array_join(slice(col("tk"), i * SegTokens + 1, lit(SegTokens)), " "))
      val segs = toks
        .select(col("doc_id"), posexplode(segArr))
        .select(col("doc_id"), col("pos").as("seg_id"), col("col").as("seg_text"))
      val firstOwner = segs.groupBy(col("seg_text"))
        .agg(min(struct(col("doc_id"), col("seg_id"))).as("o"))
      val kept = segs.join(firstOwner, "seg_text")
        .filter(col("doc_id") === col("o.doc_id") && col("seg_id") === col("o.seg_id"))
      // r14: per-doc segment totals are a per-row formula (the explode
      // emits max(nSeg, 1) rows per doc by construction), not a
      // groupBy over the exploded segments — one less full shuffle and
      // one less tokenize+explode pass of the corpus. Null-text parity
      // (r15, investigated): for a null tk the segment ARRAY is [null]
      // (sequence(0, greatest(null-1, 0)) = [0], slice/array_join of
      // null → one null element), so posexplode emits exactly one row
      // and the exploded form yields (doc, 1, 0, '') — the same row
      // greatest(null, 1) = 1 produces here. The forms agree on null
      // text as-is (pinned by CorpusOpsSpec); no filter needed.
      val totals = toks.select(col("doc_id"),
        greatest(nSeg, lit(1)).cast("long").as("n_segs"))
      val keptAgg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("seg_id"), col("seg_text")))),
              x => x.getField("seg_text")), " ").as("text_kept"))
      totals.join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("text_kept"), lit("")).as("text_kept"))
    }),

    // Dataset profiling: per-column null count, exact distinct count,
    // string-cast min/max — the data-quality report a pipeline emits on
    // every ingest. One aggregation pass; the 5 exact distincts plan a
    // 5-way Expand (rows ×5 into one shuffle). At 100 TB the same
    // query swaps count_distinct for approx_count_distinct (the
    // a8_distinct_approx pattern) — exact kept here for the hash gate.
    "corpus_profile" -> ((s, dir) => {
      val df = Tables.documents(s, dir)
      val aggs = ProfileCols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"),
        min(col(c).cast("string")).as(s"mn_$c"),
        max(col(c).cast("string")).as(s"mx_$c")))
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val stackArgs = ProfileCols
        .map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
      wide.select(expr(
        s"stack(${ProfileCols.length}, $stackArgs) AS " +
          "(column_name, n_nulls, n_distinct, min_val, max_val)"))
    }),

    // Unigram language-model perplexity (CCNet-style quality signal):
    // train the unigram LM on the corpus itself, score each doc by its
    // mean token negative log-likelihood. One explode, one partial-
    // aggregatable vocab count, one equi-join on term, one per-doc agg.
    // Per-token -ln p is rounded to 9 decimals and summed as an exact
    // decimal so neither engine's shuffle/partition order can perturb
    // the doc score; the corpus token total is a driver scalar (one
    // tiny count job), not a 1-row join.
    "text_unigram_logppl" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      val total = toks.count().toDouble
      val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      toks.join(vocab, "term")
        .select(col("doc_id"),
          round(-log(col("cnt").cast("double") / lit(total)), 9)
            .cast("decimal(28,9)").as("nll"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("logppl"))
    }),

    // Temperature-scaled source mixing (the multinomial-sampling
    // weights a multi-source training run draws with, T5/XLM style):
    // target_share_s ∝ share_s^0.5 flattens over-represented sources.
    // alpha = 0.5 means the exponent IS sqrt — a correctly-rounded
    // IEEE op, identical across engines, unlike pow. The normalizer
    // sums 9-decimal-rounded weights as exact decimals so source
    // enumeration order cannot perturb it.
    "corpus_mix_weights" -> ((s, dir) => {
      val n = Tables.documents(s, dir).count().toDouble
      val w = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).cast("long").as("n_docs"))
        .withColumn("share", col("n_docs") / lit(n))
        .withColumn("w9", round(sqrt(col("share")), 9).cast("decimal(18,9)"))
      val z = w.agg(sum(col("w9"))).head().getDecimal(0)
      w.select(col("source"), col("n_docs"), round(col("share"), 6).as("share"),
        round(col("w9").cast("double") / lit(z.doubleValue), 6).as("target_share"))
    }),

    // Per-source Shannon entropy of the unigram distribution — the
    // diversity screen a corpus mix review runs next to mix weights.
    // H = ln N − (Σ c·ln c)/N over exact term counts; each c·ln c is
    // rounded to 9 decimals and summed as an exact decimal, so the
    // (order-sensitive) double addition never happens — any partition
    // split produces the identical sum, and the final two IEEE ops on
    // identical inputs are engine-identical. One explode + two
    // map-side-combinable aggs; the (source, term) grid is the only
    // shuffled relation.
    "text_entropy" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).cast("long").as("vocab"),
          sum(round(col("c").cast("double") * log(col("c").cast("double")), 9)
            .cast("decimal(30,9)")).as("sclogc"))
        // round(…, 6): ln() may differ from DuckDB's libm in the last
        // ulp (first observed at the 100× docs replica — n_tokens
        // values the smaller corpora never hit); every cross-engine
        // double output carries this tolerance.
        .select(col("source"), col("n_tokens"), col("vocab"),
          round(log(col("n_tokens").cast("double"))
            - col("sclogc").cast("double") / col("n_tokens").cast("double"), 6)
            .as("entropy"))),

    // Per-domain cap (no source may dominate the training mix — the
    // RefinedWeb-style quota): keep at most k=20 best-quality docs per
    // source, quality desc with doc_id tiebreak, through the NATIVE
    // partial/final top-k operator — at most k rows per source per
    // input partition reach the exchange, where the window-rank form
    // shuffles every row of a 100 TB corpus to rank then discard.
    "corpus_domain_cap" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.plans.TopK.perKey(d, Seq(col("source")),
          Seq(col("quality").desc, col("doc_id")), k = 20)
        .select(col("source"), col("doc_id"), col("quality"))
    }),

    // Curriculum phasing: documents ranked by quality score and cut
    // into 10 equal phases (phase 1 = lowest-quality decile → train
    // first/last per strategy). Exact global NTILE via GlobalRank —
    // range partition + per-partition row_number + driver offset
    // prefix-sum — never a single-partition window sort.
    "corpus_curriculum" -> ((s, dir) => {
      val q = Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.operators.GlobalRank
        .withNtile(q, Seq(col("quality"), col("doc_id")), 10, "phase")
        .groupBy(col("phase"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("quality")).as("min_quality"),
          max(col("quality")).as("max_quality"))
    }),

    // Quality-weighted sampling without replacement, k per language
    // (A-ES / Efraimidis–Spirakis): key = ln(u)/w with u a uniform
    // derived from xxhash64(doc_id) and w = quality + 0.01; the k
    // LARGEST keys per stratum are the sample (ln is monotone, so
    // ranking by ln(u)/w equals ranking by u^(1/w) without pow's
    // cross-engine wobble). Deterministic — no RNG state, any
    // partitioning, same sample. Top-k per stratum runs on the native
    // partial/final TopK operator: ≤ k rows per (partition, lang)
    // reach the exchange, never a global sort. The output carries
    // ranks and ids only — no float column to compare.
    "corpus_sample_weighted" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val hd = xxhash64(col("doc_id")).cast("double")
      val hu = when(hd < 0, hd + lit(1.8446744073709552e19)).otherwise(hd)
      val keyed = d.withColumn("skey",
        log((hu + lit(0.5)) / lit(1.8446744073709552e19))
          / (col("quality") + lit(0.01)))
      graft.plans.TopK.perKey(keyed, Seq(col("lang")),
          Seq(col("skey").desc, col("doc_id").asc), 50)
        .select(col("lang"), col("doc_id"), col("quality"),
          col("rank").cast("long").as("sample_rank"))
    }),

    // Token-budget selection: per source, keep the best documents
    // (quality desc, doc_id tiebreak) until a token budget fills —
    // the greedy step a fixed-size training run uses to spend its
    // budget on the highest-quality data. One window cumsum per
    // source over exact integer token counts; the cumulative-sum
    // window partitions by source (parallel across sources). A doc is
    // kept if the budget still had room BEFORE it (running total
    // minus its own tokens < budget), so one doc may straddle the
    // boundary — the standard greedy-fill convention, identical in
    // both engines because all quantities are exact integers.
    "corpus_budget_select" -> ((s, dir) => {
      val budget = 100000L
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      d.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") - col("n_tokens") < budget)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("selected_tokens"),
          min(col("quality")).as("min_quality"))
    }),

    // Hourly time-series gap fill with forward fill: the complete
    // (event_type × hour) grid from the observed time range, zero
    // counts for silent hours, last observed hourly mean carried
    // forward. The grid is generated per type (explode of a bounded
    // calendar sequence — no cross join, no all-pairs plan); the only
    // data-sized work is the hourly aggregation (one shuffle, partial
    // agg). Forward fill is the group-of-last-observation trick —
    // running count of non-nulls, then max within (type, grp) — which
    // is engine-portable unlike IGNORE NULLS frames. Hourly means go
    // through exact integer cents and a half-up integer division —
    // round(double, 6) ties (e.g. sum/n = 43.4728125 exactly) resolve
    // differently across engines because the nearest double sits just
    // below the decimal tie; (2a+b) div 2b never consults a float.
    "ts_gap_fill" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"),
        date_trunc("hour", col("ts")).as("h"),
        OracleSafe.cents(col("value")).as("cents"))
      val hourly = ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents")).as("sc"))
        .withColumn("avg_value",
          expr("(sc * 20000 + n) div (2 * n)").cast("double") / lit(1e6))
        .drop("sc")
      val bounds = ev.agg(min(col("h")), max(col("h"))).head()
      val (h0, h1) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
      val grid = ev.select(col("event_type")).distinct()
        .select(col("event_type"),
          explode(sequence(lit(h0), lit(h1), expr("interval 1 hour"))).as("h"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("h"))
      grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n"), lit(0L)).as("n_events"), col("avg_value"))
        .withColumn("grp",
          sum(when(col("avg_value").isNotNull, 1).otherwise(0)).over(wRun))
        .withColumn("filled_value",
          max(col("avg_value")).over(Window.partitionBy(col("event_type"), col("grp"))))
        .select(col("event_type"), col("h").as("hour"), col("n_events"),
          col("avg_value"), col("filled_value"))
    }),

    // DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    // every raw document by how much more likely its hashed-ngram bag
    // is under the target-domain unigram model than under the raw
    // model, then Gumbel-top-k resample — the published importance-
    // resampling recipe for "select pretraining data that looks like
    // the target domain". Scale shape: one corpus-sized explode into
    // (doc, bucket) rows; bucket stats are TWO map-side-combinable
    // counts into 4096 rows; the per-bucket log-ratio table is
    // broadcast back onto the feature stream (never a shuffle of the
    // corpus by bucket id twice); per-doc weights are one groupBy; the
    // final selection is a TakeOrdered top-k, never a global sort. The
    // per-bucket ln is rounded to 9 dp and summed as an exact decimal
    // (the text_unigram_logppl discipline), so partitioning and engine
    // cannot perturb a doc's weight; the Gumbel key adds a 9-dp-rounded
    // decimal derived from xxhash64(doc_id) — deterministic, no RNG
    // state, identical under any partitioning.
    "corpus_dsir_select" -> ((s, dir) => {
      val d = dsirWeights(s, dir)
      val hd = xxhash64(col("doc_id")).cast("double")
      val hu = when(hd < 0, hd + lit(1.8446744073709552e19)).otherwise(hd)
      val u = (hu + lit(0.5)) / lit(1.8446744073709552e19)
      d.withColumn("g",
          col("logw") + round(-log(-log(u)), 9).cast("decimal(20,9)"))
        .orderBy(col("g").desc, col("doc_id"))
        .limit(DsirK)
        .select(col("doc_id"), col("lang"), col("source"), col("n_feats"),
          round(col("logw").cast("double"), 6).as("log_weight"))
    }),

    // Per-source diagnostics of the same weights: the mix-review view
    // a DSIR run ships next to its selection (which sources look most
    // like the target domain). Same pipeline, one extra 20-row agg.
    "corpus_dsir_weights" -> ((s, dir) =>
      dsirWeights(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          round(sum(col("logw")).cast("double") /
            count(lit(1)), 6).as("mean_log_weight"))),
  )

  /** Per-doc DSIR importance weights: explode hashed-ngram buckets,
    * fit target (lang = [[DsirTargetLang]]) and raw unigram bucket
    * models with add-one smoothing, attach the per-bucket log-ratio
    * by broadcast, sum exactly per document. Totals are driver scalars
    * from one 4096-row agg (not a 1-row join). Returns
    * (doc_id, lang, source, n_feats, logw: decimal).
    */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val b = DsirBuckets
    // r14: featurize ONCE — the bucket arrays are pinned per doc
    // (localCheckpoint) and exploded per consumer. Unpinned, the md5
    // featurization of the whole corpus executed THREE times: once for
    // the totals collect, once under the log-ratio aggregate, once on
    // the join side of the final per-doc sum.
    val bucketed = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.text.TextAnalysis.hashedNgramBuckets(col("text")).as("bs"))
      .localCheckpoint()
    val feats = bucketed.select(col("doc_id"), col("lang"), col("source"),
      explode(col("bs")).as("b"))
    // ≤ 4096 rows — pinned so the totals collect and the log-ratio
    // aggregate share one bucket-count pass instead of two
    val stats = feats.groupBy(col("b")).agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("c_tgt"))
      .localCheckpoint()
    val tot = stats.agg(sum(col("c_raw")), sum(col("c_tgt"))).head()
    val (nRaw, nTgt) = (tot.getLong(0), tot.getLong(1))
    // lr = ln( p_tgt(b) / p_raw(b) ) with add-one smoothing, as ONE ln
    // call on a double built from exact integer counts by IEEE ops —
    // engine-identical up to the last-ulp ln tolerance the 9-dp
    // rounding absorbs.
    val lr = stats.select(col("b"),
      round(log(
        (col("c_tgt") + lit(1L)).cast("double") * lit((nRaw + b).toDouble) /
          ((col("c_raw") + lit(1L)).cast("double") * lit((nTgt + b).toDouble))), 9)
        .cast("decimal(20,9)").as("lr"))
    feats.join(broadcast(lr), "b")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_feats"),
        sum(col("lr")).as("logw"))
  }

  private def bmOracle: String = {
    val dfCols = BmTerms.map(t =>
      s"CAST(SUM(CASE WHEN list_contains(tk, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t")
      .mkString(",\n      |    ")
    val tfCols = BmTerms.map(t =>
      s"CAST(len(list_filter(tk, x -> x = '$t')) AS DOUBLE) AS tf_$t")
      .mkString(",\n      |    ")
    // same fixed left-to-right addition order as the Spark expression
    val contrib = BmTerms.map(t =>
      s"(ln(1 + (n - df_$t + 0.5) / (df_$t + 0.5)) * tf_$t * ${K1 + 1.0} / " +
        s"(tf_$t + $K1 * (${1.0 - B} + $B * dl / avgdl)))")
      .mkString(" + ")
    s"""
      |WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(len(tk)) AS avgdl,
      |    $dfCols
      |  FROM tok),
      |tf AS (
      |  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
      |    $tfCols
      |  FROM tok),
      |scored AS (
      |  SELECT doc_id, round($contrib, 5) AS bm25 FROM tf, stats)
      |SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
      |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  private def profileOracle: String =
    ProfileCols.map(c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  MIN(CAST($c AS VARCHAR)) AS min_val,
         |  MAX(CAST($c AS VARCHAR)) AS max_val
         |FROM documents""".stripMargin)
      .mkString("\n", "\nUNION ALL\n", "")

  /** CTE chain replaying [[dsirWeights]] bit-for-bit: tokenize,
    * unigram+bigram features, 3-nibble md5 buckets, smoothed
    * log-ratio per bucket (9-dp-rounded decimal), exact per-doc sum.
    * Every constant is interpolated from the same vals the Spark
    * side uses. Ends with CTE `d(doc_id, lang, source, n_feats,
    * logw)`.
    */
  private def dsirCtes: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(md5(feat), $i, 1)) - 1)"
    s"""tok AS (
      |  SELECT doc_id, lang, source,
      |    string_split_regex(lower(trim(text)), '\\s+') AS t
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, lang, source,
      |    unnest(list_concat(t,
      |      CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
      |           ELSE list_transform(generate_series(1, len(t) - 1),
      |                  i -> t[i] || ' ' || t[i+1]) END)) AS feat
      |  FROM tok),
      |fb AS (
      |  SELECT doc_id, lang, source,
      |    ${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)} AS b
      |  FROM f),
      |stats AS (
      |  SELECT b, COUNT(*) AS c_raw,
      |    SUM(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS c_tgt
      |  FROM fb GROUP BY b),
      |tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM stats),
      |lr AS (
      |  SELECT b, CAST(round(ln(
      |      (CAST(c_tgt AS DOUBLE) + 1) * CAST(n_raw + $DsirBuckets AS DOUBLE)
      |      / ((CAST(c_raw AS DOUBLE) + 1) * CAST(n_tgt + $DsirBuckets AS DOUBLE))), 9)
      |    AS DECIMAL(20,9)) AS lr
      |  FROM stats, tot),
      |d AS (
      |  SELECT doc_id, lang, source, CAST(COUNT(*) AS BIGINT) AS n_feats,
      |    SUM(lr) AS logw
      |  FROM fb JOIN lr USING (b)
      |  GROUP BY doc_id, lang, source)""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "text_bm25_topk" -> bmOracle,

    "corpus_dsir_select" -> s"""
      |WITH $dsirCtes,
      |${XxHashOracleSql.longHashCte("wh", "d",
         Seq("doc_id", "lang", "source", "n_feats", "logw"), "doc_id",
         "CAST(42 AS UBIGINT)", "h64")},
      |k AS (
      |  SELECT doc_id, lang, source, n_feats, logw,
      |    logw + CAST(round(-ln(-ln(
      |      ((CASE WHEN CAST(h64 AS DOUBLE) < 0
      |         THEN CAST(h64 AS DOUBLE) + 1.8446744073709552e19
      |         ELSE CAST(h64 AS DOUBLE) END) + 0.5)
      |       / 1.8446744073709552e19)), 9) AS DECIMAL(20,9)) AS g
      |  FROM wh)
      |SELECT doc_id, lang, source, n_feats,
      |  round(CAST(logw AS DOUBLE), 6) AS log_weight
      |FROM k ORDER BY g DESC, doc_id LIMIT $DsirK""".stripMargin,

    "corpus_dsir_weights" -> s"""
      |WITH $dsirCtes
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  round(CAST(SUM(logw) AS DOUBLE) / COUNT(*), 6) AS mean_log_weight
      |FROM d GROUP BY source""".stripMargin,

    "dedup_segments" -> s"""
      |WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    unnest(list_transform(
      |      generate_series(0, CAST(ceil(len(tk) / $SegTokens.0) AS BIGINT) - 1),
      |      i -> {'seg_id': i,
      |            'seg_text': array_to_string(tk[i*$SegTokens+1:(i+1)*$SegTokens], ' ')})) AS u
      |  FROM tok),
      |seg AS (SELECT doc_id, u.seg_id AS seg_id, u.seg_text AS seg_text FROM s),
      |r AS (
      |  SELECT doc_id, seg_id, seg_text,
      |    row_number() OVER (PARTITION BY seg_text ORDER BY doc_id, seg_id) AS rn
      |  FROM seg),
      |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs FROM seg GROUP BY 1),
      |k AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    string_agg(seg_text, ' ' ORDER BY seg_id) AS text_kept
      |  FROM r WHERE rn = 1 GROUP BY 1)
      |SELECT doc_id, n_segs,
      |  COALESCE(n_kept, 0) AS n_kept, COALESCE(text_kept, '') AS text_kept
      |FROM tot LEFT JOIN k USING (doc_id)""".stripMargin,

    "corpus_profile" -> profileOracle,

    "corpus_mix_weights" -> """
      |WITH w AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS share
      |  FROM documents GROUP BY 1),
      |w9 AS (
      |  SELECT *, CAST(round(sqrt(share), 9) AS DECIMAL(18,9)) AS w9 FROM w),
      |z AS (SELECT CAST(SUM(w9) AS DOUBLE) AS z FROM w9)
      |SELECT source, n_docs, round(share, 6) AS share,
      |  round(CAST(w9 AS DOUBLE) / (SELECT z FROM z), 6) AS target_share
      |FROM w9""".stripMargin,

    "text_unigram_logppl" -> """
      |WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |vocab AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tok),
      |nll AS (
      |  SELECT doc_id,
      |    CAST(round(-ln(CAST(cnt AS DOUBLE) / (SELECT t FROM total)), 9)
      |      AS DECIMAL(28,9)) AS nll
      |  FROM tok JOIN vocab USING (term))
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS logppl
      |FROM nll GROUP BY 1""".stripMargin,

    "text_entropy" -> """
      |WITH tok AS (
      |  SELECT source,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |c AS (SELECT source, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |a AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab,
      |    SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
      |      AS DECIMAL(30,9))) AS sclogc
      |  FROM c GROUP BY 1)
      |SELECT source, n_tokens, vocab,
      |  round(ln(CAST(n_tokens AS DOUBLE))
      |    - CAST(sclogc AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS entropy
      |FROM a""".stripMargin,

    "corpus_domain_cap" -> s"""
      |WITH t AS (SELECT doc_id, source,
      |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) AS ntok,
      |  CAST(length(text) AS DOUBLE) AS nchars,
      |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
      |  CAST(${TextQueries.hits("en")} AS DOUBLE) AS h
      |FROM documents),
      |q AS (SELECT doc_id, source, round(
      |  least(ntok / 100.0, 1.0) * 0.3 +
      |  (CASE WHEN nchars / greatest(ntok, 1.0) BETWEEN 3.0 AND 10.0
      |        THEN 1.0 ELSE 0.3 END) * 0.2 +
      |  alpha / greatest(nchars, 1.0) * 0.3 +
      |  least(h / 3.0, 1.0) * 0.2, 6) AS quality
      |FROM t),
      |r AS (SELECT source, doc_id, quality, row_number() OVER (
      |        PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
      |      FROM q)
      |SELECT source, doc_id, quality FROM r WHERE rn <= 20""".stripMargin,

    "corpus_curriculum" -> s"""
      |WITH t AS (SELECT doc_id,
      |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) AS ntok,
      |  CAST(length(text) AS DOUBLE) AS nchars,
      |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
      |  CAST(${TextQueries.hits("en")} AS DOUBLE) AS h
      |FROM documents),
      |q AS (SELECT doc_id, round(
      |  least(ntok / 100.0, 1.0) * 0.3 +
      |  (CASE WHEN nchars / greatest(ntok, 1.0) BETWEEN 3.0 AND 10.0
      |        THEN 1.0 ELSE 0.3 END) * 0.2 +
      |  alpha / greatest(nchars, 1.0) * 0.3 +
      |  least(h / 3.0, 1.0) * 0.2, 6) AS quality
      |FROM t),
      |r AS (SELECT quality,
      |  ntile(10) OVER (ORDER BY quality, doc_id) AS phase FROM q)
      |SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(quality) AS min_quality, MAX(quality) AS max_quality
      |FROM r GROUP BY 1""".stripMargin,

    "corpus_sample_weighted" -> s"""
      |WITH t AS (SELECT doc_id, lang,
      |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) AS ntok,
      |  CAST(length(text) AS DOUBLE) AS nchars,
      |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
      |  CAST(${TextQueries.hits("en")} AS DOUBLE) AS h
      |FROM documents),
      |q AS (SELECT doc_id, lang, round(
      |  least(ntok / 100.0, 1.0) * 0.3 +
      |  (CASE WHEN nchars / greatest(ntok, 1.0) BETWEEN 3.0 AND 10.0
      |        THEN 1.0 ELSE 0.3 END) * 0.2 +
      |  alpha / greatest(nchars, 1.0) * 0.3 +
      |  least(h / 3.0, 1.0) * 0.2, 6) AS quality
      |FROM t),
      |${XxHashOracleSql.longHashCte("wh", "q",
         Seq("doc_id", "lang", "quality"), "doc_id",
         "CAST(42 AS UBIGINT)", "h64")},
      |k AS (
      |  SELECT doc_id, lang, quality,
      |    ln(((CASE WHEN CAST(h64 AS DOUBLE) < 0
      |          THEN CAST(h64 AS DOUBLE) + 1.8446744073709552e19
      |          ELSE CAST(h64 AS DOUBLE) END) + 0.5)
      |        / 1.8446744073709552e19)
      |      / (quality + 0.01) AS skey
      |  FROM wh),
      |r AS (
      |  SELECT lang, doc_id, quality,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY skey DESC, doc_id) AS sample_rank
      |  FROM k)
      |SELECT lang, doc_id, quality, CAST(sample_rank AS BIGINT) AS sample_rank
      |FROM r WHERE sample_rank <= 50""".stripMargin,

    "corpus_budget_select" -> s"""
      |WITH t AS (SELECT doc_id, source,
      |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) AS ntok,
      |  CAST(length(text) AS DOUBLE) AS nchars,
      |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
      |  CAST(${TextQueries.hits("en")} AS DOUBLE) AS h
      |FROM documents),
      |q AS (SELECT doc_id, source, CAST(ntok AS BIGINT) AS n_tokens, round(
      |  least(ntok / 100.0, 1.0) * 0.3 +
      |  (CASE WHEN nchars / greatest(ntok, 1.0) BETWEEN 3.0 AND 10.0
      |        THEN 1.0 ELSE 0.3 END) * 0.2 +
      |  alpha / greatest(nchars, 1.0) * 0.3 +
      |  least(h / 3.0, 1.0) * 0.2, 6) AS quality
      |FROM t),
      |c AS (
      |  SELECT *, SUM(n_tokens) OVER (PARTITION BY source
      |    ORDER BY quality DESC, doc_id) AS cum_tokens
      |  FROM q)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS selected_tokens,
      |  MIN(quality) AS min_quality
      |FROM c WHERE cum_tokens - n_tokens < 100000
      |GROUP BY 1""".stripMargin,

    "ts_gap_fill" -> """
      |WITH ev AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |hourly AS (
      |  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST((SUM(cents) * 20000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
      |      / 1000000 AS avg_value
      |  FROM ev GROUP BY 1, 2),
      |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
      |grid AS (
      |  SELECT event_type, unnest(generate_series(
      |    (SELECT h0 FROM b), (SELECT h1 FROM b), INTERVAL 1 HOUR)) AS h
      |  FROM (SELECT DISTINCT event_type FROM ev)),
      |j AS (
      |  SELECT g.event_type, g.h, COALESCE(n, 0) AS n_events, avg_value
      |  FROM grid g LEFT JOIN hourly USING (event_type, h)),
      |f AS (
      |  SELECT *, SUM(CASE WHEN avg_value IS NOT NULL THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY event_type ORDER BY h) AS grp
      |  FROM j)
      |SELECT event_type, h AS hour, n_events, avg_value,
      |  MAX(avg_value) OVER (PARTITION BY event_type, grp) AS filled_value
      |FROM f""".stripMargin,
  )
}
