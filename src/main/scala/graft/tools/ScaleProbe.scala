package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Components, ScaleDedup}
import graft.registry.ScaleDedupQueries

/** Per-stage scaling forensics for the composed near-dup dedup: row
  * counts and wall time of every stage of
  * [[graft.dedup.ScaleDedup.nearDupDedup]] at a given SF dir, so a
  * scaling regression names the stage that bent the curve instead of
  * the whole query. Run with
  * `sbt "runMain graft.tools.ScaleProbe <sfDir> [<sfDir2> ...]"`.
  */
object ScaleProbe {

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe]   $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  private def probe(spark: SparkSession, dir: String): Unit = {
    println(s"[probe] === $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    val nDocs = timed("docs.count")(docs.count())
    val idx = timed("shingleIndex materialize") {
      val i = ScaleDedup.shingleIndex(docs, "doc_id", "text", 3).localCheckpoint()
      i.count()
      i
    }
    val nIdx = idx.count()
    val cands = timed("lsh candidates materialize") {
      val c = ScaleDedup.minhashCandidatesFromIndex(idx, 64, 32).localCheckpoint()
      c.count()
      c
    }
    val nCands = cands.count()
    val verified = timed("verify materialize") {
      val v = ScaleDedup.verifyJaccardPairs(cands, idx, 0.6).localCheckpoint()
      v.count()
      v
    }
    val nVer = verified.count()
    timed("canonical") {
      Components.canonical(docs.select(col("doc_id").as("id")), verified)
        .write.format("noop").mode("overwrite").save()
    }
    println(s"[probe]   rows: docs=$nDocs idx=$nIdx cands=$nCands verified=$nVer " +
      f"cands/doc=${nCands.toDouble / nDocs}%.2f")
    timed("composed query (as benched)") {
      graft.SparkEntry.queries("dedup_corpus_composed")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Replay a bench-style sequence (queries back to back in one
    * session, no cleanup between) to expose cross-query interference —
    * accumulated checkpoint blocks, storage-memory eviction churn —
    * that per-stage isolation hides. args: `seq <dir> <q1> <q2> ...`.
    */
  private def benchSeq(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    println(s"[probe] === bench-seq $dir ===")
    names.foreach { name =>
      timed(name) {
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  /** Per-stage scaling forensics for the substring-span family
    * (detection + excision): window-hash rows, surviving duplicated
    * hashes, hit rows, islands (spans), and scrub output — the curve
    * evidence for whether the two 8-byte shuffles + per-doc window
    * shape holds at 10×. args: `spans <dir> [<dir2> ...]`.
    */
  private def probeSpans(spark: SparkSession, dir: String): Unit = {
    println(s"[probe] === spans $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    val nDocs = timed("docs.count")(docs.count())
    val grams = timed("window hashes materialize") {
      val g = ScaleDedup.windowHashes(docs, "doc_id", "text", 10)
      g.count(); g
    }
    val nGrams = grams.count()
    val dup = timed("dup hashes (>=2 docs)") {
      val d = grams.groupBy(col("h"))
        .agg(countDistinct(col("id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h")).localCheckpoint()
      d.count(); d
    }
    val nDup = dup.count()
    val nHits = timed("hits join")(grams.join(dup, "h").count())
    val nSpans = timed("islands (detection query)") {
      graft.SparkEntry.queries("corpus_substring_spans")(spark, dir).count()
    }
    timed("scrub (excision query)") {
      graft.SparkEntry.queries("corpus_scrub_spans")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    println(s"[probe]   rows: docs=$nDocs grams=$nGrams dupHashes=$nDup " +
      s"hits=$nHits spans=$nSpans " +
      f"grams/doc=${nGrams.toDouble / nDocs}%.1f hits/doc=${nHits.toDouble / nDocs}%.1f")
  }

  /** A/B the two ngram-Jaccard physical plans (grouped in-group
    * expansion vs index self-join) on the benched workload. args:
    * `ab <dir> [<dir2> ...]`.
    */
  private def abJaccard(spark: SparkSession, dir: String): Unit = {
    println(s"[probe] === jaccard A/B $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    Seq(
      "grouped" -> (() => ScaleDedup.ngramJaccardPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 64)),
      "selfjoin" -> (() => ScaleDedup.ngramJaccardPairsSelfJoin(
        docs, "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 64)),
    ).foreach { case (name, mk) =>
      timed(name)(mk().write.format("noop").mode("overwrite").save())
    }
  }

  /** Per-stage scaling forensics for `corpus_source_authority`: the
    * corpus-scale edge derivation (sourceOverlap's shingle self-join)
    * timed apart from the edge-sized PageRank iterations, with the
    * node/edge counts that make the scaling claim checkable — the
    * 1000× record's 14.8×-time-for-10×-docs is adjudicated EDGE-bound
    * (the replica vocabulary multiplies distinct (source, shingle)
    * pairs superlinearly), so the record must carry edges and
    * sec/edge, not docs alone. args: `authority <dir> [<dir2> ...]`.
    */
  private def probeAuthority(spark: SparkSession, dir: String): Unit = {
    println(s"[probe] === authority $dir ===")
    val docs = graft.Tables.documents(spark, dir)
      .select(col("source"), col("text"))
    val nDocs = timed("docs.count")(docs.count())
    val edges = timed("edges materialize (sourceOverlap)") {
      val e = ScaleDedup.sourceOverlap(docs, "source", "text")
        .select(col("src_a").as("src"), col("src_b").as("dst"),
          col("n_shared").as("w"))
        .localCheckpoint()
      e.count()
      e
    }
    val nEdges = edges.count()
    // coalesce: SUM over zero rows is null — an empty edge set (single
    // source / no overlap fixture) should print zeros, not NPE.
    val totalW = edges.agg(coalesce(sum(col("w")), lit(0L))).head.getLong(0)
    val nodes = docs.select(col("source").as("id")).distinct().localCheckpoint()
    val nNodes = nodes.count()
    val iters = 5
    val t0 = System.nanoTime()
    timed(s"ranks ($iters iters, edge-sized only)") {
      graft.operators.PageRank.ranks(nodes, edges, iters)
        .write.format("noop").mode("overwrite").save()
    }
    val rankSec = (System.nanoTime() - t0) / 1e9
    println(f"[probe]   rows: docs=$nDocs nodes=$nNodes edges=$nEdges " +
      f"sumW=$totalW edges/node=${nEdges.toDouble / nNodes}%.1f")
    println(f"[probe]   ranks: ${rankSec}%.2f s = " +
      f"${rankSec / iters}%.3f s/iter, " +
      f"${rankSec * 1e6 / (iters.toLong * nEdges)}%.3f us/(iter*edge)")
  }

  /** Per-stage forensics for the prefix-filtered exact-Jaccard path
    * (r14): doc-set build, doc-frequency aggregate, prefix ranking,
    * candidate self-join, exact verify — timed apart with row counts.
    * args: `prefix <dir> [<dir2> ...]`.
    */
  private def probePrefix(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    println(s"[probe] === prefix $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    val threshold = 0.5
    val sets = timed("docSets materialize") {
      val s0 = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3).localCheckpoint()
      s0.count(); s0
    }
    val idx = ScaleDedup.explodeSets(sets)
    val nIdx = timed("idx count")(idx.count())
    val sizes = sets.select(col("id"), size(col("shs")).cast("long").as("sz"))
    val dfreq = timed("dfreq agg materialize") {
      val d = idx.groupBy(col("sh")).agg(count(lit(1)).as("dfreq")).localCheckpoint()
      d.count(); d
    }
    val w = Window.partitionBy(col("id")).orderBy(col("dfreq"), col("sh"))
    val prefixWindow = timed("prefix rank (r14 window form)") {
      val p = idx.join(dfreq, "sh")
        .withColumn("rk", row_number().over(w))
        .join(sizes, "id")
        .filter(col("rk") <=
          col("sz") - floor(lit(threshold) * col("sz") - lit(1e-6)))
        .filter(col("dfreq") >= 2)
        .select(col("id"), col("sh"))
        .localCheckpoint()
      p.count(); p
    }
    val lCol = (size(col("ps")) -
      floor(lit(threshold) * size(col("ps")) - lit(1e-6))).cast("int")
    val prefix = timed("prefix rank (r15 array form)") {
      val p = idx.join(dfreq, "sh")
        .groupBy(col("id"))
        .agg(collect_list(struct(col("dfreq"), col("sh"))).as("ps"))
        .select(col("id"),
          explode(slice(array_sort(col("ps")), lit(1), lCol)).as("p"))
        .filter(col("p.dfreq") >= 2)
        .select(col("id"), col("p.sh").as("sh"))
        .localCheckpoint()
      p.count(); p
    }
    val nPrefix = prefix.count()
    val nPrefixW = prefixWindow.count()
    println(s"[probe]   prefix rows: window=$nPrefixW array=$nPrefix " +
      s"(must be equal)")
    // r14 candidate stage: plain self-join + distinct
    val cands = timed("candidate self-join (r14 distinct)") {
      val c = prefix.select(col("sh"), col("id").as("id_a"))
        .join(prefix.select(col("sh"), col("id").as("id_b")), "sh")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct().localCheckpoint()
      c.count(); c
    }
    val nCands = cands.count()
    // r15 candidate stage: ppjoin positional filter at the first
    // shared prefix element (see ngramJaccardPairsPrefix)
    val prefixPos = idx.join(dfreq, "sh")
      .groupBy(col("id"))
      .agg(collect_list(struct(col("dfreq"), col("sh"))).as("ps"))
      .select(col("id"), size(col("ps")).cast("long").as("sz"),
        posexplode(slice(array_sort(col("ps")), lit(1),
          (size(col("ps")) -
            floor(lit(threshold) * size(col("ps")) - lit(1e-6))).cast("int"))))
      .filter(col("col.dfreq") >= 2)
      .select(col("id"), col("col.sh").as("sh"),
        (col("pos") + 1).cast("long").as("p"), col("sz"))
      .localCheckpoint()
    val candsPos = timed("candidate self-join (r15 positional)") {
      val needOverlap = ceil(
        lit(threshold / (1.0 + threshold)) * (col("m.sz_a") + col("m.sz_b"))
          - lit(1e-6))
      val c = prefixPos
        .select(col("sh"), col("id").as("id_a"), col("p").as("p_a"),
          col("sz").as("sz_a"))
        .join(prefixPos.select(col("sh"), col("id").as("id_b"),
          col("p").as("p_b"), col("sz").as("sz_b")), "sh")
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(min(struct(col("p_a"), col("p_b"),
          col("sz_a"), col("sz_b"))).as("m"))
        .filter(least(col("m.sz_a"), col("m.sz_b")) >=
          ceil(lit(threshold) * greatest(col("m.sz_a"), col("m.sz_b"))
            - lit(1e-6)))
        .filter(lit(1L) + least(col("m.sz_a") - col("m.p_a"),
          col("m.sz_b") - col("m.p_b")) >= needOverlap)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      c.count(); c
    }
    val nCandsPos = candsPos.count()
    // r15b candidate stage: FULL ppjoin accumulation (count of shared
    // prefix elements + last shared positions — strictly tighter than
    // the first-element bound; see ngramJaccardPairsPrefix)
    val candsAcc = timed("candidate self-join (r15b accumulation)") {
      val needOverlap = ceil(
        lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b"))
          - lit(1e-6))
      val c = prefixPos
        .select(col("sh"), col("id").as("id_a"), col("p").as("p_a"),
          col("sz").as("sz_a"))
        .join(prefixPos.select(col("sh"), col("id").as("id_b"),
          col("p").as("p_b"), col("sz").as("sz_b")), "sh")
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("cnt"),
          max(col("p_a")).as("mpa"), max(col("p_b")).as("mpb"),
          min(col("sz_a")).as("sz_a"), min(col("sz_b")).as("sz_b"))
        .filter(least(col("sz_a"), col("sz_b")) >=
          ceil(lit(threshold) * greatest(col("sz_a"), col("sz_b"))
            - lit(1e-6)))
        .filter(col("cnt") + least(col("sz_a") - col("mpa"),
          col("sz_b") - col("mpb")) >= needOverlap)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      c.count(); c
    }
    val nCandsAcc = candsAcc.count()
    val nVer = timed("verify (r15b accumulation cands)") {
      ScaleDedup.verifyJaccardSets(candsAcc, sets, threshold).count()
    }
    val nVerPos = timed("verify (r15 positional cands)") {
      ScaleDedup.verifyJaccardSets(candsPos, sets, threshold).count()
    }
    val nVerOld = timed("verify (r14 distinct cands)") {
      ScaleDedup.verifyJaccardSets(cands, sets, threshold).count()
    }
    println(s"[probe]   rows: idx=$nIdx dfreq=${dfreq.count()} " +
      s"prefix=$nPrefix cands=$nCands candsPos=$nCandsPos " +
      s"candsAcc=$nCandsAcc " +
      s"verified=$nVer verifiedPos=$nVerPos verifiedOld=$nVerOld (must be equal)")
    timed("prefix query (as benched)") {
      graft.SparkEntry.queries("dedup_ngram_jaccard_prefix")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Per-stage forensics for the winnow pair path (r15): fingerprint
    * arrays, doc-frequency keep-list, capped self-join — timed apart
    * with row counts. args: `winnow <dir> [<dir2> ...]`.
    */
  private def probeWinnow(spark: SparkSession, dir: String): Unit = {
    import graft.text.TextAnalysis
    println(s"[probe] === winnow $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    val fps = timed("fingerprints materialize") {
      val f = docs.select(col("doc_id").as("id"),
          TextAnalysis.winnowFingerprintsMd5(col("text"), 3, 4).as("fps"))
        .localCheckpoint()
      f.count(); f
    }
    val idx = fps.select(col("id"), explode(col("fps")).as("fp"))
    val nIdx = timed("idx count")(idx.count())
    val keep = timed("dfreq keep-list materialize") {
      val k = idx.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 1000 && col("df") >= 2).select(col("fp"))
        .localCheckpoint()
      k.count(); k
    }
    val nKeep = keep.count()
    val nPairs = timed("capped self-join + pair agg") {
      val capped = idx.join(keep, Seq("fp"), "left_semi")
      capped.select(col("fp"), col("id").as("id_a"))
        .join(capped.select(col("fp"), col("id").as("id_b")), "fp")
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
        .filter(col("n_shared") >= 5).count()
    }
    println(s"[probe]   rows: idx=$nIdx keep=$nKeep pairs=$nPairs")
    timed("winnow query (as benched)") {
      graft.SparkEntry.queries("dedup_winnow_pairs")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Per-stage forensics for the banded-minhash auto paths (r15):
    * doc-set frame, signature+band hashes at the tier's rung, band
    * self-join, exact verify. args: `bandauto <dir> [<dir2> ...]`.
    */
  private def probeBandauto(spark: SparkSession, dir: String): Unit = {
    println(s"[probe] === bandauto $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    val nDocs = timed("docs.count")(docs.count())
    val (rows, bands, k) = ScaleDedup.bandPlanAuto(0.6, 1e-6, nDocs)
    println(s"[probe]   rung: rows=$rows bands=$bands k=$k (nDocs=$nDocs)")
    val sets = timed("docSets materialize") {
      val s0 = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3).localCheckpoint()
      s0.count(); s0
    }
    val bh = timed("signatures+band hashes materialize") {
      val b = ScaleDedup.bandHashesOfSets(sets, k, bands).localCheckpoint()
      b.count(); b
    }
    val nBh = bh.count()
    val cands = timed("band self-join materialize") {
      val c = bh.select(col("band"), col("band_hash"), col("id").as("id_a"))
        .join(bh.select(col("band"), col("band_hash"), col("id").as("id_b")),
          Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct().localCheckpoint()
      c.count(); c
    }
    val nCands = cands.count()
    val nVer = timed("verify") {
      ScaleDedup.verifyJaccardSets(cands, sets, 0.6).count()
    }
    println(s"[probe]   rows: bandHashes=$nBh cands=$nCands verified=$nVer")
    timed("bandauto query (as benched)") {
      graft.SparkEntry.queries("dedup_minhash_bandauto")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Write explain("formatted") of the PREFIX-FRAME construction
    * (which the query's localCheckpoint hides from the whole-query
    * explain) in both the r14 window form and the r15 array form —
    * the committable plan evidence for the stage the optimization
    * actually changed. args: `prefixplan <outDir> [<sfDir>]`.
    */
  private def prefixPlans(spark: SparkSession, outDir: String, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val threshold = 0.5
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    val sets = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3)
    val idx = ScaleDedup.explodeSets(sets)
    val sizes = sets.select(col("id"), size(col("shs")).cast("long").as("sz"))
    val dfreq = idx.groupBy(col("sh")).agg(count(lit(1)).as("dfreq"))
    val w = Window.partitionBy(col("id")).orderBy(col("dfreq"), col("sh"))
    val windowForm = idx.join(dfreq, "sh")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "id")
      .filter(col("rk") <=
        col("sz") - floor(lit(threshold) * col("sz") - lit(1e-6)))
      .filter(col("dfreq") >= 2)
      .select(col("id"), col("sh"))
    val arrayForm = idx.join(dfreq, "sh")
      .groupBy(col("id"))
      .agg(collect_list(struct(col("dfreq"), col("sh"))).as("ps"))
      .select(col("id"), size(col("ps")).cast("long").as("sz"),
        posexplode(slice(array_sort(col("ps")), lit(1),
          (size(col("ps")) -
            floor(lit(threshold) * size(col("ps")) - lit(1e-6))).cast("int"))))
      .filter(col("col.dfreq") >= 2)
      .select(col("id"), col("col.sh").as("sh"),
        (col("pos") + 1).cast("long").as("p"), col("sz"))
    for ((tag, df) <- Seq(("before", windowForm), ("after", arrayForm))) {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val lines = txt.split("\n")
      val summary = s"== prefix-frame stage ($tag) @ $dir ==\n" +
        s"Exchanges: ${lines.count(l => l.contains("Exchange") && !l.contains("Reuse"))}  " +
        s"SMJ: ${lines.count(_.contains("SortMergeJoin"))}  " +
        s"Sort: ${lines.count(_.contains(") Sort "))}  " +
        s"Window: ${lines.count(_.contains(") Window"))}\n\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          s"$outDir/dedup_ngram_jaccard_prefix_stage_$tag.txt"),
        summary + txt)
      println(s"[probe] wrote $outDir/dedup_ngram_jaccard_prefix_stage_$tag.txt")
    }
  }

  /** Decompose the doc-set frame build (the stage every dedup query
    * pays first): scan, tokenize, shingle-hash, sorted-set, checkpoint
    * write. args: `docsets <dir> [<dir2> ...]`.
    */
  private def probeDocsets(spark: SparkSession, dir: String): Unit = {
    import graft.text.TextAnalysis
    println(s"[probe] === docsets $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    timed("scan only (noop)") {
      docs.select(col("doc_id"), col("text"))
        .write.format("noop").mode("overwrite").save()
    }
    timed("+ tokens (noop)") {
      docs.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("tk"))
        .write.format("noop").mode("overwrite").save()
    }
    timed("+ shingle hashes (noop)") {
      docs.select(col("doc_id"),
          graft.functions.GraftFunctions.shingleHashes(
            TextAnalysis.tokens(col("text")), 3).as("hs"))
        .write.format("noop").mode("overwrite").save()
    }
    timed("+ sorted set (noop)") {
      ScaleDedup.docShingleSets(docs, "doc_id", "text", 3)
        .write.format("noop").mode("overwrite").save()
    }
    timed("full: sets localCheckpoint") {
      ScaleDedup.docShingleSets(docs, "doc_id", "text", 3)
        .localCheckpoint().count()
    }
  }

  /** A/B of the regex tokenizer vs the codegen'd byte-scan ws_split
    * (r15b): the shared per-row constant of every tokenizing query.
    * args: `tokenize <dir> [<dir2> ...]`.
    */
  private def probeTokenize(spark: SparkSession, dir: String): Unit = {
    import graft.functions.GraftFunctions
    println(s"[probe] === tokenize $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    println(s"[probe]   docs=${docs.count()}")
    def splitForm = docs.select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("tk"))
    def wsForm = docs.select(col("doc_id"),
      GraftFunctions.wsSplit(lower(trim(col("text")))).as("tk"))
    for (trial <- 1 to 3) {
      timed(s"split regex tokens (noop) #$trial") {
        splitForm.write.format("noop").mode("overwrite").save()
      }
      timed(s"ws_split tokens  (noop) #$trial") {
        wsForm.write.format("noop").mode("overwrite").save()
      }
      timed(s"split -> shingle sets (noop) #$trial") {
        docs.select(col("doc_id"),
            GraftFunctions.longSortedSet(GraftFunctions.shingleHashes(
              split(lower(trim(col("text"))), "\\s+"), 3)).as("shs"))
          .write.format("noop").mode("overwrite").save()
      }
      timed(s"ws    -> shingle sets (noop) #$trial") {
        docs.select(col("doc_id"),
            GraftFunctions.longSortedSet(GraftFunctions.shingleHashes(
              GraftFunctions.wsSplit(lower(trim(col("text")))), 3)).as("shs"))
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  /** Evidence mode for the r15 bandSelfJoin single-shuffle form: with
    * auto-broadcast disabled (forcing the SMJ shape the join takes at
    * corpus scale), the second join side must plan as ReusedExchange
    * over the repartition's shuffle — and the executed r15 form must
    * produce the same candidate pairs as the r14 aliased form.
    * args: `bandreuse <dir>`.
    */
  private def probeBandReuse(spark: SparkSession, dir: String): Unit = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = ScaleDedupQueries.withNearDups(spark, dir)
      val sets = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3)
        .localCheckpoint()
      val banded = ScaleDedup.bandHashesOfSets(sets, 64, 32).localCheckpoint()
      // r15 shape (what bandSelfJoin ships): one repartition, aliased above
      val part = banded.repartition(col("band"), col("band_hash"))
      val r15 = part.select(col("band"), col("band_hash"), col("id").as("id_a"))
        .join(part.select(col("band"), col("band_hash"), col("id").as("id_b")),
          Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val plan = r15.queryExecution.executedPlan.toString
      val nReuse = plan.split("\n").count(_.contains("ReusedExchange"))
      val nEx = plan.split("\n").count(l =>
        l.contains("Exchange") && !l.contains("Reused"))
      println(s"[probe] bandreuse (broadcast off): exchanges=$nEx " +
        s"reusedExchanges=$nReuse")
      // r14 shape: aliased projections, two independent exchanges
      val l14 = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
      val r14 = l14.join(
          banded.select(col("band"), col("band_hash"), col("id").as("id_b")),
          Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val p14 = r14.queryExecution.executedPlan.toString
      println(s"[probe] bandreuse r14 control: exchanges=${p14.split("\n")
        .count(l => l.contains("Exchange") && !l.contains("Reused"))} " +
        s"reusedExchanges=${p14.split("\n").count(_.contains("ReusedExchange"))}")
      val n15 = timed("r15 single-shuffle form")(r15.count())
      val n14 = timed("r14 two-exchange form")(r14.count())
      println(s"[probe] bandreuse rows: r15=$n15 r14=$n14 (must be equal)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("seq")) benchSeq(spark, args(1), args.drop(2).toSeq)
    else if (args.headOption.contains("ab")) args.drop(1).foreach(abJaccard(spark, _))
    else if (args.headOption.contains("spans")) args.drop(1).foreach(probeSpans(spark, _))
    else if (args.headOption.contains("authority")) args.drop(1).foreach(probeAuthority(spark, _))
    else if (args.headOption.contains("prefix")) args.drop(1).foreach(probePrefix(spark, _))
    else if (args.headOption.contains("prefixplan"))
      prefixPlans(spark, args(1),
        if (args.length > 2) args(2) else "/root/testdata/sf0.1")
    else if (args.headOption.contains("bandreuse")) args.drop(1).foreach(probeBandReuse(spark, _))
    else if (args.headOption.contains("docsets")) args.drop(1).foreach(probeDocsets(spark, _))
    else if (args.headOption.contains("tokenize")) args.drop(1).foreach(probeTokenize(spark, _))
    else if (args.headOption.contains("winnow")) args.drop(1).foreach(probeWinnow(spark, _))
    else if (args.headOption.contains("bandauto")) args.drop(1).foreach(probeBandauto(spark, _))
    else dirs.foreach(probe(spark, _))
    spark.stop()
  }
}
