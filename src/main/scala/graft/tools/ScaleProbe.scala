package graft.tools

import org.apache.spark.sql.SparkSession
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
    val sets = timed("docSets materialize") {
      val s0 = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3).localCheckpoint()
      s0.count(); s0
    }
    val cands = timed("lsh candidates materialize") {
      val c = ScaleDedup.minhashCandidatesFromSets(sets, 64, 32).localCheckpoint()
      c.count(); c
    }
    val nCands = cands.count()
    val verified = timed("verify materialize") {
      val v = ScaleDedup.verifyJaccardSets(cands, sets, 0.6).localCheckpoint()
      v.count(); v
    }
    val nVer = verified.count()
    timed("canonical") {
      Components.canonical(sets.select(col("id")), verified)
        .write.format("noop").mode("overwrite").save()
    }
    println(s"[probe]   rows: docs=$nDocs cands=$nCands verified=$nVer " +
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
    * ([[graft.dedup.ScaleDedup.ngramJaccardPairsPrefix]]): doc-set
    * build, doc-frequency aggregate, per-doc prefix cut, positional
    * candidate self-join, exact verify — timed apart with row counts.
    * args: `prefix <dir> [<dir2> ...]`.
    */
  private def probePrefix(spark: SparkSession, dir: String): Unit = {
    println(s"[probe] === prefix $dir ===")
    val docs = ScaleDedupQueries.withNearDups(spark, dir)
    val threshold = 0.5
    val sets = timed("docSets materialize") {
      val s0 = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3).localCheckpoint()
      s0.count(); s0
    }
    val idx = ScaleDedup.explodeSets(sets)
    val nIdx = timed("idx count")(idx.count())
    val dfreq = timed("dfreq agg materialize") {
      val d = idx.groupBy(col("sh")).agg(count(lit(1)).as("dfreq")).localCheckpoint()
      d.count(); d
    }
    val lCol = (size(col("ps")) -
      floor(lit(threshold) * size(col("ps")) - lit(1e-6))).cast("int")
    val prefix = timed("prefix cut materialize") {
      val p = idx.join(dfreq, "sh")
        .groupBy(col("id"))
        .agg(collect_list(struct(col("dfreq"), col("sh"))).as("ps"))
        .select(col("id"), size(col("ps")).cast("long").as("sz"),
          posexplode(slice(sort_array(col("ps")), lit(1), lCol)))
        .filter(col("col.dfreq") >= 2)
        .select(col("id"), col("col.sh").as("sh"),
          (col("pos") + 1).cast("long").as("p"), col("sz"))
        .localCheckpoint()
      p.count(); p
    }
    val nPrefix = prefix.count()
    val cands = timed("candidate self-join (positional)") {
      val needOverlap = ceil(
        lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b"))
          - lit(1e-6))
      val c = prefix
        .select(col("sh"), col("id").as("id_a"), col("p").as("p_a"),
          col("sz").as("sz_a"))
        .join(prefix.select(col("sh"), col("id").as("id_b"),
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
    val nCands = cands.count()
    val nVer = timed("verify") {
      ScaleDedup.verifyJaccardSets(cands, sets, threshold).count()
    }
    println(s"[probe]   rows: idx=$nIdx dfreq=${dfreq.count()} " +
      s"prefix=$nPrefix cands=$nCands verified=$nVer")
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

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("seq")) benchSeq(spark, args(1), args.drop(2).toSeq)
    else if (args.headOption.contains("spans")) args.drop(1).foreach(probeSpans(spark, _))
    else if (args.headOption.contains("authority")) args.drop(1).foreach(probeAuthority(spark, _))
    else if (args.headOption.contains("prefix")) args.drop(1).foreach(probePrefix(spark, _))
    else if (args.headOption.contains("docsets")) args.drop(1).foreach(probeDocsets(spark, _))
    else if (args.headOption.contains("winnow")) args.drop(1).foreach(probeWinnow(spark, _))
    else if (args.headOption.contains("bandauto")) args.drop(1).foreach(probeBandauto(spark, _))
    else dirs.foreach(probe(spark, _))
    spark.stop()
  }
}
