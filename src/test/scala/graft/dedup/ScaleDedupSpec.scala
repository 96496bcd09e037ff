package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.registry.ScaleDedupQueries

/** Recall of the approximate dedup paths against exact n-gram Jaccard
  * on the engineered near-dup universe (sf0.001).
  */
class ScaleDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val docs = ScaleDedupQueries.withNearDups(spark, TestSpark.SfDir)

  private lazy val exactPairs: Set[(Long, Long)] =
    ScaleDedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("winnowPairs finds every engineered copy pair and honors the cap") {
    import spark.implicits._
    // a copy contains every original token window, so the shared-fp
    // count of an engineered pair equals the ORIGINAL's fingerprint
    // count — every %7 original with >= minShared fingerprints must
    // pair with its +100000 copy, and none below can
    val pairs = ScaleDedup.winnowPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val engineered = pairs.filter { case (a, b, _) => b == a + 100000 }
    val expected = docs
      .filter(col("doc_id") < 100000 && col("doc_id") % 7 === 0)
      .select(size(graft.text.TextAnalysis.winnowFingerprintsMd5(col("text")))
        .as("nfp"))
      .filter(col("nfp") >= 5).count().toInt
    assert(engineered.length === expected)
    assert(engineered.forall(_._3 >= 5))
    // hot-fingerprint cap: a boilerplate run shared by all 40 docs
    // creates corpus-wide fingerprints; capping at 10 must strictly
    // shrink the pair set (subsets of docs can still legitimately
    // share window minima under the cap), and a cap of 1 excludes
    // EVERY shared fingerprint (df >= 2 by definition) — zero pairs
    val boiler = (0 until 40).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i BOIL ER PLATE RUN OF TOKENS W X Y Z " +
        s"delta$i eps$i zeta$i eta$i theta$i iota$i kappa$i")).toDF("doc_id", "text")
    val noCap = ScaleDedup.winnowPairs(boiler, "doc_id", "text",
      minShared = 1, maxDocFreq = 0).count()
    val capped = ScaleDedup.winnowPairs(boiler, "doc_id", "text",
      minShared = 1, maxDocFreq = 10).count()
    val capAll = ScaleDedup.winnowPairs(boiler, "doc_id", "text",
      minShared = 1, maxDocFreq = 1).count()
    assert(noCap > 0 && capped < noCap && capAll === 0L,
      s"cap failed: noCap=$noCap capped=$capped capAll=$capAll")
  }

  test("engineered near-dups are all found by exact jaccard") {
    // every doc_id % 7 == 0 original pairs with its +100000 copy; the
    // corpus also contains genuine word-salad near-dups, which is fine.
    val engineered = exactPairs.filter { case (a, b) => b == a + 100000 }
    val expected = docs.filter(col("doc_id") < 100000 && col("doc_id") % 7 === 0)
      .count()
    assert(engineered.size === expected.toInt)
  }

  test("minhash LSH candidates achieve >=95% recall on exact-jaccard pairs") {
    val cands = ScaleDedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exactPairs.diff(cands)
    assert(missed.size * 20 <= exactPairs.size,
      s"LSH missed ${missed.size}/${exactPairs.size} true pairs")
    // the engineered (high-jaccard) pairs must all be caught
    val engineeredMissed = missed.filter { case (a, b) => b == a + 100000 }
    assert(engineeredMissed.isEmpty, s"missed engineered: $engineeredMissed")
  }

  test("simhash: near-dup copies land within small hamming distance") {
    val fps = ScaleDedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dists = exactPairs.toSeq.map { case (a, b) =>
      java.lang.Long.bitCount(fps(a) ^ fps(b))
    }
    // 3 appended tokens on ~30-90-token docs barely move the votes
    assert(dists.count(_ <= 3) >= dists.size / 2,
      s"too many large hamming distances: $dists")
    // unrelated docs are far apart
    val unrelated = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    assert(unrelated > 10)
  }

  test("verifyJaccardSets is exact on mid-array-divergent sets (r15 advice)") {
    import spark.implicits._
    // Mid-document edits put the diverging shingle hashes mid-array —
    // the case the sorted linear-merge intersect silently undercounts
    // on non-canonical (encounter-ordered) input. The doc-set frame is
    // canonical by construction; this pins that verifyJaccardSets over
    // it reproduces exact array_intersect Jaccard on exactly that shape.
    val base = "the cat and the dog walked over the old bridge while the " +
      "bright sun was setting far in the west and many small birds sang"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("old bridge", "new tunnel")),
      (3L, base.replace("bright sun", "pale moon")),
      (4L, "a completely different short note about numbers and weather " +
        "with no shared windows of any kind at all in this text")
    ).toDF("doc_id", "text")
    val sets = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3)
      .localCheckpoint()
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
      .toDF("id_a", "id_b")
    val got = ScaleDedup.verifyJaccardSets(cands, sets, threshold = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val ref = cands
      .join(sets.select(col("id").as("id_a"), col("shs").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shs").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(inter / (size(col("sa")) + size(col("sb")) - inter), 6).as("j"))
      .filter(col("j") >= 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got === ref)
    // the mid-edit pairs must be present with high similarity
    assert(got.contains((1L, 2L)) && got((1L, 2L)) > 0.5, s"got $got")
    assert(got.contains((1L, 3L)) && got((1L, 3L)) > 0.5, s"got $got")
  }

  test("prepareCorpus dedups mid-document-edit near-dups (r15 canonical fix)") {
    import spark.implicits._
    // With array_distinct (encounter order) feeding verifyJaccardSets,
    // a mid-document edit pair's Jaccard was undercounted and the copy
    // survived corpus prep; the canonical longSortedSet form dedups it.
    val base = "the cat and the dog walked over the old bridge while the " +
      "bright sun was setting far in the west and many small birds sang"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("old bridge", "new tunnel")),
      (3L, "a completely different short note about numbers and weather " +
        "with no shared windows of any kind at all in this text")
    ).toDF("doc_id", "text")
    val kept = ScaleDedup.prepareCorpus(docs, "doc_id", "text",
      minQuality = 0.0, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L), s"got $kept")
  }

  test("composed nearDupDedup collapses engineered near-dups to the min id") {
    val mapping = ScaleDedup.nearDupDedup(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mapping.size === docs.count())
    // every engineered copy maps to a canonical <= its original's id
    exactPairs.filter { case (a, b) => b == a + 100000 }.foreach { case (a, b) =>
      assert(mapping(b) <= a, s"copy $b -> ${mapping(b)}")
      assert(mapping(b) === mapping(a), s"pair ($a,$b) split")
    }
    // untouched docs are their own canonical
    val canonicals = mapping.values.toSet
    assert(mapping.count { case (id, c) => id == c } >= canonicals.size)
  }

  private lazy val ccReplayExpected: Map[Long, Long] = {
    val pairs = ScaleDedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.6, maxDocFreq = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cc = Components.unionFind(pairs)
    docs.select(col("doc_id")).collect().map(_.getLong(0))
      .map(id => id -> cc.getOrElse(id, id)).toMap
  }

  test("composed nearDupDedup equals CC over the full exact-Jaccard pairs") {
    // the LSH candidate stage must be lossless at the 0.6 threshold
    // (k=64/bands=32 -> miss odds < 1e-6 per pair), so the composed
    // output is byte-equal to a connected-components replay over the
    // unpruned exact pair set — the property the DuckDB oracle relies on.
    val got = ScaleDedup.nearDupDedup(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ccReplayExpected)
  }

  test("nearDupDedup through the distributed-CC fallback equals the driver path") {
    // driverCcThreshold = 0 forces the connectedComponents branch —
    // the fallback wiring (non-broadcast mapping, left join, coalesce
    // to self) must yield the exact same oracle answer end-to-end.
    val got = ScaleDedup.nearDupDedup(docs, "doc_id", "text", threshold = 0.6,
      driverCcThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ccReplayExpected)
  }

  test("canonical handles negative ids (min-id canonical, both branches)") {
    import spark.implicits._
    // components: {-5, -3, 2, 7} via chain, {11} singleton, {-9}
    // singleton, and the extremes {Long.MinValue, -1, 0, Long.MaxValue}
    // via a chain that crosses zero
    val ids = Seq(-9L, -5L, -3L, 2L, 7L, 11L,
      Long.MinValue, -1L, 0L, Long.MaxValue).toDF("id")
    val pairs = Seq((-3L, 2L), (2L, 7L), (-5L, -3L),
      (0L, Long.MaxValue), (-1L, 0L), (Long.MinValue, Long.MaxValue))
      .toDF("id_a", "id_b")
    val expected = Map(-9L -> -9L, -5L -> -5L, -3L -> -5L, 2L -> -5L,
      7L -> -5L, 11L -> 11L) ++
      Seq(Long.MinValue, -1L, 0L, Long.MaxValue).map(_ -> Long.MinValue)
    // string keys: U+FF21 sorts before U+1F600 in UTF-8 byte order
    // (Spark, DuckDB) but after it in Java's UTF-16 String order
    val (fullA, grin) = ("\uFF21", "\uD83D\uDE00")
    val strIds = Seq(fullA, grin).toDF("id")
    val strPairs = Seq((grin, fullA)).toDF("id_a", "id_b")
    for (threshold <- Seq(1000000, 0)) {
      val got = Components.canonical(ids, pairs, threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"driverCcThreshold=$threshold")
      val gotStr = Components.canonical(strIds, strPairs, threshold)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(gotStr === Map(fullA -> fullA, grin -> fullA),
        s"string keys, driverCcThreshold=$threshold")
    }
  }

  test("verifyJaccardSets is candidate-bounded: output is a candidate subset") {
    val sets = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3)
    val all = ScaleDedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxDocFreq = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // feed only half the true pairs as candidates: verification must
    // score exactly those (same jaccard as the full computation) and
    // never resurrect a non-candidate pair
    val half = all.keys.toSeq.sorted.zipWithIndex.collect {
      case (p, i) if i % 2 == 0 => p
    }.toSet
    import spark.implicits._
    val cands = half.toSeq.toDF("id_a", "id_b")
    val verified = ScaleDedup.verifyJaccardSets(cands, sets, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified.keySet === half)
    verified.foreach { case (p, j) => assert(j === all(p), s"jaccard differs for $p") }
  }

  test("verifyJaccardSets size-gates hot docs: index path equals array path") {
    import spark.implicits._
    // the round-4 watch item made concrete: ONE pathological doc with
    // ~50k shingles and 1000 candidate partners. Under the array path
    // every pair row carries the full 50k-long set into a single task
    // (hash-partitioned by the hot id); the gate must route these
    // through the distributed index-intersection join — and produce
    // bit-identical jaccards.
    val toks = (0 until 50050).map(i => s"t$i")
    val hot = (0L, toks.mkString(" "))
    val partners = (1 to 1000).map { i =>
      (i.toLong, toks.slice(i * 40, i * 40 + 60).mkString(" "))
    }
    val docs = spark.createDataset(hot +: partners).toDF("doc_id", "text")
    val sets = ScaleDedup.docShingleSets(docs, "doc_id", "text", 3)
    val cands = spark.createDataset((1 to 1000).map(i => (0L, i.toLong)))
      .toDF("id_a", "id_b")
    def run(gate: Int): Map[(Long, Long), Double] =
      ScaleDedup.verifyJaccardSets(cands, sets, threshold = 0.0005,
          largeSetGate = gate)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val gated = run(8192)           // hot doc crosses the gate
    val ungated = run(Int.MaxValue) // pure array path
    assert(gated.size === 1000)
    assert(gated === ungated)
  }

  test("duplicatedSpans finds maximal cross-doc token runs (hand-computed)") {
    import spark.implicits._
    // A and B share the 11-token run a..k (A at pos 1, B at pos 3);
    // C is disjoint. Two consecutive 10-token windows must coalesce
    // into ONE maximal 11-token span per doc.
    val a = (('a' to 'k').map(_.toString) :+ "l").mkString(" ")
    val b = (Seq("x1", "x2") ++ ('a' to 'k').map(_.toString) :+ "y1").mkString(" ")
    val c = (1 to 10).map(i => s"q$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = ScaleDedup.duplicatedSpans(docs, "doc_id", "text", minTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 1L, 11L), (2L, 3L, 11L)))
  }

  test("duplicatedSpans flags the engineered near-dup copies end-to-end") {
    // every +100000 copy duplicates its original's full text: both
    // sides must carry a span starting at token 1 covering at least
    // the original's token count (docs shorter than minTokens yield
    // nothing, and word-salad collisions may extend other docs).
    val spans = ScaleDedup.duplicatedSpans(docs, "doc_id", "text", minTokens = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lens = docs.select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val copies = lens.keys.filter(_ >= 100000L)
    assert(copies.nonEmpty)
    copies.filter(id => lens(id - 100000L) >= 10).foreach { id =>
      val orig = id - 100000L
      assert(spans.contains(orig) && spans(orig).exists {
        case (s, n) => s == 1L && n >= lens(orig)
      }, s"original $orig missing its full-doc span")
      assert(spans.contains(id) && spans(id).exists {
        case (s, n) => s == 1L && n >= lens(orig)
      }, s"copy $id missing its full-doc span")
    }
  }

  test("scrubSpans removes non-owner spans, keeps the owner intact (hand-computed)") {
    import spark.implicits._
    // A (id 1) and B (id 2) share the 11-token run a..k; A is the
    // owner (min id per duplicated window), so A keeps its text and B
    // loses tokens 3..13. C shares nothing.
    val a = (('a' to 'k').map(_.toString) :+ "l").mkString(" ")
    val b = (Seq("x1", "x2") ++ ('a' to 'k').map(_.toString) :+ "y1").mkString(" ")
    val c = (1 to 10).map(i => s"q$i").mkString(" ")
    val docs3 = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = ScaleDedup.scrubSpans(docs3, "doc_id", "text", minTokens = 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === ((a, 0L)))
    assert(got(2L) === (("x1 x2 y1", 11L)))
    assert(got(3L) === ((c, 0L)))
  }

  test("scrubSpans drops each near-dup copy's duplicated prefix end-to-end") {
    val lens = docs.select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = ScaleDedup.scrubSpans(docs, "doc_id", "text", minTokens = 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.size === lens.size) // one row per input doc, always
    // every +100000 copy duplicates its original's full text and is
    // never the owner (the original's id is smaller), so at least the
    // original's token count is excised from the copy.
    val copies = lens.keys.filter(id => id >= 100000L && lens(id - 100000L) >= 10)
    assert(copies.nonEmpty)
    copies.foreach { id =>
      assert(got(id)._2 >= lens(id - 100000L),
        s"copy $id dropped only ${got(id)._2} of >=${lens(id - 100000L)} tokens")
    }
    // untouched docs come back token-rebuilt (lowercased, single-space)
    val rebuilt = docs.select(col("doc_id"),
        concat_ws(" ", graft.text.TextAnalysis.tokens(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.filter(_._2._2 == 0L).foreach { case (id, (txt, _)) =>
      assert(txt === rebuilt(id), s"doc $id modified despite n_dropped=0")
    }
  }

  test("scrubRepeats collapses periodic text to one period (hand-computed)") {
    import spark.implicits._
    // Doc 1: a 12-token run P repeated 3x — every window at pos >= 13
    // recurs 12 positions earlier, so islands cover 13..36 and exactly
    // one period survives. Doc 2: Q(10) + filler + Q — the second Q
    // starts 11 > L past the first, dropped. Doc 3: no repeats.
    val p = (1 to 12).map(i => s"p$i").mkString(" ")
    val q = (1 to 10).map(i => s"q$i").mkString(" ")
    val docs3 = Seq(
      (1L, s"$p $p $p"),
      (2L, s"$q f1 $q"),
      (3L, (1 to 15).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val got = ScaleDedup.scrubRepeats(docs3, "doc_id", "text", minTokens = 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === ((p, 24L)))
    assert(got(2L) === ((s"$q f1", 10L)))
    assert(got(3L)._2 === 0L)
  }

  test("scrubRepeats excises the fixture's appended double prefix end-to-end") {
    val fixture = ScaleDedupQueries.withRepeats(spark, TestSpark.SfDir)
    val lens = fixture.select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = ScaleDedup.scrubRepeats(fixture, "doc_id", "text", minTokens = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.size === lens.size)
    // every tagged doc carries its own 12-token prefix appended twice:
    // both appended copies sit >= 12 positions after the prefix, so at
    // least those 24 tokens are excised (more only if the base text
    // has natural >= 10-token self-repeats).
    val tagged = lens.keys.filter(id => id % 5 == 0 && lens(id) >= 36)
    assert(tagged.nonEmpty)
    tagged.foreach { id =>
      assert(got(id) >= 24L, s"doc $id dropped only ${got(id)} of >=24 tokens")
    }
  }

  test("span operators run ONE corpus scan per consumer-pair (pinned grams)") {
    // windowHashes is localCheckpoint'ed: the dup aggregate and the
    // hits join both read the checkpoint, so the executed plan carries
    // NO parquet scan of the corpus beyond the pin itself (4 scans
    // before the fix — the corpus was re-read and re-tokenized).
    val plan = ScaleDedup.duplicatedSpans(docs, "doc_id", "text", 10)
      .queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty,
      s"expected all consumers to read the pinned gram checkpoint, got ${scans.size} file scans")
  }

  test("exact dedup groups carry duplicate counts") {
    val d = ScaleDedup.exact(
      docs.limit(0).unionByName(
        ScaleDedupQueries.withNearDups(spark, TestSpark.SfDir)),
      "doc_id", "text")
    assert(d.filter(col("n_docs") > 1).count() === 0) // near-dups differ
  }

  test("prefix filtering is lossless: identical to uncapped exact pairs") {
    val prefix = ScaleDedup
      .ngramJaccardPairsPrefix(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = ScaleDedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
        maxDocFreq = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix === exact)
    assert(prefix.nonEmpty) // the engineered near-dups must be found
  }

  test("prefix filtering defuses a corpus-wide stop-shingle losslessly") {
    import spark.implicits._
    // 40 docs all sharing one boilerplate run ("terms of service
    // apply here") but pairwise-distinct content, plus one true
    // near-dup pair: uncapped self-join expands 40*39/2 pairs from the
    // stop-shingle group alone; the df-ascending prefix ranks those
    // shingles LAST so they never enter a prefix, yet the true pair
    // (sharing RARE shingles) must survive with its exact jaccard.
    val boiler = "terms of service apply here"
    val base = (0 until 40).map { i =>
      (i.toLong, s"unique$i alpha$i beta$i gamma$i delta$i $boiler")
    }
    val dup = Seq((100L, "same text body one two three four five six"),
      (101L, "same text body one two three four five six seven"))
    val df = (base ++ dup).toDF("doc_id", "text")
    val prefix = ScaleDedup
      .ngramJaccardPairsPrefix(df, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = ScaleDedup
      .ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.5,
        maxDocFreq = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix === exact)
    assert(prefix.exists { case (a, b, _) => a == 100L && b == 101L })
  }

  /** One generated corpus for the prefix-losslessness property: 10–200
    * docs of 3–30 tokens drawn from a small skewed vocabulary (power-law
    * exponent 1–3, so hot shingles are common), ~half the docs carrying
    * a near-duplicate mutation (token replaced or tail dropped), and —
    * in half the corpora — a shared 4-token boiler phrase appended to
    * EVERY doc (the corpus-wide stop-shingle that detonates the
    * uncapped self-join at scale). Every token is tagged with the case
    * index, so no shingle crosses corpora and a union of cases is
    * provably the disjoint sum of independent cases — which lets one
    * Spark evaluation per threshold cover 13 generated corpora.
    */
  private def corpusGen(ci: Int): org.scalacheck.Gen[Seq[(Long, String)]] = {
    import org.scalacheck.Gen
    def tok(u: Double, vocab: Int, skew: Double): String =
      s"c${ci}x${math.min((math.pow(u, skew) * vocab).toInt, vocab - 1)}"
    for {
      vocab <- Gen.choose(5, 25)
      skew <- Gen.choose(1.0, 3.0)
      nBase <- Gen.choose(10, 100)
      boiler <- Gen.oneOf(true, false)
      docs <- Gen.listOfN(nBase, for {
        len <- Gen.choose(3, 30)
        us <- Gen.listOfN(len, Gen.choose(0.0, 1.0))
      } yield us.map(tok(_, vocab, skew)))
      copyFlags <- Gen.listOfN(nBase, Gen.choose(0.0, 1.0))
      mutations <- Gen.listOfN(nBase, Gen.zip(Gen.choose(0, 29), Gen.choose(0.0, 1.0)))
    } yield {
      val boilerToks =
        if (boiler) (0 until 4).map(b => s"c${ci}xBOILER$b") else Seq.empty
      val base = docs.zipWithIndex.map { case (ts, i) =>
        (ci * 1000000L + i, ts ++ boilerToks)
      }
      val copies = base.zip(copyFlags).zip(mutations).collect {
        case (((id, ts), f), (pos, kind)) if f < 0.5 =>
          val mutated =
            if (kind < 0.3 && ts.size > 3) ts.dropRight(1)
            else ts.updated(pos % ts.size, s"c${ci}xMUT$pos")
          (id + 500000L, mutated)
      }
      (base ++ copies).map { case (id, ts) => (id, ts.mkString(" ")) }
    }
  }

  test("PROPERTY: prefix filtering == uncapped exact pairs over 104 generated corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // 0.5 / 0.75 / 2⁄3 hit exact-integer t·|d| boundaries in bulk
    // (every even / %4 / %3 shingle-set size) — the regime where the
    // prefix-length epsilon guard must round the right way.
    val thresholds = Seq(0.3, 0.4, 0.5, 0.6, 2.0 / 3.0, 0.75, 0.8, 0.95)
    var totalPairs = 0L
    thresholds.zipWithIndex.foreach { case (t, gi) =>
      val corpora = (0 until 13).map { k =>
        val ci = gi * 100 + k
        corpusGen(ci)(Gen.Parameters.default, Seed(0xC0FFEEL + ci))
          .getOrElse(sys.error(s"generator failed for case $ci"))
      }
      val df = corpora.flatten.toDF("doc_id", "text")
      val prefix = ScaleDedup
        .ngramJaccardPairsPrefix(df, "doc_id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exact = ScaleDedup
        .ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = t,
          maxDocFreq = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix === exact,
        s"prefix filter diverged from exact at threshold $t " +
          s"(missing=${(exact -- prefix).take(3)}, extra=${(prefix -- exact).take(3)})")
      totalPairs += exact.size
    }
    assert(totalPairs > 0, "property was vacuous — no generated pair crossed any threshold")
  }

  test("bandPlan: minimal bands meeting the miss bound; shipped config reproduced") {
    def miss(t: Double, rows: Int, bands: Int): Double =
      math.pow(1 - math.pow(t, rows), bands)
    // The shipped composed-dedup banding (rows=2, k=64 → 32 bands)
    // satisfies a 1e-6 miss bound at threshold 0.6, and bandPlan's
    // answer (31) is exactly minimal: one band fewer violates it.
    assert(miss(0.6, 2, 32) <= 1e-6)
    val (b, k) = ScaleDedup.bandPlan(0.6, 1e-6, rows = 2)
    assert(k === 2 * b)
    assert(miss(0.6, 2, b) <= 1e-6 && miss(0.6, 2, b - 1) > 1e-6)
    // Minimality + bound across the (t, eps, rows) grid.
    for (t <- Seq(0.4, 0.5, 0.6, 0.75, 0.9); eps <- Seq(1e-3, 1e-6, 1e-9);
         r <- 1 to 5) {
      val (bands, kk) = ScaleDedup.bandPlan(t, eps, r)
      assert(kk === r * bands)
      assert(miss(t, r, bands) <= eps,
        s"bound violated at t=$t eps=$eps rows=$r bands=$bands")
      assert(bands === 1 || miss(t, r, bands - 1) > eps,
        s"not minimal at t=$t eps=$eps rows=$r bands=$bands")
      // more rows per band => each band catches less => more bands
      if (r > 1) assert(bands >= ScaleDedup.bandPlan(t, eps, r - 1)._1)
    }
  }

  test("bandPlan: unsatisfiable combinations refuse loudly, never overflow") {
    // pBand = 0.1^10 = 1e-10 → ~2e11 bands to hit 1e-9: far past the
    // 1e6 ceiling. Before the guard this saturated ceil(...).toInt at
    // Int.MaxValue and k = rows·bands wrapped negative.
    val e = intercept[IllegalArgumentException] {
      ScaleDedup.bandPlan(0.1, 1e-9, rows = 10)
    }
    assert(e.getMessage.contains("unsatisfiable"))
    // The satisfiable grid never returns a non-positive k (no wrap).
    for (t <- Seq(0.4, 0.6, 0.9); eps <- Seq(1e-3, 1e-9); r <- 1 to 5) {
      val (bands, kk) = ScaleDedup.bandPlan(t, eps, r)
      assert(bands > 0 && kk > 0 && kk === r * bands)
    }
  }

  test("bandPlanAuto: rung = argmin of the explicit cost model; documented ladder") {
    def cost(t: Double, eps: Double, n: Long, r: Int): Option[Double] =
      try {
        val (bands, k) = ScaleDedup.bandPlan(t, eps, r)
        Some(k + n.toDouble * bands * math.pow(0.01, r) * 50.0)
      } catch { case _: IllegalArgumentException => None }
    // argmin property over a grid (independent recomputation)
    for (t <- Seq(0.5, 0.6, 0.75); eps <- Seq(1e-3, 1e-6);
         n <- Seq(100L, 571L, 57143L, 571429L, 5714285L, 100000000L)) {
      val (r, bands, k) = ScaleDedup.bandPlanAuto(t, eps, n)
      assert((bands, k) === ScaleDedup.bandPlan(t, eps, r))
      val best = (1 to 16).flatMap(rr => cost(t, eps, n, rr).map((_, rr))).min
      assert(cost(t, eps, n, r).get === best._1,
        s"not argmin at t=$t eps=$eps n=$n: picked rows=$r")
    }
    // the documented (t=0.6, eps=1e-6) ladder at the fixture tiers:
    // sf0.01 dedup fixture (571 docs) rides the rows-2 rung (31 bands
    // minimal — the shipped fixed query uses 32, one band above
    // minimal); sf0.1 (5.7k) and sf1 (57k) the autoband rung
    // (57, 171); 100x (571k) and 1000x (5.7M) climb to (100, 400).
    assert(ScaleDedup.bandPlanAuto(0.6, 1e-6, 571) === ((2, 31, 62)))
    assert(ScaleDedup.bandPlanAuto(0.6, 1e-6, 5714) === ((3, 57, 171)))
    assert(ScaleDedup.bandPlanAuto(0.6, 1e-6, 57143) === ((3, 57, 171)))
    assert(ScaleDedup.bandPlanAuto(0.6, 1e-6, 571429) === ((4, 100, 400)))
    assert(ScaleDedup.bandPlanAuto(0.6, 1e-6, 5714285) === ((4, 100, 400)))
    // monotone in n: more docs never picks FEWER rows per band
    val ns = Seq(10L, 1000L, 100000L, 10000000L, 1000000000L)
    val picked = ns.map(ScaleDedup.bandPlanAuto(0.6, 1e-6, _)._1)
    assert(picked === picked.sorted)
    // unsatisfiable rungs are skipped, not fatal: at (0.1, 1e-9) the
    // deep rungs refuse in bandPlan but the auto rule still answers
    // from the satisfiable prefix of the ladder
    val (rLow, _, _) = ScaleDedup.bandPlanAuto(0.1, 1e-9, 1000000L)
    assert(rLow >= 1)
  }

  test("bandPlanAuto: invalid threshold/missBound refuse with the named " +
    "dial, never empty.minBy") {
    // A globally invalid dial must trip the top-level require — not be
    // swallowed by the per-rung unsatisfiable-skip and surface as
    // UnsupportedOperationException(empty.minBy).
    for (t <- Seq(0.0, 1.0, 1.5, -0.2)) {
      val e = intercept[IllegalArgumentException](
        ScaleDedup.bandPlanAuto(t, 1e-6, 1000L))
      assert(e.getMessage.contains("threshold"), s"t=$t: ${e.getMessage}")
    }
    for (eps <- Seq(0.0, 1.0, 2.0)) {
      val e = intercept[IllegalArgumentException](
        ScaleDedup.bandPlanAuto(0.6, eps, 1000L))
      assert(e.getMessage.contains("missBound"), s"eps=$eps: ${e.getMessage}")
    }
  }
}
