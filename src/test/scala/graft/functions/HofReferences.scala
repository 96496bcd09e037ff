package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis._

/** The Column-chain forms the codegen'd text and dedup expressions
  * replaced, kept verbatim as the references ShingleMinHashSpec pins
  * those expressions against bit for bit.
  */
object HofReferences {

  /** The r13 CASE-chain form — the parity reference the spec pins the
    * codegen'd expression against.
    */
  private[graft] def langIdOfHof(toks: Column): Column = {
    val scores = LangStopwords.map { case (lang, words) =>
      lang -> stopwordHitsOf(toks, words)
    }
    scores.foldRight(lit("und")) { case ((lang, score), rest) =>
      val othersGeq = scores.filter(_._1 != lang).map(_._2)
        .foldLeft(lit(true))((acc, s) => acc && score >= s)
      when(othersGeq && score > 0, lang).otherwise(rest)
    }
  }

  /** The r13 Column-chain form — the parity reference. */
  private[graft] def qualityScoreOfHof(c: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val nChars = length(c).cast("double")
    val alphaChars = length(regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    val meanWordLen = nChars / greatest(nTok, lit(1.0))
    val lengthScore = least(nTok / lit(100.0), lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.3)
    val alphaScore = alphaChars / greatest(nChars, lit(1.0))
    val stopScore = least(stopwordHitsOf(toks, LangStopwords.head._2).cast("double") / lit(3.0), lit(1.0))
    round(lengthScore * 0.3 + wordLenScore * 0.2 + alphaScore * 0.3 + stopScore * 0.2, 6)
  }

  /** The r14 HOF form — the parity reference the spec pins the
    * codegen'd [[graft.functions.WinnowMinSet]] tail against.
    */
  private[graft] def winnowFingerprintsHof(c: Column, n: Int = 3, w: Int = 4): Column =
    let1(graft.functions.GraftFunctions.shingleHashes(tokens(c), n), hashes =>
      when(size(hashes) < w, array_sort(array_distinct(hashes)))
        .otherwise(array_sort(array_distinct(
          transform(sequence(lit(0), size(hashes) - w),
            i => array_min(slice(hashes, i + 1, lit(w))))))))

  /** The r13/r14 interpreted chain — the parity reference the spec pins
    * the codegen'd [[graft.functions.WinnowMd5]] expression against.
    */
  private[graft] def winnowFingerprintsMd5Hof(c: Column, n: Int = 3, w: Int = 4): Column =
    let1(transform(shingles(c, n), s => md5(s)), hashes =>
      when(size(hashes) < w, array_sort(array_distinct(hashes)))
        .otherwise(array_sort(array_distinct(
          transform(sequence(lit(0), size(hashes) - w),
            i => array_min(slice(hashes, i + 1, lit(w))))))))

  /** The r13 HOF form of [[hashedNgramBuckets]] — kept as the parity
    * reference the spec pins the codegen'd expression against.
    */
  private[graft] def hashedNgramBucketsHof(c: Column): Column =
    let1(tokens(c), t => {
      val bigrams = when(size(t) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(t) - 2),
          i => concat_ws(" ", slice(t, i + 1, lit(2)))))
      transform(concat(t, bigrams),
        f => conv(substring(md5(f), 1, 3), 16, 10).cast("int"))
    })

  /** The r13/r14 HOF chain — the parity reference the spec pins the
    * codegen'd [[graft.functions.BandHashes]] expression against.
    */
  private[graft] def bandExplodeHof(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, lit(rows)), _.cast("string")))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }
}
