package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Bit-parity of the codegen'd whitespace tokenizer against the
  * `split(c, "\\s+")` Column form it replaces — the tokenizer under
  * EVERY text/dedup query, so this pin is what allows swapping it
  * without moving any registered query's output. Java `\s` (no
  * UNICODE_CHARACTER_CLASS) is exactly the six ASCII separators; the
  * edge semantics are Java split limit −1: leading "" for a leading
  * run, trailing "" for a trailing run, [""] for empty input.
  */
class WsSplitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def adversarial = {
    import spark.implicits._
    Seq(
      (1L, "plain three token text"),
      (2L, "  leading and   multiple   spaces  "),
      (3L, "MIXED Case ÜNICODE tökens ñ 中文 字符 here"),
      (4L, "tab\tseparated\ttokens\tand more words"),
      (5L, ""),
      (6L, " "),
      (7L, " \t\n\f\r "),
      (8L, "a"),
      (9L, "a "),
      (10L, " a"),
      (11L, "\ta b\n"),
      (12L, "ab\fc\rd\ne\tfg"),
      (13L, "nbsp is not a separator"),
      (14L, "ideographic　space neither"),
      (15L, "zero​width and em space stay"),
      (16L, "crlf\r\nrun and lone\rcr"),
      (17L, ("word " * 500).trim),
      (18L, "éèê multi byte 😀 emoji kept"),
    ).toDF("doc_id", "text")
  }

  private def corpus = graft.Tables.documents(spark, TestSpark.SfDir)
    .select(col("doc_id"), col("text")).limit(300)

  private def assertParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val both = df.select(
      col("doc_id"),
      GraftFunctions.wsSplit(col("text")).as("fast"),
      split(col("text"), "\\s+").as("ref"))
    val bad = both.filter(not(col("fast") <=> col("ref"))).count()
    assert(bad === 0, s"ws_split diverged on $bad rows: " +
      both.filter(not(col("fast") <=> col("ref"))).take(3).mkString("; "))
  }

  test("ws_split == split(c, \"\\\\s+\"), fixture + adversarial") {
    assertParity(adversarial)
    assertParity(corpus)
  }

  test("ws_split == split on lower(trim(text)) — the tokens() composition") {
    for (df <- Seq(adversarial, corpus)) {
      val both = df.select(
        col("doc_id"),
        GraftFunctions.wsSplit(lower(trim(col("text")))).as("fast"),
        split(lower(trim(col("text"))), "\\s+").as("ref"))
      val bad = both.filter(not(col("fast") <=> col("ref"))).count()
      assert(bad === 0, s"tokens() composition diverged on $bad rows")
    }
  }

  test("ws_split == split, property over separator-heavy generated strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // alphabet weighted toward the separator class and its near-misses
    val ch = Gen.frequency(
      (4, Gen.oneOf(' ', '\t', '\n', '', '\f', '\r')),
      (1, Gen.oneOf(' ', '　', ' ', '​')), // NOT separators
      (6, Gen.alphaNumChar),
      (1, Gen.oneOf('é', '中', 'ß', 'Ω')))
    val strGen = Gen.chooseNum(0, 40).flatMap(len => Gen.stringOfN(len, ch))
    val rows = (0 until 500).flatMap { i =>
      strGen.apply(Gen.Parameters.default, Seed(i.toLong)).map(s => (i.toLong, s))
    }
    assert(rows.size >= 450, "generator mostly succeeded")
    assertParity(rows.toDF("doc_id", "text"))
  }

  test("ws_split null row stays null") {
    import spark.implicits._
    val df = Seq((1L, Option("a b")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = df.select(GraftFunctions.wsSplit(col("text")).as("t"),
      split(col("text"), "\\s+").as("r")).collect()
    assert(out.count(r => r.isNullAt(0)) === 1)
    assert(out.forall(r => r.isNullAt(0) == r.isNullAt(1)))
  }

  test("ws_split keeps an invalid UTF-8 byte raw where split gives U+FFFD") {
    // 'a' 0xFF ' ' 'b': 0xFF never occurs in well-formed UTF-8
    val r = spark.range(1)
      .select(unhex(lit("61FF2062")).cast("string").as("text"))
      .select(
        transform(GraftFunctions.wsSplit(col("text")), t => hex(t)).as("fast"),
        transform(split(col("text"), "\\s+"), t => hex(t)).as("ref"))
      .head()
    assert(r.getSeq[String](0) === Seq("61FF", "62"))
    assert(r.getSeq[String](1) === Seq("61EFBFBD", "62"))
  }
}
