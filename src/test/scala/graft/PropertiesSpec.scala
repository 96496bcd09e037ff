package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.FuzzyDedup
import graft.etl.Normalize
import graft.functions.{GraftFunctions, RatcliffObershelp, Uuid5}

/** Property-style invariants over generated inputs. Samples come from
  * ScalaCheck generators with a fixed seed, evaluated in one DataFrame
  * pass per property (per-sample Spark jobs would be pathologically
  * slow).
  */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples(g: Gen[String], n: Int): Seq[String] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val nameGen: Gen[String] = for {
    words <- Gen.choose(1, 6)
    ws <- Gen.listOfN(words, Gen.oneOf(
      Gen.alphaStr.map(_.take(8)),
      Gen.oneOf("LLC", "Inc.", "Corp", "Co.", "d/b/a", "Telecom",
        "Networks", "Network", "services", "&", "#1")))
  } yield ws.mkString(" ")

  test("normalizeName is idempotent on arbitrary entity names") {
    val names = samples(nameGen, 300).distinct
    val once = names.toDF("n")
      .select(Normalize.normalizeName(col("n")).as("a")).collect().map(_.getString(0))
    val twice = once.toSeq.toDF("n")
      .select(col("n"), Normalize.normalizeName(col("n")).as("b"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    twice.foreach { case (in, out) => assert(out === in, s"not idempotent: '$in'") }
  }

  test("normalizeName output is lowercase words with single spaces") {
    val names = samples(nameGen, 300).distinct
    val out = names.toDF("n")
      .select(Normalize.normalizeName(col("n"))).collect().map(_.getString(0))
    out.foreach { s =>
      assert(!s.contains("  ") && s == s.toLowerCase && s.trim == s, s"'$s'")
    }
  }

  test("uuid5 is deterministic and RFC-shaped on arbitrary strings") {
    val strs = samples(Gen.asciiPrintableStr.map(_.take(40)), 300).distinct
    val a = strs.toDF("s").select(GraftFunctions.uuid5(col("s"))).collect().map(_.getString(0))
    val b = strs.toDF("s").select(GraftFunctions.uuid5(col("s"))).collect().map(_.getString(0))
    assert(a.sameElements(b))
    a.foreach { id => assert(id(14) === '5' && "89ab".contains(id(19)), id) }
  }

  test("ro_similarity is bounded in [0,1] and 1.0 on self") {
    val strs = samples(Gen.asciiPrintableStr.map(_.take(30)), 200).distinct
    strs.foreach { s =>
      val self = RatcliffObershelp.ratio(s, s)
      assert(self === 1.0, s"self('$s')")
    }
    val pairs = strs.zip(strs.reverse)
    pairs.foreach { case (a, b) =>
      val r = RatcliffObershelp.ratio(a, b)
      assert(r >= 0.0 && r <= 1.0, s"('$a','$b') -> $r")
    }
  }

  test("merge predicate is symmetric") {
    val names = samples(nameGen, 120).distinct.take(60)
    val pairs = names.zip(names.drop(1) :+ names.head)
    val df = pairs.toDF("a", "b")
    val fwd = df.select(FuzzyDedup.isDuplicate(col("a"), col("b")).as("m"))
      .collect().map(_.getBoolean(0))
    val bwd = df.select(FuzzyDedup.isDuplicate(col("b"), col("a")).as("m"))
      .collect().map(_.getBoolean(0))
    assert(fwd.sameElements(bwd))
  }

  test("chunks cover every token exactly at stride offsets, under any doc length") {
    import graft.text.TextAnalysis
    val textGen: Gen[String] = for {
      n <- Gen.choose(0, 200)
      ws <- Gen.listOfN(n, Gen.alphaLowerStr.map(w => if (w.isEmpty) "w" else w.take(6)))
    } yield ws.mkString(" ")
    val texts = samples(textGen, 120).distinct
    val rows = texts.toDF("t")
      .select(col("t"),
        size(TextAnalysis.tokens(col("t"))).as("ntok"),
        TextAnalysis.chunks(col("t"), maxTokens = 16, overlap = 4).as("cs"))
      .selectExpr("ntok",
        "transform(cs, c -> c.token_start) AS starts",
        "transform(cs, c -> c.n_tokens) AS lens")
      .collect()
    rows.foreach { r =>
      val ntok = r.getInt(0)
      val starts = r.getSeq[Int](1)
      val lens = r.getSeq[Int](2)
      // starts advance by exactly maxTokens - overlap from zero
      assert(starts === starts.indices.map(_ * 12), s"ntok=$ntok starts=$starts")
      // every token index is covered by at least one chunk window
      val covered = starts.zip(lens).flatMap { case (s, l) => s until (s + l) }.toSet
      assert((0 until ntok).forall(covered), s"gap at ntok=$ntok")
      // final chunk reaches the last token; no chunk starts past the end
      if (ntok > 0) assert(starts.last < ntok && starts.last + lens.last == ntok)
    }
  }

  test("hashSplit is stable per id and ~90/10 on a numeric range") {
    import graft.text.TextAnalysis
    val df = (1L to 2000L).toDF("id")
      .select(col("id"), TextAnalysis.hashSplit(col("id")).as("s"))
    val again = (1L to 2000L).toDF("id")
      .select(col("id"), TextAnalysis.hashSplit(col("id")).as("s"))
    assert(df.collect().toSeq.sortBy(_.getLong(0)).map(_.getString(1)) ===
      again.collect().toSeq.sortBy(_.getLong(0)).map(_.getString(1)))
    val train = df.filter(col("s") === "train").count().toDouble / 2000
    assert(train > 0.85 && train < 0.95, s"train fraction $train")
  }

  test("interpreted and codegen uuid5 agree on unicode") {
    import org.apache.spark.unsafe.types.UTF8String
    val strs = Seq("héllo wörld", "日本語テキスト", "\u0000weird", "emoji 🎯 test")
    val viaDf = strs.toDF("s")
      .select(col("s"), GraftFunctions.uuid5(col("s")).as("id"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    strs.foreach { s =>
      val direct = Uuid5.compute(
        UTF8String.fromString(Uuid5.NamespaceDns), UTF8String.fromString(s)).toString
      assert(viaDf(s) === direct, s"mismatch on '$s'")
    }
  }
}
