package graft.functions

import graft.SparkSpec
import graft.text.{Tokenize, TokenizeChain}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Parity of the fused χ² tokenizer `graft_doc_terms` with the Column
  * chain it replaced (`TokenizeChain`): the delimiter class code point
  * by code point, then whole token arrays on random documents.
  */
class DocTermsPropertySpec extends SparkSpec {
  // kernels over `Seq(…).toDF` input run as generated code
  override def withFixture(test: NoArgTest) = withGeneratedCode(super.withFixture(test))

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .flatMap(s => g.apply(params, s))
      .take(n).toSeq
  }

  test("delimiter table: a code point splits ⇔ it matches DelimRegex") {
    val kernel = DocTerms(BoundReference(0, StringType, nullable = true),
      Literal.create(Seq.empty[String], ArrayType(StringType)))
    // lone surrogates are not text: UTF-8 cannot carry them
    val codePoints = (0 to 0xFFFF).filterNot(c => c >= 0xD800 && c <= 0xDFFF) ++
      Seq(0x10000, 0x1D518, 0x1F600, 0x20000, 0x10FFFF)
    val wrong = codePoints.filter { cp =>
      val c = new String(Character.toChars(cp))
      val got = kernel.eval(InternalRow(UTF8String.fromString(s"ab${c}cd")))
        .asInstanceOf[ArrayData].toArray[UTF8String](StringType)
        .map(_.toString).toSeq
      val expected =
        if (c.matches(Tokenize.DelimRegex)) Seq("ab", "cd") else Seq(s"ab${c}cd")
      got != expected
    }
    assert(wrong.isEmpty, wrong.take(20).map(c => f"U+$c%04X").mkString(", "))
  }

  private val delimGen: Gen[String] = for {
    n <- Gen.choose(0, 3)
    cs <- Gen.listOfN(n, Gen.oneOf(
      " ", "\t", "\n", "\u000B", "\f", "\r", // every Java \s
      "7", "0", ".", ",", "!", "'", "\"", "-", "_", "/", "\\", "(", "]",
      "€", "§"))
  } yield cs.mkString

  private val tokenPool: Seq[String] =
    Tokenize.DefaultStopwords ++ Seq(
      "The", "THE", "And", "été", "ÉTÉ", "Quick", "BROWN", "fox", "héllo",
      "中文词", "ǅemal", "İstanbul", "ΟΔΟΣ", "😀ok", "𝔘𝔫𝔦", "e€uro",
      "§para", "a§b", "ab€", "€", "§",
      // 1, 2, 49 and 50 code points, one- to four-byte
      "x", "é", "中", "😀", "ab", "éé", "中文", "😀😀",
      "x" * 49, "é" * 49, "中" * 49, "😀" * 49,
      "x" * 50, "é" * 50, "中" * 50, "😀" * 50)

  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 30)
    toks <- Gen.listOfN(n, Gen.oneOf(tokenPool))
    seps <- Gen.listOfN(n, delimGen)
    lead <- delimGen
    trail <- delimGen
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString + trail

  test("graft_doc_terms ≡ the lower/split/filter/array_distinct chain on random documents") {
    val s = spark
    import s.implicits._
    val texts = samples(docGen, 300, 4242L) ++ Seq("", "   ", "...a.", "Ab ab AB")
    val d = (texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (stop <- Seq(Tokenize.DefaultStopwords,
        Seq("The", "été", "ÉTÉ", "And", "quick", "中文词", "😀ok"), Seq.empty)) {
      def run(tokens: org.apache.spark.sql.Column) =
        d.select(col("doc_id"), tokens.as("t")).collect()
          .map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
      val chain = run(TokenizeChain.tokenArray(col("text"), stop))
      val kernel = run(Tokenize.tokenArray(col("text"), stop))
      val diff = chain.keys.filter(k => chain(k) != kernel(k)).toSeq.sorted
      assert(diff.isEmpty, s"stopwords $stop; first diffs: " + diff.take(3)
        .map(k => s"${texts.lift(k.toInt)}: chain ${chain(k)} kernel ${kernel(k)}")
        .mkString("; "))
    }
  }
}
