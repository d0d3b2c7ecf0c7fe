package graft.functions

import graft.SparkSpec
import graft.text.Analysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based parity for the r11 fused text kernels: on RANDOM
  * documents — every Java `\s` whitespace class in runs, unicode
  * tokens, stopwords, markers, PII-shaped fragments, leading/trailing
  * separators, empty strings — each kernel must be bit-equal to the
  * Column/relational chain it replaced. The hand-written parity tests
  * in AnalysisSpec pin the engineered edge cases; this pins the space
  * between them.
  */
class TextKernelPropertySpec extends SparkSpec {
  // kernels over `Seq(…).toDF` input run as generated code
  override def withFixture(test: NoArgTest) = withGeneratedCode(super.withFixture(test))

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .flatMap(s => g.apply(params, s))
      .take(n).toSeq
  }

  private val wsGen: Gen[String] = for {
    n <- Gen.choose(1, 3)
    cs <- Gen.listOfN(n, Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'))
  } yield cs.mkString

  private val tokenPool: Seq[String] =
    Analysis.QualityStopwords ++
      Analysis.Markers.flatMap(_._2) ++
      Seq("Quick", "BROWN", "fox", "héllo", "中文词", "x1", "42", "***",
        "foo-bar,", "a@b.co", "1.2.3.4", "+41", "555", "010", "99",
        "user7@example.org", "10.0.3.7")

  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 25)
    toks <- Gen.listOfN(n, Gen.oneOf(tokenPool))
    seps <- Gen.listOfN(n + 1, wsGen)
    lead <- Gen.oneOf("", " ", "\t\n")
    trail <- Gen.oneOf("", " ", "\r\n")
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString + trail

  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    samples(docGen, 80, 1117L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("quality stats kernel ≡ token-array chain on random documents") {
    val d = docs
    val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val chain = d.select(col("doc_id"),
        length(col("text")).cast("long").as("c"),
        size(toks).cast("long").as("t"),
        size(array_distinct(toks)).cast("long").as("u"),
        size(filter(toks, t => t.isInCollection(Analysis.QualityStopwords)))
          .cast("long").as("s"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("tc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    val kernel = d.select(col("doc_id"),
        GraftFunctions.graftQualityStats(col("text"),
          array(Analysis.QualityStopwords.map(lit): _*)).as("q"))
      .select(col("doc_id"), col("q.n_chars"), col("q.n_tokens"),
        col("q.n_distinct"), col("q.n_stopwords"), col("q.token_chars"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(kernel === chain)
  }

  test("lang-id kernel ≡ explode-join-window chain on random documents") {
    val s = spark
    import s.implicits._
    val d = docs
    val markers = Analysis.Markers
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }.toDF("mlang", "t")
    val toksC = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val toks = d.select(col("doc_id"), explode(toksC).as("t"))
    val hits = toks.join(broadcast(markers), "t")
      .groupBy("doc_id", "mlang").agg(count(lit(1)).as("matches"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("matches").desc, col("mlang").asc)
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id", "mlang", "matches")
    val chain = d.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("mlang"), lit("und")).as("p"),
        coalesce(col("matches"), lit(0L)).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val kernel = Analysis.langId(d)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(kernel === chain)
  }

  test("regex-count kernel ≡ size(regexp_extract_all) on random documents") {
    val d = docs
    for (p <- Seq(Analysis.BpeishPattern, Analysis.EmailPattern,
        Analysis.Ipv4Pattern, Analysis.PhonePattern)) {
      val chain = d.select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit(p), lit(0)))
            .cast("long").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kernel = d.select(col("doc_id"),
          GraftFunctions.graftRegexCount(lower(col("text")), lit(p)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(kernel === chain, s"pattern $p")
    }
  }

  test("bpeish automaton ≡ the regex it hand-compiles on random documents") {
    val d = docs
    val chain = d.select(col("doc_id"),
        GraftFunctions.graftRegexCount(lower(col("text")),
          lit(Analysis.BpeishPattern)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val auto = d.select(col("doc_id"),
        GraftFunctions.graftBpeishCount(lower(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto === chain)
    // direct automaton probe beyond the pool: surrogate pair 𝕏 is ONE
    // [^a-z0-9\s] match, exactly as Java regex counts code points
    val probe = "ab1𝕏  c" // runs: ab(1) 1(1) 𝕏(1) c(1)
    assert(BpeishCount.count(
      org.apache.spark.unsafe.types.UTF8String.fromString(probe)) === 4L)
    assert(RegexCount(
      org.apache.spark.sql.catalyst.expressions.Literal(probe),
      org.apache.spark.sql.catalyst.expressions.Literal(
        Analysis.BpeishPattern))
      .count(org.apache.spark.unsafe.types.UTF8String.fromString(probe)) === 4L)
  }

  test("pii-scan kernel ≡ six-expression chain on random documents") {
    val d = docs
    val t = col("text")
    val chain = d.select(col("doc_id"),
        size(regexp_extract_all(t, lit(Analysis.EmailPattern), lit(0)))
          .cast("long").as("e"),
        size(regexp_extract_all(t, lit(Analysis.PhonePattern), lit(0)))
          .cast("long").as("p"),
        size(regexp_extract_all(t, lit(Analysis.Ipv4Pattern), lit(0)))
          .cast("long").as("i"),
        Analysis.redactPii(t).as("r"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val kernel = d.select(col("doc_id"),
        GraftFunctions.graftPiiScan(t).as("p"))
      .select(col("doc_id"), col("p.n_emails"), col("p.n_phones"),
        col("p.n_ipv4"), col("p.redacted"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(kernel === chain)
  }
}
