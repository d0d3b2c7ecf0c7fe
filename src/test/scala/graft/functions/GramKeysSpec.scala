package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Parity for the fused [[GramKeys]] kernel: on random token arrays —
  * unicode tokens, empty strings, nulls inside the array, arrays
  * shorter than n — `graft_gram_keys(toks, n, production)` must equal
  * the Column chain it replaced,
  * `array_sort(array_distinct(transform(shingleOfN(toks, n), key64)))`,
  * in BOTH hash modes (oracle md5-prefix and production xxhash64);
  * `graft_minhash` is pinned on the same arrays against the minima of
  * the chain's per-gram base28.
  */
class GramKeysSpec extends SparkSpec {
  // kernels over `Seq(…).toDF` input run as generated code
  override def withFixture(test: NoArgTest) = withGeneratedCode(super.withFixture(test))

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .flatMap(s => g.apply(params, s))
      .take(n).toSeq
  }

  private val tokenPool: Seq[String] =
    Seq("the", "quick", "brown", "fox", "héllo", "中文", "a", "", "x1",
      "jumps", "over", "lazy", "dog", "the", "the")

  private val toksGen: Gen[Seq[Option[String]]] = for {
    n <- Gen.choose(0, 12)
    toks <- Gen.listOfN(n, Gen.frequency(
      9 -> Gen.oneOf(tokenPool).map(Option(_)),
      1 -> Gen.const(Option.empty[String])))
  } yield toks

  private def frame: DataFrame = {
    val s = spark
    import s.implicits._
    samples(toksGen, 120, 4242L).zipWithIndex
      .map { case (t, i) => (i.toLong, t.map(_.orNull)) }
      .toDF("doc_id", "toks")
  }

  private def chainKeys(n: Int, production: Boolean) = {
    val grams = Ngrams.shingleOfN(col("toks"), n)
    array_sort(array_distinct(transform(grams,
      g => PortableHash.key64(g, production))))
  }

  private def assertParity(n: Int, production: Boolean): Unit = {
    val d = frame
    val rows = d.select(col("doc_id"),
        chainKeys(n, production).as("chain"),
        GraftFunctions.graftGramKeys(col("toks"), lit(n), lit(production))
          .as("kernel"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"doc ${r.getLong(0)} n=$n production=$production")
    }
  }

  test("gram-keys kernel ≡ hashed-shingle chain, oracle mode, n=3") {
    assertParity(3, production = false)
  }

  test("gram-keys kernel ≡ hashed-shingle chain, oracle mode, n=5") {
    assertParity(5, production = false)
  }

  test("gram-keys kernel ≡ hashed-shingle chain, production mode, n=3") {
    assertParity(3, production = true)
  }

  test("gram-keys kernel ≡ hashed-shingle chain, production mode, n=5") {
    assertParity(5, production = true)
  }

  /** graft_minhash ≡ the affine minima the test folds itself over the
    * chain's per-gram base28 (NULL for arrays shorter than n).
    */
  private def assertMinHashParity(production: Boolean): Unit = {
    val k = 16
    val cs = MinHashSig.coeffs(k)
    for (n <- Seq(3, 5)) {
      val rows = frame.select(col("doc_id"),
          transform(Ngrams.shingleOfN(col("toks"), n),
            g => PortableHash.base28(g, production)).as("bases"),
          GraftFunctions.graftMinhash(col("toks"), lit(n), lit(k),
            lit(production)).as("kernel"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val bases = r.getSeq[Long](1)
        val expected =
          if (bases.isEmpty) null
          else cs.map { case (a, b) => bases.map(x => (a * x + b) % MinHashSig.P).min }
        val kernel = if (r.isNullAt(2)) null else r.getSeq[Long](2)
        assert(kernel === expected,
          s"doc ${r.getLong(0)} n=$n production=$production")
      }
    }
  }

  test("minhash kernel ≡ minima over hashed-shingle chain, oracle mode") {
    assertMinHashParity(production = false)
  }

  test("minhash kernel ≡ minima over hashed-shingle chain, production mode") {
    assertMinHashParity(production = true)
  }

  test("graft_minhash of an array shorter than n is NULL in generated code") {
    val s = spark
    import s.implicits._
    // the spec's fixture keeps this projection out of the optimizer's
    // local-relation folding, so generated code (not eval) computes it
    val sig = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a")))
      .toDF("doc_id", "toks")
      .select(col("doc_id"), GraftFunctions.graftMinhash(col("toks"),
        lit(2), lit(4), lit(false)).as("sig"))
    assert(sig.filter(col("sig").isNull).select("doc_id")
      .as[Long].collect().toSeq === Seq(2L))
    assert(sig.filter(col("sig").isNotNull)
      .select(element_at(col("sig"), 1)).count() === 1)
  }

  test("short arrays and n<=0 yield empty key sets") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]))
      .toDF("doc_id", "toks")
    val r = d.select(
        GraftFunctions.graftGramKeys(col("toks"), lit(3), lit(false)).as("k"),
        GraftFunctions.graftGramKeys(col("toks"), lit(0), lit(false)).as("z"))
      .collect()
    r.foreach { row =>
      assert(row.getSeq[Long](0).isEmpty)
      assert(row.getSeq[Long](1).isEmpty)
    }
  }

  test("null token array yields null") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, null: Seq[String])).toDF("doc_id", "toks")
    val r = d.select(GraftFunctions.graftGramKeys(col("toks"), lit(3),
      lit(false))).collect()
    assert(r.head.isNullAt(0))
  }

  test("sorted-intersect kernel ≡ size(array_intersect) on sorted sets") {
    val d = frame
    val rows = d.select(
        GraftFunctions.graftGramKeys(col("toks"), lit(2), lit(false)).as("a"),
        GraftFunctions.graftGramKeys(col("toks"), lit(3), lit(false)).as("b"))
      .select(
        GraftFunctions.graftSortedIx(col("a"), col("b")).as("kernel"),
        size(array_intersect(col("a"), col("b"))).as("chain"),
        GraftFunctions.graftSortedIx(col("a"), col("a")).as("self"),
        size(col("a")).as("na"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(1))
      assert(r.getInt(2) === r.getInt(3), "self-intersection = set size")
    }
  }

  test("wrong arity in SQL is a clear error, not IndexOutOfBounds") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_gram_keys(array('a','b','c'))").collect()
    }
    assert(e.getMessage.contains("graft_gram_keys expects 3"))
  }
}
