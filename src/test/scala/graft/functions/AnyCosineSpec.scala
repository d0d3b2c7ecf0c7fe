package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[AnyCosineGe]] (the `sim_embedding_decontam` membership
  * kernel) decision-for-decision against the relational broadcast
  * nested-loop formulation it replaced, and pins the one place the
  * kernel is deliberately MORE defined than the chain: a zero-norm
  * vector makes the chain's cosine division ERROR under the session's
  * ANSI mode (Spark 4 default), while the kernel's Java arithmetic
  * yields NaN and treats the undefined cosine as no-match — the
  * total-extension verdict for a vector that cannot be similar to
  * anything.
  */
class AnyCosineSpec extends graft.SparkSpec {

  private val t = 0.9

  /** (id, vector) frame. */
  private def vf(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  /** Chain twin: ids of corpus rows with any eval cosine >= t via the
    * broadcast NLJ join (the pre-kernel formulation).
    */
  private def chainContaminated(corpus: DataFrame, eval: DataFrame): Set[Long] = {
    val c = corpus.withColumn("nrm",
      GraftFunctions.graftDot(col("v"), col("v")))
    val e = eval.select(col("v").as("ev"))
      .withColumn("en", GraftFunctions.graftDot(col("ev"), col("ev")))
    c.join(broadcast(e),
        GraftFunctions.graftDot(col("v"), col("ev"))
          / (sqrt(col("nrm")) * sqrt(col("en"))) >= t)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
  }

  private def kernelContaminated(corpus: DataFrame, eval: DataFrame): Set[Long] = {
    val evalM = eval.select(col("v"))
      .withColumn("en", GraftFunctions.graftDot(col("v"), col("v")))
      .agg(collect_list(struct(col("v").as("ev"), col("en").as("en")))
        .as("evals"))
    corpus.crossJoin(broadcast(evalM))
      .filter(coalesce(GraftFunctions.graftAnyCosineGe(
        col("v"), col("evals"), lit(t)), lit(false)))
      .select("id").collect().map(_.getLong(0)).toSet
  }

  test("kernel == chain on a mixed corpus") {
    // eval: two directions
    val eval = vf(Seq(1000L -> Seq(1.0, 0.0, 0.0), 1001L -> Seq(0.0, 1.0, 1.0)))
    val corpus = vf(Seq(
      1L -> Seq(2.0, 0.01, 0.0), // near eval 1000 -> contaminated
      2L -> Seq(0.0, 3.0, 3.1), // near eval 1001 -> contaminated
      3L -> Seq(-1.0, 0.5, -0.5), // far from both -> clean
      5L -> Seq(0.0, 0.0, 1.0))) // cos = 1/sqrt(2) < 0.9 -> clean
    val chain = chainContaminated(corpus, eval)
    val kernel = kernelContaminated(corpus, eval)
    assert(chain === kernel)
    assert(kernel === Set(1L, 2L), s"got $kernel")
  }

  test("zero-norm vector: chain errors under ANSI, kernel says clean") {
    val eval = vf(Seq(1000L -> Seq(1.0, 0.0, 0.0)))
    val corpus = vf(Seq(4L -> Seq(0.0, 0.0, 0.0)))
    // the chain's 0/0 division is an ANSI error — the kernel exists
    // partly so the screen is total
    intercept[ArithmeticException] { // DIVIDE_BY_ZERO, SQLSTATE 22012
      chainContaminated(corpus, eval)
    }
    assert(kernelContaminated(corpus, eval) === Set.empty)
  }

  test("empty eval set contaminates nothing") {
    val eval = vf(Seq.empty)
    val corpus = vf(Seq(1L -> Seq(1.0, 0.0, 0.0)))
    assert(kernelContaminated(corpus, eval) === Set.empty)
  }

  test("exact ties and ±1-ulp thresholds decide exactly") {
    // Thresholds AT, just above, and just below a member's exact cosine:
    // the kernel's fold must be bit-identical to the chain's, or the
    // 1-ulp cases flip.
    val rnd = new scala.util.Random(61)
    val vs = Seq.fill(6)(Seq.fill(8)(rnd.nextGaussian()))
    val corpus = vf(vs.zipWithIndex.map { case (v, i) => i.toLong -> v })
    val ev = Seq.fill(8)(rnd.nextGaussian())
    val evalDf = vf(Seq(100L -> ev))
    // the chain's exact arithmetic, replicated operation-for-operation
    def fold(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < 8) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val en = fold(ev, ev)
    val cosines = vs.map(v => fold(v, ev) / (math.sqrt(fold(v, v)) * math.sqrt(en)))
    def kernelAt(tt: Double): Set[Long] = {
      val evalM = evalDf.select(col("v"))
        .withColumn("en", GraftFunctions.graftDot(col("v"), col("v")))
        .agg(collect_list(struct(col("v").as("ev"), col("en").as("en")))
          .as("evals"))
      corpus.crossJoin(broadcast(evalM))
        .filter(coalesce(GraftFunctions.graftAnyCosineGe(
          col("v"), col("evals"), lit(tt)), lit(false)))
        .select("id").collect().map(_.getLong(0)).toSet
    }
    cosines.zipWithIndex.foreach { case (c, i) =>
      val id = i.toLong
      assert(kernelAt(c).contains(id), s"tie at member $i must hit (>=)")
      assert(kernelAt(Math.nextUp(c)) === cosines.zipWithIndex.collect {
        case (c2, i2) if c2 >= Math.nextUp(c) => i2.toLong
      }.toSet, s"t = nextUp(cos_$i)")
      assert(kernelAt(Math.nextDown(c)).contains(id), s"t = nextDown(cos_$i)")
    }
  }

  test("randomized parity against the chain") {
    val rnd = new scala.util.Random(7)
    def v(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    // half random (mostly clean), half small perturbations of evals
    val evalVecs = (1000L until 1020L).map(_ -> v())
    val corpus = vf((0L until 100L).map { i =>
      if (i % 2 == 0) i -> v()
      else {
        val base = evalVecs((i % 20).toInt)._2
        i -> base.map(x => x + rnd.nextGaussian() * 0.01)
      }
    })
    val evalDf = vf(evalVecs)
    assert(chainContaminated(corpus, evalDf) === kernelContaminated(corpus, evalDf))
  }
}
