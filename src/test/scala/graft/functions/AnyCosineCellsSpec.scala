package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[AnyCosineGeCells]] (the bucketed EXACT decontam screen)
  * four ways:
  *  - verdict parity with the flat relational formulation,
  *    [[CosineChain]], for ANY partition of the eval set into cells —
  *    the triangle-inequality bound may only SKIP cells that provably
  *    contain no match, so the partition never changes the verdict;
  *  - exact ties and ±1-ulp thresholds, and the one place the kernel
  *    is deliberately MORE defined than the chain: a zero-norm vector
  *    makes the chain's division ERROR under ANSI mode, while the
  *    kernel treats the undefined cosine as no-match;
  *  - parity in a configuration where pruning provably fires (tight
  *    far-apart clusters — the bound math's happy path);
  *  - the conservative fallbacks: a degenerate centroid (null, null
  *    element, wrong length, zero norm) or radius (null, NaN) makes
  *    the kernel SCAN that cell, never skip it.
  */
// Top-level so Spark can derive encoders (inner classes need an outer
// scope the encoder machinery can't capture from a test instance).
private[functions] case class CellsSpecEv(ev: Seq[Double],
  en: java.lang.Double)
private[functions] case class CellsSpecCell(bkt: java.lang.Long,
  cv: Seq[Double], cr: java.lang.Double, ms: Seq[CellsSpecEv])
private[functions] case class CellsSpecSub(cv: Seq[Double],
  cr: java.lang.Double, ms: Seq[CellsSpecEv])
private[functions] case class CellsSpecCell5(bkt: java.lang.Long,
  cv: Seq[Double], cr: java.lang.Double, ms: Seq[CellsSpecEv],
  subs: Seq[CellsSpecSub])
private[functions] case class CellsSpecSub4(cv: Seq[Double],
  cr: java.lang.Double, ms: Seq[CellsSpecEv], subs: Seq[CellsSpecSub])
private[functions] case class CellsSpecCell5b(bkt: java.lang.Long,
  cv: Seq[Double], cr: java.lang.Double, ms: Seq[CellsSpecEv],
  subs: Seq[CellsSpecSub4])

class AnyCosineCellsSpec extends graft.SparkSpec {
  // kernels over `Seq(…).toDF` input run as generated code
  override def withFixture(test: NoArgTest) = withGeneratedCode(super.withFixture(test))

  private type Ev = CellsSpecEv
  private val Ev = CellsSpecEv
  private type Cell = CellsSpecCell
  private val Cell = CellsSpecCell

  private def vf(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  private def flat(corpus: DataFrame, eval: DataFrame, t: Double): Set[Long] =
    CosineChain.contaminated(corpus, eval, t)

  /** The embDecontaminate index construction, parameterized on an
    * arbitrary bucket key (`id % groups` here — the bound must hold
    * for ANY partition) and the toy dimension.
    */
  private def cells(corpus: DataFrame, eval: DataFrame, groups: Int,
      dims: Int, t: Double): Set[Long] = {
    val e = eval
      .withColumn("en", GraftFunctions.graftDot(col("v"), col("v")))
      .withColumn("bkt", pmod(col("id"), lit(groups.toLong)))
    val perCell = e.groupBy("bkt")
      .agg(array_sort(collect_list(struct(col("v").as("ev"),
        col("en").as("en")))).as("ms"))
      .withColumn("cv", transform(
        aggregate(col("ms"), array_repeat(lit(0.0), dims),
          (acc, x) => zip_with(acc, x.getField("ev"), (a, b) => a + b)),
        sElem => sElem / size(col("ms"))))
      .withColumn("cn", GraftFunctions.graftDot(col("cv"), col("cv")))
      .withColumn("cr", aggregate(col("ms"), lit(0.0), (mxAcc, x) =>
        greatest(mxAcc, acos(least(greatest(
          GraftFunctions.graftDot(x.getField("ev"), col("cv")) /
            (sqrt(x.getField("en")) * sqrt(col("cn"))),
          lit(-1.0)), lit(1.0))))))
    val idx = perCell.agg(sort_array(collect_list(
      struct(col("bkt"), col("cv"), col("cr"), col("ms")))).as("cells"))
    corpus.crossJoin(broadcast(idx))
      .filter(coalesce(GraftFunctions.graftAnyCosineGeCells(
        col("v"), col("cells"), lit(t)), lit(false)))
      .select("id").collect().map(_.getLong(0)).toSet
  }

  private def cellsLiteral(corpus: DataFrame, cs: Seq[Cell],
      t: Double): Set[Long] = {
    import spark.implicits._
    val idx = Seq(Tuple1(cs)).toDF("cells")
    corpus.crossJoin(broadcast(idx))
      .filter(coalesce(GraftFunctions.graftAnyCosineGeCells(
        col("v"), col("cells"), lit(t)), lit(false)))
      .select("id").collect().map(_.getLong(0)).toSet
  }

  private def cellsLiteral5(corpus: DataFrame, cs: Seq[CellsSpecCell5],
      t: Double): Set[Long] = {
    import spark.implicits._
    val idx = Seq(Tuple1(cs)).toDF("cells")
    corpus.crossJoin(broadcast(idx))
      .filter(coalesce(GraftFunctions.graftAnyCosineGeCells(
        col("v"), col("cells"), lit(t)), lit(false)))
      .select("id").collect().map(_.getLong(0)).toSet
  }

  /** The TWO-LEVEL index construction (the real query's shape),
    * parameterized on arbitrary bucket and sub-bucket keys — parity
    * must hold for ANY nested partition of the eval set.
    */
  private def cells2(corpus: DataFrame, eval: DataFrame, groups: Int,
      subGroups: Int, dims: Int, t: Double): Set[Long] = {
    val e = eval
      .withColumn("en", GraftFunctions.graftDot(col("v"), col("v")))
      .withColumn("bkt", pmod(col("id"), lit(groups.toLong)))
      .withColumn("sbkt", pmod(col("id") * 7L, lit(subGroups.toLong)))
    def mean(ms: org.apache.spark.sql.Column) = transform(
      aggregate(ms, array_repeat(lit(0.0), dims),
        (acc, x) => zip_with(acc, x.getField("ev"), (a, b) => a + b)),
      sElem => sElem / size(ms))
    def radius(ms: org.apache.spark.sql.Column,
        cv: org.apache.spark.sql.Column, cn: org.apache.spark.sql.Column) =
      aggregate(ms, lit(0.0), (mxAcc, x) =>
        greatest(mxAcc, acos(least(greatest(
          GraftFunctions.graftDot(x.getField("ev"), cv) /
            (sqrt(x.getField("en")) * sqrt(cn)),
          lit(-1.0)), lit(1.0)))))
    val perSub = e.groupBy("bkt", "sbkt")
      .agg(array_sort(collect_list(struct(col("v").as("ev"),
        col("en").as("en")))).as("ms"))
      .withColumn("scv", mean(col("ms")))
      .withColumn("scn", GraftFunctions.graftDot(col("scv"), col("scv")))
      .withColumn("scr", radius(col("ms"), col("scv"), col("scn")))
    val perCell = perSub.groupBy("bkt")
      .agg(array_sort(collect_list(struct(col("sbkt"), col("scv"),
        col("scr"), col("ms")))).as("subsRaw"))
      .withColumn("allms", flatten(transform(col("subsRaw"),
        x => x.getField("ms"))))
      .withColumn("cv", mean(col("allms")))
      .withColumn("cn", GraftFunctions.graftDot(col("cv"), col("cv")))
      .withColumn("cr", radius(col("allms"), col("cv"), col("cn")))
      .withColumn("subs", transform(col("subsRaw"), x =>
        struct(x.getField("scv").as("cv"), x.getField("scr").as("cr"),
          x.getField("ms").as("ms"))))
    val idx = perCell.agg(sort_array(collect_list(
      struct(col("bkt"), col("cv"), col("cr"),
        lit(null).cast("array<struct<ev:array<double>,en:double>>").as("ms"),
        col("subs")))).as("cells"))
    corpus.crossJoin(broadcast(idx))
      .filter(coalesce(GraftFunctions.graftAnyCosineGeCells(
        col("v"), col("cells"), lit(t)), lit(false)))
      .select("id").collect().map(_.getLong(0)).toSet
  }

  test("randomized parity with the flat kernel under arbitrary cell counts") {
    val rnd = new scala.util.Random(13)
    def v(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val evalVecs = (1000L until 1040L).map(_ -> v())
    val corpus = vf((0L until 200L).map { i =>
      if (i % 2 == 0) i -> v()
      else {
        val base = evalVecs((i % 40).toInt)._2
        i -> base.map(x => x + rnd.nextGaussian() * 0.01)
      }
    })
    val evalDf = vf(evalVecs)
    for (t <- Seq(0.4, 0.9); groups <- Seq(1, 3, 7, 40)) {
      val f = flat(corpus, evalDf, t)
      val c = cells(corpus, evalDf, groups, 8, t)
      assert(c === f, s"t=$t groups=$groups")
    }
  }

  test("randomized parity with the flat kernel under nested sub-cells") {
    val rnd = new scala.util.Random(29)
    def v(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val evalVecs = (1000L until 1040L).map(_ -> v())
    val corpus = vf((0L until 200L).map { i =>
      if (i % 2 == 0) i -> v()
      else {
        val base = evalVecs((i % 40).toInt)._2
        i -> base.map(x => x + rnd.nextGaussian() * 0.01)
      }
    })
    val evalDf = vf(evalVecs)
    for (t <- Seq(0.4, 0.9); groups <- Seq(1, 7); subGroups <- Seq(1, 3, 16)) {
      val f = flat(corpus, evalDf, t)
      val c = cells2(corpus, evalDf, groups, subGroups, 8, t)
      assert(c === f, s"t=$t groups=$groups subGroups=$subGroups")
    }
  }

  test("sub-cell union semantics and degenerate sub shapes scan") {
    val m1 = Ev(Seq(1.0, 0.0), 1.0) // matches corpus 1
    val m2 = Ev(Seq(0.0, 1.0), 1.0) // matches corpus 2
    val corpus = vf(Seq(1L -> Seq(2.0, 0.0), 2L -> Seq(0.0, 3.0)))
    // members split between the cell-level block and a sub-cell: the
    // kernel must scan the UNION (cell cv/cr cover both members).
    val both = CellsSpecCell5(0L, Seq(1.0, 1.0), math.Pi / 4 + 0.01,
      Seq(m1), Seq(CellsSpecSub(Seq(0.0, 1.0), 0.0, Seq(m2))))
    assert(cellsLiteral5(corpus, Seq(both), 0.9) === Set(1L, 2L))
    // every degenerate SUB bound shape must still find its member
    val subShapes = Seq(
      CellsSpecSub(null, 0.0, Seq(m1)), // null cv
      CellsSpecSub(Seq(1.0, 0.0), null, Seq(m1)), // null cr
      CellsSpecSub(Seq(1.0), 0.0, Seq(m1)), // cv length mismatch
      CellsSpecSub(Seq(0.0, 0.0), 0.0, Seq(m1)), // zero-norm cv
      CellsSpecSub(Seq(-1.0, 0.0), Double.NaN, Seq(m1))) // NaN radius
    subShapes.foreach { ss =>
      val c = CellsSpecCell5(0L, Seq(1.0, 0.0), 0.0, null, Seq(ss))
      assert(cellsLiteral5(corpus, Seq(c), 0.9) === Set(1L), s"sub $ss")
    }
    // empty/null sub blocks contribute nothing
    assert(cellsLiteral5(corpus, Seq(CellsSpecCell5(0L, Seq(1.0, 0.0), 0.0,
      null, Seq(CellsSpecSub(Seq(1.0, 0.0), 0.0, Seq.empty),
        null.asInstanceOf[CellsSpecSub]))), 0.9) === Set.empty)
  }

  private def cellsLiteral5b(corpus: DataFrame, cs: Seq[CellsSpecCell5b],
      t: Double): Set[Long] = {
    import spark.implicits._
    val idx = Seq(Tuple1(cs)).toDF("cells")
    corpus.crossJoin(broadcast(idx))
      .filter(coalesce(GraftFunctions.graftAnyCosineGeCells(
        col("v"), col("cells"), lit(t)), lit(false)))
      .select("id").collect().map(_.getLong(0)).toSet
  }

  test("third level: sub-sub union semantics and degenerate shapes scan") {
    val m1 = Ev(Seq(1.0, 0.0), 1.0) // matches corpus 1
    val m2 = Ev(Seq(0.0, 1.0), 1.0) // matches corpus 2
    val corpus = vf(Seq(1L -> Seq(2.0, 0.0), 2L -> Seq(0.0, 3.0)))
    // members split between the level-2 block and a level-3 leaf:
    // the kernel must scan the UNION of a sub's own ms and its kids.
    val split = CellsSpecCell5b(0L, Seq(1.0, 1.0), math.Pi / 4 + 0.01,
      null, Seq(CellsSpecSub4(Seq(1.0, 1.0), math.Pi / 4 + 0.01,
        Seq(m1), Seq(CellsSpecSub(Seq(0.0, 1.0), 0.0, Seq(m2))))))
    assert(cellsLiteral5b(corpus, Seq(split), 0.9) === Set(1L, 2L))
    // every degenerate SUB-SUB bound shape must still find its member
    val leafShapes = Seq(
      CellsSpecSub(null, 0.0, Seq(m1)), // null cv
      CellsSpecSub(Seq(1.0, 0.0), null, Seq(m1)), // null cr
      CellsSpecSub(Seq(1.0), 0.0, Seq(m1)), // cv length mismatch
      CellsSpecSub(Seq(0.0, 0.0), 0.0, Seq(m1)), // zero-norm cv
      CellsSpecSub(Seq(-1.0, 0.0), Double.NaN, Seq(m1))) // NaN radius
    leafShapes.foreach { leaf =>
      val c = CellsSpecCell5b(0L, Seq(1.0, 0.0), 0.0, null,
        Seq(CellsSpecSub4(Seq(1.0, 0.0), 0.0, null, Seq(leaf))))
      assert(cellsLiteral5b(corpus, Seq(c), 0.9) === Set(1L), s"leaf $leaf")
    }
    // a degenerate LEVEL-2 bound with members only at level 3 still
    // descends and finds the member (bound disabled ⇒ scan ⇒ recurse)
    val degSub = CellsSpecCell5b(0L, Seq(1.0, 0.0), 0.0, null,
      Seq(CellsSpecSub4(null, null, null,
        Seq(CellsSpecSub(Seq(1.0, 0.0), 0.0, Seq(m1))))))
    assert(cellsLiteral5b(corpus, Seq(degSub), 0.9) === Set(1L))
    // empty/null leaves and member-less subs contribute nothing
    assert(cellsLiteral5b(corpus, Seq(CellsSpecCell5b(0L, Seq(1.0, 0.0),
      0.0, null, Seq(CellsSpecSub4(Seq(1.0, 0.0), 0.0, Seq.empty,
        Seq(CellsSpecSub(Seq(1.0, 0.0), 0.0, Seq.empty),
          null.asInstanceOf[CellsSpecSub]))))), 0.9) === Set.empty)
  }

  test("third level: leaf pruning is exact (tight leaves far apart)") {
    // one bucket, one sub — both with ~90° radii so neither level can
    // prune — holding two tight leaf clusters: verdicts must equal the
    // flat kernel while only the leaf bounds do the pruning work.
    val rnd = new scala.util.Random(47)
    def jig(base: Seq[Double], k: Int): Seq[Double] =
      base.zipWithIndex.map { case (x, j) => x + 0.003 * ((k + j) % 3 - 1) }
    val e1 = Seq(1.0, 0.0, 0.0, 0.0)
    val e2 = Seq(0.0, 1.0, 0.0, 0.0)
    val evalVecs = (1000L until 1010L).map(i => i -> jig(e1, i.toInt)) ++
      (1011L until 1021L).map(i => i -> jig(e2, i.toInt))
    val corpus = vf(Seq(
      1L -> Seq(2.0, 0.02, 0.0, 0.0),
      2L -> Seq(0.0, -3.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 5.0, 0.0),
      4L -> Seq(1.0, 1.0, 0.0, 0.0),
      5L -> Seq(0.01, 0.99, 0.0, 0.0)) ++
      (10L until 30L).map(i => i -> Seq.fill(4)(rnd.nextGaussian())))
    val evalDf = vf(evalVecs)
    val f = flat(corpus, evalDf, 0.9)
    import spark.implicits._
    // hand-pack: leaf split by which base cluster the member hugs
    def ev(s: Seq[Double]) = Ev(s, s.map(x => x * x).sum)
    def leaf(ms: Seq[Seq[Double]]): CellsSpecSub = {
      val n = ms.length
      val cv = ms.transpose.map(_.sum / n)
      val cn = math.sqrt(cv.map(x => x * x).sum)
      val cr = ms.map { m =>
        val d = m.zip(cv).map { case (a, b) => a * b }.sum
        math.acos(math.min(1.0, math.max(-1.0,
          d / (math.sqrt(m.map(x => x * x).sum) * cn))))
      }.max
      CellsSpecSub(cv, cr, ms.map(ev))
    }
    val leaves = Seq(
      leaf(evalVecs.take(10).map(_._2)), leaf(evalVecs.drop(10).map(_._2)))
    val c = CellsSpecCell5b(0L, Seq(0.5, 0.5, 0.0, 0.0), math.Pi - 0.01,
      null, Seq(CellsSpecSub4(Seq(0.5, 0.5, 0.0, 0.0), math.Pi - 0.01,
        null, leaves)))
    assert(cellsLiteral5b(corpus, Seq(c), 0.9) === f)
    // the deterministic probes decide as designed; the 4-d gaussians
    // may legitimately land in a cluster cap, so only parity binds them
    assert(Set(1L, 5L).subsetOf(f) && !Seq(2L, 3L, 4L).exists(f))
  }

  test("sub-cell pruning fires and verdicts still match the flat kernel") {
    // two tight sub-clusters inside one wide bucket: a probe near
    // sub-cluster A must not scan sub-cluster B's members (exactness
    // is pinned by parity; this shape is the hierarchy's happy path).
    val e1 = Seq(1.0, 0.0, 0.0, 0.0)
    val e2 = Seq(0.0, 1.0, 0.0, 0.0)
    def jig(base: Seq[Double], k: Int): Seq[Double] =
      base.zipWithIndex.map { case (x, j) => x + 0.003 * ((k + j) % 3 - 1) }
    val evalDf = vf(
      (1000L until 1010L).map(i => i -> jig(e1, i.toInt)) ++
        (1011L until 1021L).map(i => i -> jig(e2, i.toInt)))
    val corpus = vf(Seq(
      1L -> Seq(2.0, 0.02, 0.0, 0.0),
      2L -> Seq(0.0, -3.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 5.0, 0.0),
      4L -> Seq(1.0, 1.0, 0.0, 0.0),
      5L -> Seq(0.01, 0.99, 0.0, 0.0)))
    // ONE bucket (groups=1) so the two clusters share a cell whose
    // radius is ~90° — the level-1 bound can prune nothing, and any
    // pruning that happens is the sub-cells'.
    val f = flat(corpus, evalDf, 0.9)
    assert(cells2(corpus, evalDf, 1, 21, 4, 0.9) === f)
    assert(f === Set(1L, 5L))
  }

  test("parity where pruning fires: tight clusters far apart") {
    // eval clusters hug +e1 and +e2; corpus probes sit near, between,
    // and opposite. With one cell per cluster (groups chosen so ids
    // split them) radii are ~0.01 rad while θ_t=acos(0.9)≈0.45 — the
    // -e1 and e3 probes skip both cells, and the verdicts still match
    // the flat kernel exactly.
    val e1 = Seq(1.0, 0.0, 0.0, 0.0)
    val e2 = Seq(0.0, 1.0, 0.0, 0.0)
    def jig(base: Seq[Double], k: Int): Seq[Double] =
      base.zipWithIndex.map { case (x, j) => x + 0.003 * ((k + j) % 3 - 1) }
    val evalDf = vf(
      (1000L until 1010L).map(i => i -> jig(e1, i.toInt)) ++
        (1011L until 1021L).map(i => i -> jig(e2, i.toInt)))
    val corpus = vf(Seq(
      1L -> Seq(2.0, 0.02, 0.0, 0.0), // in cluster 1 → hit
      2L -> Seq(0.0, -3.0, 0.0, 0.0), // opposite cluster 2 → clean
      3L -> Seq(0.0, 0.0, 5.0, 0.0), // orthogonal to both → clean
      4L -> Seq(1.0, 1.0, 0.0, 0.0), // cos ≈ .707 to both → clean at .9
      5L -> Seq(0.01, 0.99, 0.0, 0.0))) // in cluster 2 → hit
    for (groups <- Seq(2, 21)) {
      val f = flat(corpus, evalDf, 0.9)
      assert(cells(corpus, evalDf, groups, 4, 0.9) === f, s"groups=$groups")
      assert(f === Set(1L, 5L))
    }
  }

  test("degenerate centroid or radius scans, never skips") {
    val member = Ev(Seq(1.0, 0.0), 1.0) // matches corpus 1 at cos 1
    val corpus = vf(Seq(1L -> Seq(2.0, 0.0)))
    val good = Cell(0L, Seq(1.0, 0.0), 0.0, Seq(member))
    // every degenerate bound shape must still find the member
    val shapes = Seq(
      Cell(1L, null, 0.0, Seq(member)), // null cv
      Cell(2L, Seq(1.0, 0.0), null, Seq(member)), // null cr
      Cell(3L, Seq(1.0), 0.0, Seq(member)), // cv length mismatch
      Cell(4L, Seq(0.0, 0.0), 0.0, Seq(member)), // zero-norm cv → NaN cos
      Cell(5L, Seq(-1.0, 0.0), Double.NaN, Seq(member))) // NaN radius
    (good +: shapes).foreach { c =>
      assert(cellsLiteral(corpus, Seq(c), 0.9) === Set(1L), s"cell $c")
    }
    // a LYING small radius on a WRONG centroid may skip — that is the
    // documented contract (radius must bound the members); the query
    // computes it from the members, so only the degenerate shapes
    // above can occur there.
  }

  test("empty index, empty cells, null entries contaminate nothing") {
    val corpus = vf(Seq(1L -> Seq(1.0, 0.0)))
    assert(cellsLiteral(corpus, Seq.empty, 0.4) === Set.empty)
    assert(cellsLiteral(corpus,
      Seq(Cell(0L, Seq(1.0, 0.0), 0.0, Seq.empty)), 0.4) === Set.empty)
    assert(cellsLiteral(corpus,
      Seq(null.asInstanceOf[Cell], Cell(0L, Seq(1.0, 0.0), 0.0, null)),
      0.4) === Set.empty)
  }

  test("kernel == chain on a mixed corpus") {
    // eval: two directions
    val eval = vf(Seq(1000L -> Seq(1.0, 0.0, 0.0), 1001L -> Seq(0.0, 1.0, 1.0)))
    val corpus = vf(Seq(
      1L -> Seq(2.0, 0.01, 0.0), // near eval 1000 -> contaminated
      2L -> Seq(0.0, 3.0, 3.1), // near eval 1001 -> contaminated
      3L -> Seq(-1.0, 0.5, -0.5), // far from both -> clean
      5L -> Seq(0.0, 0.0, 1.0))) // cos = 1/sqrt(2) < 0.9 -> clean
    val chain = flat(corpus, eval, 0.9)
    val kernel = cells(corpus, eval, 2, 3, 0.9)
    assert(chain === kernel)
    assert(kernel === Set(1L, 2L), s"got $kernel")
  }

  test("zero-norm vector: chain errors under ANSI, kernel says clean") {
    val eval = vf(Seq(1000L -> Seq(1.0, 0.0, 0.0)))
    val corpus = vf(Seq(4L -> Seq(0.0, 0.0, 0.0)))
    // the chain's 0/0 division is an ANSI error — the kernel exists
    // partly so the screen is total
    intercept[ArithmeticException] { // DIVIDE_BY_ZERO, SQLSTATE 22012
      flat(corpus, eval, 0.9)
    }
    assert(cells(corpus, eval, 1, 3, 0.9) === Set.empty)
  }

  test("exact ties and ±1-ulp thresholds decide exactly") {
    // Thresholds AT, just above, and just below a member's exact cosine:
    // the kernel's fold must be bit-identical to the chain's, or the
    // 1-ulp cases flip. The one eval vector is its own cell, so the
    // cell's bound never skips it.
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
    def kernelAt(tt: Double): Set[Long] = cells(corpus, evalDf, 1, 8, tt)
    cosines.zipWithIndex.foreach { case (c, i) =>
      val id = i.toLong
      assert(kernelAt(c).contains(id), s"tie at member $i must hit (>=)")
      assert(kernelAt(Math.nextUp(c)) === cosines.zipWithIndex.collect {
        case (c2, i2) if c2 >= Math.nextUp(c) => i2.toLong
      }.toSet, s"t = nextUp(cos_$i)")
      assert(kernelAt(Math.nextDown(c)).contains(id), s"t = nextDown(cos_$i)")
    }
  }

  test("zero-norm corpus vector is clean (total extension, as flat)") {
    val corpus = vf(Seq(4L -> Seq(0.0, 0.0)))
    assert(cellsLiteral(corpus,
      Seq(Cell(0L, Seq(1.0, 0.0), 0.0, Seq(Ev(Seq(1.0, 0.0), 1.0)))),
      0.4) === Set.empty)
  }

  test("the real query matches its flat formulation on the fixture") {
    // sim_embedding_decontam runs the bucketed screen; its output must
    // be ROW-IDENTICAL to the flat Column chain on the driver fixture
    // (the oracle gate re-checks this against DuckDB).
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val corpus = e.filter(col("label") =!= graft.sim.Similarity.EmbEvalLabel)
    val hit = flat(corpus,
      e.filter(col("label") === graft.sim.Similarity.EmbEvalLabel),
      graft.sim.Similarity.EmbDecontamThreshold)
    val flatQ = corpus.select(col("id"), col("label")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .filterNot(r => hit(r._1)).toSeq
    val bucketed = graft.sim.Similarity.queries("sim_embedding_decontam")(
      spark, dir).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(bucketed === flatQ)
    assert(bucketed.nonEmpty)
  }
}
