package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` fixture (vec_id,
  * embedding: array<float> dim 64, label).
  *
  * Three operators, in increasing scale-readiness:
  *  - `sim_cosine_topk`: brute-force exact top-k neighbors for a small
  *    query batch — the correctness baseline. The query batch is
  *    broadcast against the corpus scan (a bounded nested-loop: |Q|·|C|
  *    with |Q| tiny), which is exactly how a batched exact-scoring pass
  *    runs on a cluster. NOT for corpus×corpus — that's what LSH is for.
  *  - `sim_cosine_ann_lsh`: sign-random-projection LSH, MULTI-TABLE
  *    ([[AnnTables]] independent tables of [[AnnPlanesPerTable]] sign
  *    bits each — the classic OR-construction): a candidate is any
  *    vector sharing the query's bucket in ANY table, so the miss
  *    probability is (1−p^b)^L instead of the single-table 1−p^b
  *    (r10's one 8-bit table had measured recall 0.00 on the fixture;
  *    the 8×4-bit tables measure ≈0.9). At 100 TB the bucket joins
  *    replace the full scan: cost is Σ_t Σ_bucket |Q_tb|·|C_tb|.
  *  - `sim_embedding_neardup`: corpus-level near-duplicate pairs via the
  *    same LSH buckets (self-join per bucket, never all-pairs), exact
  *    cosine rescoring, threshold filter.
  *
  * Engine-parity notes: all arithmetic is double (`float` inputs are cast
  * element-wise first — float math differs across engines, double math
  * doesn't); dot products are an in-order left fold over the pairwise
  * products, mirrored in the oracle via list_transform + list_reduce; the
  * hyperplane weights are ±1 CONSTANTS derived once (md5-seeded) on the
  * Scala side and interpolated into both the Spark plan and the oracle
  * SQL as literals, so no cross-engine hash function is ever needed.
  * Zero UDFs: everything is higher-order Column functions.
  */
object Similarity {

  val Dim = 64
  val NumPlanes = 8
  val NumQueries = 10
  val TopK = 5
  /** ANN LSH (the OR-construction): [[AnnTables]] independent hash
    * tables of [[AnnPlanesPerTable]] sign bits each. A candidate is a
    * vector sharing the query's bucket in ANY table; duplicates from
    * multiple table hits collapse before ranking. For per-plane match
    * probability p (= 1 − θ/π), recall@∞ ≈ 1 − (1−p^b)^L: at this
    * corpus's neighbor similarity (p ≈ 0.8) that is ~0.97, vs ~0.17
    * for the r10 single 8-bit table. More tables buy recall linearly
    * in cost; fewer bits per table buys recall at larger buckets —
    * the two levers a user tunes with `sim_ann_recall`.
    */
  val AnnTables = 8
  val AnnPlanesPerTable = 4
  val NearDupThreshold = 0.3
  /** Near-dup buckets larger than this skip pair expansion (a bucket of
    * b members expands b·(b−1)/2 cosine evaluations). Sized not to bind
    * on the fixtures; tune against measured bucket sizes in production.
    */
  val MaxNearDupBucket = 200
  /** IVF: number of coarse cells and probed cells per query. */
  val NumCells = 16
  val NProbe = 2
  /** IVF quantizer training: Lloyd iterations over the deterministic
    * training sample (`vec_id < TrainN`). Both are FIXED so the whole
    * training chain stays a static, oracle-expressible plan; at scale
    * the sample is the standard practice anyway (train the coarse
    * quantizer on a sliver, assign the full corpus with it).
    */
  val TrainN = 256
  val LloydIters = 2
  /** SemDeDup: within-cell pairs at or above this cosine mark the
    * higher vec_id as a drop. 0.4 sits in the distribution's far tail
    * on the fixtures (p99.9 of within-cell cosines ≈ 0.42 at sf0.1) —
    * selective but non-degenerate, like the real setting's 0.95+ on
    * trained-encoder embeddings (these synthetic vectors are far more
    * isotropic, so the operating point shifts down).
    */
  val SemDedupThreshold = 0.4

  /** Product quantization: [[PqM]] subspaces of [[PqSubDim]] dims, each
    * with a [[PqK]]-codeword codebook trained by [[PqLloydIters]] L2
    * Lloyd steps over the SAME deterministic `vec_id < TrainN` sample
    * the IVF quantizer trains on (one collect feeds both). 64
    * codewords per 4-dim subspace (6 bits) is fixture-sized; the
    * production shape is 256 per 8-dim subspace (one byte) — the
    * construction is identical. r10 shipped 16 codewords × 8-dim on
    * raw vectors, whose ADC ranking measured recall 0.44 at sf0.001;
    * residual encoding + this codebook lifts it to 0.66 at the same
    * candidate budget (IVF's probe ceiling there is 0.9).
    */
  val PqM = 16
  val PqSubDim: Int = Dim / PqM
  val PqK = 64
  val PqLloydIters = 2

  /** [[embDecontaminate]]'s pseudo-eval set (label 0 — the embedding
    * fixture's analogue of decontamination's `src0`) and its cosine
    * bar. 0.4 BINDS on the fixtures (sf0.001: 14 of 444 corpus vectors
    * fall; 0.5 drops nothing, 0.3 drops a third), and it is
    * [[SemDedupThreshold]] on purpose: "near-duplicate of an eval
    * vector" should mean the same thing as "near-duplicate of a kept
    * vector".
    */
  val EmbEvalLabel = 0
  val EmbDecontamThreshold: Double = SemDedupThreshold
  /** Cells larger than this skip SemDeDup pair expansion (cap
    * discipline as [[MaxNearDupBucket]]; audited by `sim_bucket_stats`'s
    * `ivf_cell` row). Does not bind on the fixtures (max cell 144 at
    * sf0.1). At 100 TB the primary lever is [[NumCells]] itself: size
    * the quantizer so |corpus|/NumCells stays pair-expandable (real
    * SemDeDup runs ~100 k cells over billions of vectors); the cap is
    * the hard stop under assignment skew.
    */
  val MaxSemCell = 1000

  /** Deterministic ±1 hyperplane weights: plane p, dim j gets the parity
    * of the first hex digit of md5("p,j"). Seeded data, not code — both
    * engines receive these as plain literals.
    */
  lazy val planes: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until NumPlanes).map { p =>
      (0 until Dim).map { j =>
        val h = md.digest(s"$p,$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 1) 1 else -1
      }
    }
  }

  /** Per-table ±1 hyperplanes for the multi-table ANN arm — a separate
    * md5-seeded family (`"t:p,j"`) so the tables are independent of
    * each other and of the near-dup [[planes]].
    */
  lazy val annPlanes: IndexedSeq[IndexedSeq[IndexedSeq[Int]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until AnnTables).map { t =>
      (0 until AnnPlanesPerTable).map { p =>
        (0 until Dim).map { j =>
          val h = md.digest(s"$t:$p,$j".getBytes("UTF-8"))
          if (((h(0) >> 4) & 1) == 1) 1 else -1
        }
      }
    }
  }

  /** Sign bits for [[embDecontaminate]]'s eval-side direction buckets
    * (a third md5-seeded ±1 family, `"e:p,j"` — independent of
    * [[planes]] and [[annPlanes]]). 16 bits because the SCREEN BOUND,
    * not recall, is what bucketing serves here: skipping a bucket
    * needs θ(q, centroid) > θ_t + radius with θ_t = acos(0.4) ≈ 66°,
    * so radii must stay tens of degrees — i.e. buckets must isolate
    * the eval set's angular clusters, not merely correlate with them.
    * 2¹⁶ key space holds ~10³–10⁴ NON-EMPTY buckets on real eval
    * benchmarks (only non-empty cells materialize); the per-corpus-row
    * bound work is one dot per non-empty bucket.
    */
  val ScreenPlanes = 16
  lazy val screenPlanes: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until ScreenPlanes).map { p =>
      (0 until Dim).map { j =>
        val h = md.digest(s"e:$p,$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 1) 1 else -1
      }
    }
  }

  /** Sign bits for the SECOND bound level inside each screen bucket
    * (plane indices continue the same md5-seeded `"e:p,j"` family, so
    * the sub-directions are independent of the bucket directions).
    * Why a hierarchy instead of more level-1 planes: the level-1 bound
    * pass costs one dot per NON-EMPTY bucket on EVERY corpus row, so
    * widening level 1 trades member dots for bound dots 1:1; sub-cell
    * bounds are paid only by rows that already SURVIVED their bucket's
    * bound (the thin angular boundary shell), so their cost scales
    * with survivors, not the corpus. Default from a measured sf100
    * sweep (199k eval vectors, single-sample isolated walls):
    * 4→99.6 s, 6→84.2, 8→80.7, 10→69.8, 12→60.0, 14→59.6, 16→52.9,
    * **20→47.8**, 24→61.7 — high sub-plane counts keep winning because
    * the fixture's tight clusters (median radius 5.6°) co-land their
    * members in FEW sub-keys regardless (sign bits of near-parallel
    * directions agree), so sub-cells stay multi-member where pruning
    * leverage matters and only the diffuse mass spreads; past ~20 the
    * singleton-sub overhead (one bound dot standing in for one member
    * dot) takes over. Pruning is exact at any value, so the verdict —
    * and the oracle hash — does not depend on it.
    */
  val ScreenSubPlanes: Int = 20
  lazy val screenSubPlanes: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (ScreenPlanes until ScreenPlanes + ScreenSubPlanes).map { p =>
      (0 until Dim).map { j =>
        val h = md.digest(s"e:$p,$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 1) 1 else -1
      }
    }
  }

  /** Plane count for the THIRD bound level (sub-sub-cells inside each
    * sub-cell; plane indices continue the md5 `"e:p,j"` family after
    * the level-2 block). The level-3 key is CENTERED — sign of
    * `dot(ev − scv, w_p)` against the sub-cell's own mean — not a raw
    * sign bit: members of a tight cluster are near-parallel and agree
    * on RAW sign planes by construction (the exact reason the r14
    * level-2 sweep plateaued at 20 planes), while their differences
    * from the cluster mean project to both signs of any plane — so
    * centered keys split what raw keys cannot: multiple near-parallel
    * clusters sharing one sub-key, and a cluster's own angular
    * structure if it has any. Computed entirely IN-ARRAY (HOFs over
    * the already-collected member block — no third exchange); level-3
    * bound dots are paid only by rows that survived level 2. Pruning
    * stays exact at any value (triangle inequality per level, member
    * arithmetic bit-identical), so the verdict and the oracle hash do
    * not depend on it. Value from the r15 sf100 sweep — see
    * docs/BENCH_NOTES.md r15.
    */
  val ScreenSubSubPlanes: Int = 12
  lazy val screenSubSubPlanes: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val base = ScreenPlanes + ScreenSubPlanes
    (base until base + ScreenSubSubPlanes).map { p =>
      (0 until Dim).map { j =>
        val h = md.digest(s"e:$p,$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 1) 1 else -1
      }
    }
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.parquet(s, dir, "embeddings")

  /** Element-wise double view of the float embedding. */
  private def vCol(c: Column): Column = transform(c, x => x.cast("double"))

  /** In-order left-fold dot product of two double arrays — the native
    * codegen'd [[graft.functions.DotProduct]] expression (one fused loop;
    * for equal-length inputs bit-identical to the HOF
    * `aggregate(zip_with(...))` form, which [[dotHof]] keeps for the
    * equality spec; mismatched lengths are NULL in both forms).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graftDot(a, b)

  /** Reference HOF formulation of [[dot]] (same fold order). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** 8-char '0'/'1' LSH bucket key from the sign of each projection
    * (the near-dup arm's single fine-grained table).
    */
  def bucketCol(v: Column): Column = {
    val bits = (0 until NumPlanes).map { p =>
      val w = typedLit[Seq[Double]](planes(p).map(_.toDouble))
      when(dot(v, w) >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** [[AnnPlanesPerTable]]-char bucket key for ANN table `t`. */
  def annBucketCol(v: Column, t: Int): Column = {
    val bits = (0 until AnnPlanesPerTable).map { p =>
      val w = typedLit[Seq[Double]](annPlanes(t)(p).map(_.toDouble))
      when(dot(v, w) >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** (vec_id, v, nrm[, bucket]) prepared view of the corpus. */
  private def prepared(s: SparkSession, dir: String, withBucket: Boolean): DataFrame = {
    val base = emb(s, dir)
      .select(col("vec_id"), vCol(col("embedding")).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
    if (withBucket) base.withColumn("bucket", bucketCol(col("v"))) else base
  }

  private def cosine(qv: Column, cv: Column, qn: Column, cn: Column): Column =
    dot(qv, cv) / (sqrt(qn) * sqrt(cn))

  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
      .orderBy("query_id", "rank")
  }

  /** One Lloyd iteration: assign each training vector to its
    * most-cosine-similar centroid, then replace each centroid by the
    * MEAN of its assigned vectors. The mean is an IN-ORDER (by vec_id)
    * fold over the collected vectors — order-fixed summation is what
    * keeps the trained centroids bit-identical to the DuckDB oracle
    * (a parallel `avg` would sum in partition order). collect_list here
    * is bounded by TrainN, not the corpus — training runs on the
    * sample, never at corpus scale. Cells that attract no sample
    * vectors drop out (standard Lloyd-on-a-sample behavior, same
    * GROUP BY semantics in both engines).
    */
  private def lloydStep(sample: DataFrame, cents: DataFrame): DataFrame = {
    val scored = sample.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cell_id"),
        cosine(col("v"), col("cv"), col("nrm"), col("cn")).as("csim"))
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cell_id").asc)
    val assigned = scored.withColumn("crank", row_number().over(byVec))
      .filter(col("crank") === 1)
    assigned.groupBy("cell_id")
      .agg(array_sort(collect_list(struct(col("vec_id"), col("v")))).as("vs"))
      .select(col("cell_id"),
        transform(
          aggregate(col("vs"), array_repeat(lit(0.0), Dim),
            (acc, x) => zip_with(acc, x.getField("v"), (a, b) => a + b)),
          s => s / size(col("vs"))).as("cv"))
      .withColumn("cn", dot(col("cv"), col("cv")))
  }

  /** Trained coarse quantizer as a Spark plan: seed = the first NumCells
    * vectors, then LloydIters refinement steps over the deterministic
    * TrainN sample. NOT on the query path anymore — [[lloydDriver]]
    * computes the same centroids on the driver from the collected
    * sample; this chain is kept as the independent cross-check
    * IvfPlanSpec's training-parity test compares against (and as the
    * executable documentation of what the oracle SQL computes).
    */
  private[sim] def trainedCentroids(c: DataFrame): DataFrame = {
    val sample = c.filter(col("vec_id") < TrainN)
      .select("vec_id", "v", "nrm")
    val seed = c.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    (1 to LloydIters).foldLeft(seed)((cents, _) => lloydStep(sample, cents))
  }

  /** The TrainN training vectors, collected: ≤256 rows × 64 doubles
    * (~128 KB) — a bounded side input like the stopword list. ONE
    * pushdown-filtered (`vec_id < TrainN`) scan; training never touches
    * the rest of the corpus.
    */
  private[sim] def collectSample(c: DataFrame): Seq[(Long, Array[Double])] =
    c.filter(col("vec_id") < TrainN).select("vec_id", "v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      .sortBy(_._1)

  /** Lloyd's algorithm on the driver, mirroring [[lloydStep]] /
    * [[trainedCentroids]] operation-for-operation in plain double
    * arithmetic (in-order dot fold, vec_id-ordered mean summation,
    * csim-desc/cell-id-asc assignment, empty cells drop) — so the
    * result is bit-identical to both the Spark training chain
    * (IvfPlanSpec pins this) and the DuckDB oracle. Training a coarse
    * quantizer on a collected sliver and shipping the centroids back as
    * literals is the standard IVF shape at any scale; running the 2
    * Lloyd steps as Spark jobs over 256 rows bought nothing but ~1 s of
    * per-invocation job-scheduling overhead. Finite values assumed
    * (zero-norm vectors would produce NaN cosines, which the engines
    * order differently — the fixtures contain none).
    */
  private[sim] def lloydDriver(
      sample: Seq[(Long, Array[Double])]): Seq[(Long, Seq[Double], Double)] = {
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val withN = sample.map { case (id, v) => (id, v, dotD(v, v)) }
    var cents: Seq[(Long, Array[Double], Double)] =
      withN.filter(_._1 < NumCells)
    for (_ <- 1 to LloydIters) {
      val assigned = withN.map { case (id, v, n) =>
        // first strict win over cell_id-ascending cents ≡ row_number 1
        // under (csim DESC, cell_id ASC)
        var bestCid = -1L; var bestNeg = Double.PositiveInfinity
        for ((cid, cv, cn) <- cents) {
          val neg = -(dotD(v, cv) / (math.sqrt(n) * math.sqrt(cn)))
          if (neg < bestNeg) { bestNeg = neg; bestCid = cid }
        }
        (bestCid, id, v)
      }
      cents = assigned.groupBy(_._1).toSeq.map { case (cid, vs) =>
        val sorted = vs.sortBy(_._2)
        val acc = Array.fill(Dim)(0.0)
        sorted.foreach { case (_, _, v) =>
          var i = 0; while (i < Dim) { acc(i) = acc(i) + v(i); i += 1 }
        }
        val cv = acc.map(x => x / sorted.size)
        (cid, cv, dotD(cv, cv))
      }.sortBy(_._1)
    }
    cents.map { case (id, cv, cn) => (id, cv.toSeq, cn) }
  }

  /** Per-subspace PQ codebooks on the driver, mirrored
    * operation-for-operation by the oracle's pq CTE chain: subspace m of
    * a vector is dims [m·PqSubDim, (m+1)·PqSubDim); seeds are the
    * sample's `vec_id < PqK` subvectors (code_id = vec_id, the
    * [[trainedCentroids]] convention); assignment is L2 — argmin of
    * cn − 2·dot(x,c), a monotone rewrite of ‖x−c‖² that never divides
    * (so zero subvectors can't NaN, unlike cosine) — with ties to the
    * smaller code_id; the mean update is the vec_id-ordered in-order
    * fold [[lloydDriver]] uses; empty codewords drop. Result per
    * subspace is code_id-ascending, so a codeword's LIST POSITION is the
    * portable dense index the Spark plan stores as the code
    * ([[pqCodesCol]]) while the oracle joins on code_id — same codeword
    * either way.
    */
  private[sim] def pqTrainDriver(sample: Seq[(Long, Array[Double])])
      : IndexedSeq[IndexedSeq[(Long, Seq[Double], Double)]] = {
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    (0 until PqM).map { m =>
      val sub = sample.map { case (id, v) =>
        (id, v.slice(m * PqSubDim, (m + 1) * PqSubDim))
      }
      var cents: Seq[(Long, Array[Double], Double)] =
        sub.filter(_._1 < PqK).map { case (id, sv) => (id, sv, dotD(sv, sv)) }
      for (_ <- 1 to PqLloydIters) {
        val assigned = sub.map { case (id, sv) =>
          // first strict win over code_id-ascending cents ≡ row_number 1
          // under (d ASC, code_id ASC)
          var bestCid = -1L; var bestD = Double.PositiveInfinity
          for ((cid, cv, cn) <- cents) {
            val d = cn - 2.0 * dotD(sv, cv)
            if (d < bestD) { bestD = d; bestCid = cid }
          }
          (bestCid, id, sv)
        }
        cents = assigned.groupBy(_._1).toSeq.map { case (cid, vs) =>
          val sorted = vs.sortBy(_._2)
          val acc = Array.fill(PqSubDim)(0.0)
          sorted.foreach { case (_, _, sv) =>
            var i = 0; while (i < PqSubDim) { acc(i) = acc(i) + sv(i); i += 1 }
          }
          val cv = acc.map(x => x / sorted.size)
          (cid, cv, dotD(cv, cv))
        }.sortBy(_._1)
      }
      cents.map { case (id, cv, cn) => (id, cv.toSeq, cn) }.toIndexedSeq
    }
  }

  /** A constant double array as ONE Literal node (`typedLit`), not a
    * [[Dim]]-child `CreateArray(lit, …)` tree. Catalyst constant-folds
    * both to the same ArrayData, so runtime values are identical — but
    * the folded form only exists AFTER optimization, and every eager
    * DataFrame transformation re-ANALYZES the whole tree first. With
    * the PQ codebook embedded as nested CreateArray trees (~20k leaf
    * nodes: 16 subspaces × 64 codewords × 4 dims, plus the 16×16×64
    * norm tables), `sim_cosine_ann_pq` measured 1.4 s of warm BUILD
    * time (plan construction alone) + inflated analyze/AQE-replan cost
    * on every execution; single-node literals collapse that to
    * microseconds (r16, guide §1.2 "per-task work" applied to the
    * driver's plan work). Verified value-identical by the existing
    * parity specs (IvfPlanSpec kernel ≡ unrolled ≡ driver argmin).
    */
  private def litArr(cv: Seq[Double]): Column = typedLit(cv)

  /** Per-row PQ codes for `vec` (the raw vector, or the IVF residual —
    * the encoder is agnostic): for each subspace, the 1-based LIST
    * POSITION of the L2-nearest codeword — a narrow map (PqM·PqK
    * literal [[PqSubDim]]-dim dots + PqM sorts of PqK structs per
    * row), zero shuffle, exactly the [[probeCells]] pattern. The
    * struct sorts on (d, code_id), so ties break to the smaller
    * code_id like the oracle.
    */
  /** Per-row codes through the native [[graft.functions.PqEncode]]
    * kernel: one fused loop over all PqM·PqK codewords, with the
    * codebook embedded once as a reference object. The unrolled
    * Column form ([[pqCodesColUnrolled]], kept as the spec's
    * independent twin) emits ~PqM·PqK sub-expressions into the
    * projection — at 16×64 that dominated the encode pass (~7 s of
    * sim_cosine_ann_pq's 9.7 s at sf0.1); the kernel encodes the same
    * codes (bit-identical distances, same first-wins tie-break) in
    * microseconds per row.
    */
  private[sim] def pqCodesCol(
      cb: IndexedSeq[IndexedSeq[(Long, Seq[Double], Double)]],
      vec: Column): Column =
    graft.functions.GraftFunctions.graftPqEncode(vec,
      typedLit[Seq[Seq[Seq[Double]]]](
        cb.toSeq.map(_.toSeq.map(_._2.toSeq))),
      typedLit[Seq[Seq[Double]]](cb.toSeq.map(_.toSeq.map(_._3))))

  /** The unrolled Column-expression twin of [[pqCodesCol]] — argmin
    * via array_min + FIRST-index array_position, identical to the
    * oracle's (d ASC, code_id ASC) ranking because the codebook is
    * code_id-ascending. IvfPlanSpec pins kernel ≡ unrolled ≡ driver
    * argmin.
    */
  private[sim] def pqCodesColUnrolled(
      cb: IndexedSeq[IndexedSeq[(Long, Seq[Double], Double)]],
      vec: Column): Column =
    array((0 until PqM).map { m =>
      val sub = slice(vec, m * PqSubDim + 1, PqSubDim)
      val d = array(cb(m).map { case (_, cv, cn) =>
        lit(cn) - lit(2.0) * dot(sub, litArr(cv))
      }: _*)
      array_position(d, array_min(d)).cast("int")
    }: _*)

  /** IVF-residual training sample: each training vector minus its
    * assigned coarse centroid (same strict-win cosine assignment rule
    * as [[lloydDriver]] / the oracle's `iassign`). Residual PQ encodes
    * what the coarse quantizer CANNOT express, so the per-subspace
    * codebooks spend their 4 bits on local structure instead of
    * re-describing cell position — the standard IVFADC construction.
    */
  private[sim] def residualSample(sample: Seq[(Long, Array[Double])],
      cents: Seq[(Long, Seq[Double], Double)]): Seq[(Long, Array[Double])] = {
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val centArr = cents.map { case (id, cv, cn) => (id, cv.toArray, cn) }
    sample.map { case (id, v) =>
      val n = dotD(v, v)
      var bestCv: Array[Double] = null
      var bestNeg = Double.PositiveInfinity
      for ((_, cv, cn) <- centArr) {
        val neg = -(dotD(v, cv) / (math.sqrt(n) * math.sqrt(cn)))
        if (neg < bestNeg) { bestNeg = neg; bestCv = cv }
      }
      (id, Array.tabulate(v.length)(i => v(i) - bestCv(i)))
    }
  }

  /** Per-query ADC lookup tables: lut[m][pos] = dot(query subspace m,
    * codeword pos of subspace m) — computed once per QUERY row
    * (NumQueries of them), never per candidate, through the fused
    * [[graft.functions.PqLut]] kernel (the unrolled Column form put
    * ~PqM·PqK dot sub-expressions in the projection).
    */
  private def pqLutCol(
      cb: IndexedSeq[IndexedSeq[(Long, Seq[Double], Double)]]): Column =
    graft.functions.GraftFunctions.graftPqLut(col("v"),
      typedLit[Seq[Seq[Seq[Double]]]](
        cb.toSeq.map(_.toSeq.map(_._2.toSeq))))

  /** IVF+PQ ANN with RESIDUAL encoding and asymmetric-distance scoring
    * (the IVFADC construction; r10 encoded raw vectors and measured
    * recall 0.44/0.20 at sf0.001/sf0.01 — residual codebooks spend
    * their bits on what the coarse quantizer can't express). Coarse
    * cells prune candidates exactly as [[ivfTopK]]; each vector is
    * encoded as codes of r = v − centroid(cell(v)), and the score is
    * dot(q, c + r̂) = dot(q, c) + Σ_m lut[m][code_m] over the
    * reconstructed norm ‖c + r̂‖² = cn + Σ_m (2·dot(c_m, r̂_m) +
    * ‖r̂_m‖²) — the cross/norm terms are DRIVER-computed literals
    * indexed by (cell, code), so the candidate side still carries just
    * (cell_id, vec_id, PqM codes, anrm) ≈ 90 bytes instead of the
    * 512-byte vector. THAT is the 100 TB story: past the one encode
    * pass (narrow, zero-shuffle, fused with coarse assignment on the
    * same scan), no full-precision vector ever moves again — candidate
    * scoring is PqM table lookups + adds per pair. dot(q, c) rides the
    * probe explode for free ([[probeCells]]' cdot field). Training
    * reuses the ONE collected [[TrainN]] sample (eager-at-build,
    * docs/PLANS.md). The DuckDB oracle retrains both quantizers from
    * scratch in SQL, computes residuals/cross-terms at runtime, and
    * joins codewords by code_id instead of position — an independent
    * reconstruction of the whole chain, hash-compared.
    */
  private def pqTopK(s: SparkSession, dir: String): DataFrame =
    pqTopKFrom(prepared(s, dir, withBucket = false), None)

  /** [[pqTopK]] with an optionally pre-collected training sample —
    * `sim_ann_recall` builds all three ANN arms in one invocation, and
    * before r16 the IVF and PQ arms each re-ran the [[collectSample]]
    * job + driver Lloyd on the same [[TrainN]] rows (identical inputs →
    * identical centroids, so sharing cannot change any value).
    */
  private def pqTopKFrom(c: DataFrame,
      sampleIn: Option[Seq[(Long, Array[Double])]],
      qIn: Option[DataFrame] = None): DataFrame = {
    val sample = sampleIn.getOrElse(collectSample(c))
    val cents = lloydDriver(sample)
    val coarse = probeCells(cents)
    val cb = pqTrainDriver(residualSample(sample, cents))
    def dotD(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // literal lookup tables over the trained constants: cell ids (for
    // the id→position translation), centroid matrix (residual
    // subtraction), centroid norms, and per-(m, cell, code) norm terms
    // t = 2·dot(c_m, codeword) + ‖codeword‖²
    val idArr = typedLit[Seq[Long]](cents.map(_._1).toSeq)
    val centMat = typedLit[Seq[Seq[Double]]](cents.map(_._2.toSeq).toSeq)
    val cnArr = litArr(cents.map(_._3))
    val tLit: IndexedSeq[Column] = (0 until PqM).map { m =>
      typedLit[Seq[Seq[Double]]](cents.map { ct =>
        val csub = ct._2.slice(m * PqSubDim, (m + 1) * PqSubDim)
        cb(m).map { case (_, cv, cn) => 2.0 * dotD(csub, cv) + cn }.toSeq
      }.toSeq)
    }
    val assign = c
      .withColumn("cell_id", element_at(coarse, 1).getField("cell_id"))
      .withColumn("pos", array_position(idArr, col("cell_id")).cast("int"))
      .withColumn("rv",
        zip_with(col("v"), element_at(centMat, col("pos")), (a, b) => a - b))
      .withColumn("codes", pqCodesCol(cb, col("rv")))
      .select(col("cell_id"), col("vec_id"), col("codes"),
        (element_at(cnArr, col("pos")) + (0 until PqM).map { m =>
          element_at(element_at(tLit(m), col("pos")),
            element_at(col("codes"), m + 1))
        }.reduceLeft(_ + _)).as("anrm"))
    val q = qIn.getOrElse(c.filter(col("vec_id") < NumQueries))
      .withColumn("cells", coarse)
      .select(explode(slice(col("cells"), 1, NProbe)).as("pc"),
        col("vec_id").as("query_id"), pqLutCol(cb).as("qlut"),
        col("nrm").as("qn"))
      .select(col("pc.cell_id").as("cell_id"), col("pc.cdot").as("qcd"),
        col("query_id"), col("qlut"), col("qn"))
    val adc = (0 until PqM).map { m =>
      element_at(element_at(col("qlut"), m + 1), element_at(col("codes"), m + 1))
    }.foldLeft(lit(0.0))(_ + _)
    val pairs = assign.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        ((col("qcd") + adc) / (sqrt(col("qn")) * sqrt(col("anrm")))).as("cos"))
    rankTopK(pairs, TopK).withColumnRenamed("cos", "adc_cos")
  }

  /** Exact top-k: broadcast query batch × corpus scan, window top-k. */
  private def exactTopK(s: SparkSession, dir: String): DataFrame =
    exactTopKFrom(prepared(s, dir, withBucket = false), None)

  /** [[exactTopK]] with an optionally shared query batch (see
    * [[queryBatch]]). */
  private def exactTopKFrom(c: DataFrame, qIn: Option[DataFrame]): DataFrame = {
    val q = qIn.getOrElse(c.filter(col("vec_id") < NumQueries))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    rankTopK(pairs, TopK)
  }

  /** The NumQueries query rows (vec_id, v, nrm), collected and
    * re-entered as a LOCAL frame — a bounded side input (10 rows × 64
    * doubles, the collectSample discipline). `sim_ann_recall` builds
    * FOUR query-batch consumers per invocation (exact + 3 ANN arms);
    * through r16 each re-derived the batch from its own
    * pushdown-filtered scan — four extra scan stages (plus their AQE
    * round-trips locally, plus four extra jobs at sf100). Values are
    * untouched: the local rows carry the scan-side expressions'
    * computed doubles bit-for-bit (collect round-trips IEEE-754
    * exactly), and every consumer applies the same downstream
    * expressions it applied to the scan. Standalone arm registrations
    * (`sim_cosine_topk`, `sim_cosine_ann_*`) keep their scan-derived
    * query sides — plans unchanged there.
    */
  private def queryBatch(c: DataFrame): DataFrame = {
    val q = c.filter(col("vec_id") < NumQueries).select("vec_id", "v", "nrm")
    c.sparkSession.createDataFrame(
      java.util.Arrays.asList(q.collect(): _*), q.schema)
  }

  /** LSH ANN: same scoring, but only candidates sharing the query's
    * bucket in at least one of the [[AnnTables]] tables. The corpus
    * side explodes to (table, bucket) rows — a NARROW ×L map, no
    * shuffle, because the query batch broadcasts into the bucket join;
    * a pair matching in several tables scores identically each time
    * and collapses via one (query_id, vec_id) aggregate (min of equal
    * doubles — the only shuffle besides the final top-k window, both
    * candidate-bounded, never corpus-bounded).
    */
  private def lshTopK(s: SparkSession, dir: String): DataFrame =
    lshTopKFrom(prepared(s, dir, withBucket = false), None)

  /** [[lshTopK]] with an optionally shared query batch (see
    * [[queryBatch]]). The batch gets the same ×L bucket explode the
    * corpus side applies — explode and the vec_id filter commute, so
    * the derived (t, bucket) rows are identical either way.
    */
  private def lshTopKFrom(c: DataFrame, qIn: Option[DataFrame]): DataFrame = {
    val tables = array((0 until AnnTables).map(t =>
      struct(lit(t).as("t"), annBucketCol(col("v"), t).as("bucket"))): _*)
    def explodeTables(df: DataFrame): DataFrame =
      df.withColumn("tb", explode(tables))
        .select(col("tb.t").as("t"), col("tb.bucket").as("bucket"),
          col("vec_id"), col("v"), col("nrm"))
    val ce = explodeTables(c)
    val q = explodeTables(qIn.getOrElse(c.filter(col("vec_id") < NumQueries)))
      .select(col("t"), col("bucket"), col("vec_id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qn"))
    val pairs = ce.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
      .groupBy("query_id", "vec_id").agg(min(col("cos")).as("cos"))
    rankTopK(pairs, TopK)
  }

  /** Trained centroids materialized to the driver: NumCells (16) rows of
    * 64 doubles — a BOUNDED side input exactly like the stopword list,
    * never corpus-sized. Materializing the trained values and
    * re-entering them as literals is what lets full-corpus assignment
    * be a narrow projection: r4 kept the centroids as a broadcast
    * DataFrame and assigned via crossJoin + per-vector row_number
    * window, which (a) shuffled the whole corpus for the window and
    * (b) executed that subtree TWICE, because `assign` and `qcells`
    * were two consumers and Spark reuses exchanges, not arbitrary
    * subtrees — measured 3.2× slower at sf0.1. Since r6 the Lloyd
    * refinement itself runs on the driver over the ONE collected
    * sample ([[lloydDriver]]; parity with the Spark chain pinned by
    * IvfPlanSpec), so building the query costs one tiny
    * pushdown-filtered collect instead of three scheduled jobs. This
    * collect is one of the registry's documented eager-at-build steps
    * (docs/PLANS.md table; RegistrySpec pin): it runs at query-BUILD
    * time (even for a bare `explain`), which is the price of a
    * literal-embedded quantizer.
    */
  private def centroidLiterals(c: DataFrame): Seq[(Long, Seq[Double], Double)] =
    lloydDriver(collectSample(c))

  /** Per-row sorted probe list: an array of (−csim, cell_id) structs,
    * one per centroid, array_sort'ed — for FINITE cosines, ascending on
    * the negated value is exactly the r4 window's (csim DESC, cell_id
    * ASC) order, with zero shuffle. (NaN cosines — possible only from a
    * zero-norm vector or centroid — would diverge: a DESC window sorts
    * NaN first, array_sort ascending sorts it last. The embeddings
    * fixture and any L2-normalized corpus contain no zero vectors;
    * callers with unnormalized data should pre-filter `nrm > 0`.)
    * Element 1 is the vector's cell; the first NProbe are a query's
    * probe cells. Each struct also carries the RAW dot(v, centroid)
    * (`cdot`) — the residual-PQ score needs it on the query side, and
    * cell_id's uniqueness keeps the sort order unaffected by the extra
    * field.
    */
  private def probeCells(cents: Seq[(Long, Seq[Double], Double)]): Column =
    array_sort(array(cents.map { case (id, cv, cn) =>
      val w = litArr(cv)
      val d = dot(col("v"), w)
      struct((-(d / (sqrt(col("nrm")) * sqrt(lit(cn))))).as("neg"),
        lit(id).as("cell_id"), d.as("cdot"))
    }: _*))

  /** IVF ANN with a TRAINED coarse quantizer: seeded k-means centroids
    * refined by [[LloydIters]] Lloyd steps over the [[TrainN]] sample,
    * then collected (16 rows) and embedded as literals. Every vector is
    * assigned to its most-similar cell by a NARROW map (NumCells dots +
    * one 16-element array_sort per row — no shuffle); a query probes
    * its NProbe nearest cells and scores only those cells' members via
    * one broadcast equi-join. At 100 TB: training touches only the
    * sample, assignment is one corpus pass with zero exchanges, and the
    * probe join touches NProbe/NumCells of the data. Tune NProbe
    * against the measured `sim_ann_recall` query, not by feel.
    * IvfPlanSpec pins the no-corpus-window shape.
    */
  private def ivfTopK(s: SparkSession, dir: String): DataFrame =
    ivfTopKFrom(prepared(s, dir, withBucket = false), None)

  /** [[ivfTopK]] with an optionally shared training sample (see
    * [[pqTopKFrom]]) and query batch (see [[queryBatch]]). */
  private def ivfTopKFrom(c: DataFrame,
      sampleIn: Option[Seq[(Long, Array[Double])]],
      qIn: Option[DataFrame] = None): DataFrame = {
    val cells = probeCells(lloydDriver(sampleIn.getOrElse(collectSample(c))))
    val assign = c.withColumn("cells", cells)
      .select(element_at(col("cells"), 1).getField("cell_id").as("cell_id"),
        col("vec_id"), col("v"), col("nrm"))
    // the query side re-derives its probe list from the shared local
    // batch when given one, else from the (pushdown-filtered:
    // vec_id < NumQueries) scan — a *tiny* read, not a corpus pass
    val qcells = qIn.getOrElse(c.filter(col("vec_id") < NumQueries))
      .withColumn("cells", cells)
      .select(explode(slice(col("cells"), 1, NProbe)).as("pc"),
        col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      .select(col("pc.cell_id").as("cell_id"), col("query_id"), col("qv"), col("qn"))
    val pairs = assign.join(broadcast(qcells), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qn"), col("nrm")).as("cos"))
    rankTopK(pairs, TopK)
  }

  /** SemDeDup (semantic deduplication over embeddings, after Abbas et
    * al. 2023, arXiv:2303.09540): prune vectors whose embedding is
    * near-identical to a kept one. Every vector is assigned to its
    * trained IVF cell by the same zero-shuffle narrow map as
    * [[ivfTopK]]; within each cap-admitted cell, pairs at cosine ≥
    * [[SemDedupThreshold]] mark the HIGHER vec_id as a duplicate
    * (keep-lowest-id — the deterministic keeper rule shared with
    * `dedup_near_apply`). Output is a per-vector verdict
    * (vec_id, cell_id, kept) over the whole corpus; vectors in
    * oversized cells are kept un-expanded (the cap never drops
    * silently — `sim_bucket_stats`'s `ivf_cell` row counts them).
    *
    * Scale notes: assignment is one corpus pass with zero exchanges
    * (16 literal dots per row); the pair stage shuffles once on
    * cell_id and expands |cell|²/2 only inside cap-admitted cells —
    * never corpus×corpus. The cell-size guard is a COUNT WINDOW
    * stacked on the same cell_id exchange (a size-aggregate joined
    * back would re-plan the assignment subtree), and pairs expand
    * IN-ARRAY off a per-cell collect_list of the cap-admitted members
    * — the a×b self-join formulation planned the 16-dot assignment
    * four times (size agg + both join sides + the verdict spine;
    * HOF-laden subtrees defeat exchange reuse) and measured ~2× slower
    * (1.75 → 0.9 s at sf0.1), the simhashPairs lesson again. At
    * 100 TB, [[NumCells]] is the lever that keeps cells
    * pair-expandable AND keeps the cell_id shuffle key-cardinality
    * healthy (16 keys is fixture-sized; production SemDeDup runs
    * ~100 k cells over billions of vectors, which also de-skews the
    * shuffle — and the collect_list only ever sees cap-admitted
    * cells, so its row size is bounded by [[MaxSemCell]]·dim).
    * Distance to the cell centroid — the quality signal real SemDeDup
    * keeps per cluster — is available here as element 1's `neg`; the
    * keeper rule stays id-based so the verdict is join-order-free and
    * oracle-stable.
    */
  /** Embedding-level decontamination: drop every corpus vector whose
    * cosine against ANY eval vector reaches [[EmbDecontamThreshold]] —
    * the semantic leak detector for PARAPHRASED eval contamination that
    * n-gram decontamination (`dedup_decontaminate`) cannot see, and the
    * cross-set sibling of [[semDedup]] (within-set near-dup → keep one;
    * cross-set near-dup → drop the corpus side).
    *
    * Scale notes: the eval side rides as ONE aggregated broadcast row
    * cross-joined to the corpus — the corpus never shuffles — but
    * pre-grouped into [[screenPlanes]] sign-bit direction buckets,
    * each carrying its member mean and ANGULAR RADIUS, and the
    * membership test is the [[graft.functions.AnyCosineGeCells]]
    * kernel: per corpus row, one dot against each non-empty bucket's
    * centroid decides by triangle inequality
    * (θ(q,c) − radius > acos(t) ⇒ no member can match — EXACT, see
    * the kernel scaladoc) whether the bucket's members are scanned at
    * all; survivors go through the same bit-identical member test as
    * the flat [[graft.functions.AnyCosineGe]] kernel (AnyCosineSpec
    * pins three-way parity: chain ≡ flat kernel ≡ cells kernel).
    *
    * Why the history matters at 100 TB: the r11 broadcast nested-loop
    * join paid ~320 ns per PAIR (36 s at sf10); the r12 flat kernel
    * cut the pair cost to the arithmetic floor (9.2 s at sf10) but
    * kept the FULL |corpus|·|evals| multiply — measured 933 s at
    * sf100, 101× for 10× data, because the fixture's eval set grows
    * with the corpus. The bucketed bound removes that quadratic term:
    * clean rows (the overwhelming majority) now pay |buckets| dots
    * instead of |evals|, and only rows angularly near an eval cluster
    * scan that cluster's members. A real eval benchmark is fixed-size,
    * but "the screen's cost must not be |corpus|·|evals|" is exactly
    * the property a 100 TB decontamination pass needs. Radii are
    * computed IN-PLAN (one pass over the eval side), so there is no
    * training, no driver collect, and no approximation anywhere —
    * the oracle keeps hash-matching bit-for-bit.
    */
  private def embDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val withLabel = emb(s, dir)
      .select(col("vec_id"), col("label"), vCol(col("embedding")).as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
    // 16 sign bits → bucket key (long). A null projection (null v or
    // null element) makes bkt NULL: those rows group into the null
    // bucket, whose members can never match (chain-NULL semantics,
    // enforced by the kernel's member packing).
    val bkt = (0 until ScreenPlanes).map { p =>
      val w = typedLit[Seq[Double]](screenPlanes(p).map(_.toDouble))
      when(dot(col("v"), w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    // Two-level index, one scan of the eval side. Level 2 first: the
    // members of each (bucket, sub-key) cell — sub-keys from the
    // [[screenSubPlanes]] family — with the member MEAN as the
    // representative direction and the angular radius max θ(ev, mean).
    // acos inputs are clamped to [−1, 1]; degenerate members (zero
    // norm → NaN cosine → NaN radius via greatest, or null elements →
    // null cv) disable the bound for their cell — the kernel then
    // scans it unconditionally, so degeneracy costs pruning, never
    // correctness. A null projection takes the `otherwise` branch, so
    // every plane contributes 0 and all null-element vectors collapse
    // into one concrete sub-key per bucket (never a NULL sub-key) —
    // one sub-cell whose null cv disables its bound as above.
    val sbkt = (0 until ScreenSubPlanes).map { p =>
      val w = typedLit[Seq[Double]](screenSubPlanes(p).map(_.toDouble))
      when(dot(col("v"), w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    def meanOf(msCol: org.apache.spark.sql.Column) = transform(
      aggregate(msCol, array_repeat(lit(0.0), Dim),
        (acc, x) => zip_with(acc, x.getField("ev"), (a, b) => a + b)),
      sElem => sElem / size(msCol))
    def radiusOf(msCol: org.apache.spark.sql.Column,
        cvCol: org.apache.spark.sql.Column,
        cnCol: org.apache.spark.sql.Column) =
      aggregate(msCol, lit(0.0), (mxAcc, x) =>
        greatest(mxAcc, acos(least(greatest(
          dot(x.getField("ev"), cvCol) /
            (sqrt(x.getField("en")) * sqrt(cnCol)),
          lit(-1.0)), lit(1.0)))))
    val perSub = withLabel.filter(col("label") === EmbEvalLabel)
      .withColumn("bkt", bkt)
      .withColumn("sbkt", sbkt)
      .groupBy("bkt", "sbkt")
      .agg(array_sort(collect_list(struct(col("v").as("ev"),
        col("nrm").as("en")))).as("ms"))
      .withColumn("scv", meanOf(col("ms")))
      .withColumn("scn", dot(col("scv"), col("scv")))
      .withColumn("scr", radiusOf(col("ms"), col("scv"), col("scn")))
    // Level 3 ([[ScreenSubSubPlanes]] centered planes): re-split each
    // sub-cell's member block by CENTERED sign keys — sign of
    // dot(ev − scv, w_p), i.e. which side of a plane THROUGH THE
    // SUB-CELL MEAN the member falls on — entirely in-array (HOFs over
    // the collected block, no further exchange). Each distinct key
    // becomes one sub-sub-cell with its own mean + radius; keys
    // partition the members, so the leaf blocks hold every member
    // exactly once and level 2's packed ms is a typed NULL. Degenerate
    // members (null elements → null dot → `otherwise` branch) collapse
    // into one concrete key whose null-poisoned mean disables that
    // leaf's bound — the kernel scans it, conservative as ever.
    def subStruct(ms2: org.apache.spark.sql.Column) = {
      val cv2 = meanOf(ms2)
      val cn2 = dot(cv2, cv2)
      struct(cv2.as("cv"), radiusOf(ms2, cv2, cn2).as("cr"),
        ms2.as("ms"))
    }
    def keyOf(ev: org.apache.spark.sql.Column) =
      (0 until ScreenSubSubPlanes).map { p =>
        val w = typedLit[Seq[Double]](screenSubSubPlanes(p).map(_.toDouble))
        when(dot(ev, w) - dot(col("scv"), w) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    val perSub2 = perSub
      .withColumn("mk", transform(col("ms"), m => keyOf(m.getField("ev"))))
      .withColumn("tagged", zip_with(col("ms"), col("mk"),
        (m, k) => struct(k.as("k"), m.as("m"))))
      .withColumn("subs2", transform(array_sort(array_distinct(col("mk"))),
        k => subStruct(transform(
          filter(col("tagged"), tm => tm.getField("k") === k),
          tm => tm.getField("m")))))
      .drop("mk", "tagged")
    // Level 1: per bucket, the sub-cells (sorted by sub-key — a
    // deterministic pack order) plus the bucket's own direction and a
    // radius over ALL its members (the flattened sub-cell blocks), so
    // the level-1 bound covers exactly what the sub-cells hold. The
    // bucket-level `ms` is a typed NULL: every member lives in exactly
    // one sub-cell, and the kernel scans the union.
    val msType = "array<struct<ev:array<double>,en:double>>"
    val perCell = perSub2.groupBy("bkt")
      .agg(array_sort(collect_list(struct(col("sbkt"), col("scv"),
        col("scr"), col("ms"), col("subs2")))).as("subsRaw"))
      .withColumn("allms", flatten(transform(col("subsRaw"),
        x => x.getField("ms"))))
      .withColumn("cv", meanOf(col("allms")))
      .withColumn("cn", dot(col("cv"), col("cv")))
      .withColumn("cr", radiusOf(col("allms"), col("cv"), col("cn")))
      // members live at the leaves; level 2 carries bounds + kids
      .withColumn("subs", transform(col("subsRaw"), x =>
        struct(x.getField("scv").as("cv"), x.getField("scr").as("cr"),
          lit(null).cast(msType).as("ms"),
          x.getField("subs2").as("subs"))))
    val idx = perCell.agg(sort_array(collect_list(
      struct(col("bkt"), col("cv"), col("cr"),
        lit(null).cast(msType).as("ms"), col("subs")))).as("cells"))
    withLabel.filter(col("label") =!= EmbEvalLabel)
      .crossJoin(broadcast(idx))
      .filter(!coalesce(graft.functions.GraftFunctions.graftAnyCosineGeCells(
        col("v"), col("cells"), lit(EmbDecontamThreshold)), lit(false)))
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  private def semDedup(s: SparkSession, dir: String): DataFrame = {
    val c = prepared(s, dir, withBucket = false)
    val cells = probeCells(centroidLiterals(c))
    val assign = c.withColumn("cells", cells)
      .select(element_at(col("cells"), 1).getField("cell_id").as("cell_id"),
        col("vec_id"), col("v"), col("nrm"))
    val byCell = org.apache.spark.sql.expressions.Window.partitionBy("cell_id")
    val withSz = assign.withColumn("csz", count(lit(1)).over(byCell))
    val members = withSz
      .filter(col("csz").between(2, MaxSemCell))
      .groupBy("cell_id")
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm")))
        .as("ms"))
      .withColumn("arr", array_sort(col("ms")))
    val pairCol = flatten(transform(col("arr"), (x, i) =>
      transform(slice(col("arr"), i + lit(2), size(col("arr"))),
        y => struct(x.as("a"), y.as("b")))))
    val drops = members.select(explode(pairCol).as("p"))
      .filter(cosine(col("p.a.v"), col("p.b.v"),
        col("p.a.nrm"), col("p.b.nrm")) >= SemDedupThreshold)
      .select(col("p.b.vec_id").as("vec_id")).distinct()
    withSz.join(drops.withColumn("dropped", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("dropped").isNull.as("kept"))
      .orderBy("vec_id")
  }

  // ---- exact label centroids + embedding outliers ------------------------

  /** Top-k farthest vectors per label reported by
    * `sim_centroid_outliers`. */
  val OutlierK = 10

  /** Per-(label, dimension) EXACT mean of the embedding corpus.
    *
    * Float sums are order-dependent, and Spark gives no ordering
    * guarantee across partitions — a double `avg` would not reproduce
    * bit-for-bit even against itself. Instead each float hops through
    * its shortest decimal string into DECIMAL(38,15) — both engines'
    * float→string is shortest-roundtrip (same digits; measured), and
    * scale 15 covers every fractional digit the fixture's value range
    * can produce (|v| ≥ 1e-6 → ≤14 frac digits), so the parse is exact
    * and the DECIMAL SUM is exact → order-independent → portable. The
    * final mean converts sum→double (correctly rounded) and divides by
    * the exact count: one IEEE division, bit-identical anywhere.
    *
    * Scale notes: posexplode fans ×Dim but map-side partial decimal
    * sums collapse to labels×Dim rows per partition before the ONE
    * bounded-cardinality shuffle. This is the mergeable-statistics
    * shape (per-partition partial sums) that survives any cluster size.
    */
  def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").cast("int").as("dim"),
        col("col").cast("string").cast("decimal(38,15)").as("dv"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("dv")).as("s"))
      .select(col("label"), col("dim"), col("n"),
        (col("s").cast("double") / col("n").cast("double")).as("mean"))

  /** Per-label embedding outliers: top-k vectors FARTHEST (euclidean)
    * from their label's exact centroid — the embedding-space quality
    * filter that surfaces mislabeled/degenerate documents before
    * training. Distance is an in-order fold over (v_d − c_d)² (same
    * fold discipline as [[dot]]); sqrt is IEEE-correctly-rounded, so
    * the whole score is engine-portable. Centroids (labels×Dim rows)
    * broadcast into one narrow corpus pass; the per-label top-k is a
    * WindowGroupLimit-bounded row_number.
    */
  def centroidOutliers(e: DataFrame, k: Int = OutlierK): DataFrame = {
    val cents = labelCentroids(e)
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
        x => x.getField("mean")).as("c"))
    val dist = sqrt(aggregate(
      zip_with(col("v"), col("c"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("dist").desc, col("vec_id").asc)
    e.select(col("vec_id"), col("label"), vCol(col("embedding")).as("v"))
      .join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"), dist.as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("label", "vec_id", "dist", "rank")
  }

  /** Scalar int8 quantization audit: quantize every embedding to 256
    * levels over per-dim corpus [lo, hi] ranges, dequantize, and report
    * each vector's reconstruction MSE and the cosine between original
    * and reconstruction — the measurement behind shipping a 4×-smaller
    * vector index (the exact-beside-estimate discipline, applied to
    * compression). floor-based level assignment, not round: floor is
    * exact on any IEEE input, while round ties-to-away vs ties-to-even
    * differ between engines.
    *
    * Scale notes: per-dim ranges are a [[Dim]]-row aggregate (map-side
    * partials collapse to 64 rows per task) re-entered as ONE broadcast
    * row of lo/hi arrays — the stopword/G4 side-input pattern; the
    * audit itself is a single narrow corpus pass of per-row HOF
    * arithmetic (quantize, dequantize, in-order error folds), so the
    * only exchange anywhere is the 64-group dim aggregate.
    */
  val QLevels = 255

  def quantizeAudit(e: DataFrame): DataFrame = {
    val dims = e.select(posexplode(vCol(col("embedding"))).as(Seq("dim", "x")))
      .groupBy("dim").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val ranges = dims
      .agg(array_sort(collect_list(struct(col("dim"), col("lo"), col("hi"))))
        .as("dl"))
      .select(transform(col("dl"), s => s.getField("lo")).as("lo"),
        transform(col("dl"), s => s.getField("hi")).as("hi"))
    def deqAt(i: Column): Column = {
      val x = element_at(col("v"), i)
      val lo = element_at(col("lo"), i)
      val hi = element_at(col("hi"), i)
      val scale = hi - lo
      when(scale > 0,
        lo + least(lit(QLevels.toDouble),
          floor((x - lo) * lit(QLevels.toDouble) / scale).cast("double")) *
          scale / lit(QLevels.toDouble))
        .otherwise(lo)
    }
    val mse = aggregate(
      zip_with(col("v"), col("deq"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x) / size(col("v")).cast("double")
    val cos = dot(col("v"), col("deq")) /
      (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("deq"), col("deq"))))
    e.select(col("vec_id"), col("label"), vCol(col("embedding")).as("v"))
      .crossJoin(broadcast(ranges))
      .withColumn("deq",
        transform(sequence(lit(1), size(col("v"))), i => deqAt(i)))
      .select(col("vec_id"), col("label"), mse.as("mse"), cos.as("cos_recon"))
  }

  /** Referential-integrity + vector-health audit of the embedding
    * corpus against the document corpus — the pre-flight check before
    * ANY of the embedding operators above run at scale (a join-based
    * pipeline silently drops docs whose embeddings are missing, and a
    * NaN vector poisons every cosine it touches). One row per audited
    * issue, zeros explicit (the `dedup_bucket_stats` discipline:
    * "nothing wrong" is an asserted fact, not an absent row):
    * docs_total / embeddings_total / missing_embedding (docs with no
    * vector) / orphan_embedding (vectors with no doc) / null_embedding
    * / wrong_dim (length ≠ [[Dim]]) / nonfinite_values (NaN or ±Inf
    * anywhere in the vector — detected through the self-dot, which is
    * NaN/+Inf iff some element is) / zero_norm (all-zero vector:
    * cosine-undefined, breaks every normalized operator).
    *
    * Scale notes: exactly ONE shuffle — the full-outer id join, over
    * two column-pruned single-column scans (ids only; at corpus scale
    * both sides are large, so a shuffle join on the id is the right
    * plan and nothing else would be). The health branch is a
    * shuffle-free 1-row global aggregate over one embeddings pass
    * (map-side partials → 1 row/task); each 1-row frame is `stack`-
    * pivoted to (issue, n) rows and the two branches union — no join
    * between them.
    */
  def embeddingCoverage(docs: DataFrame, e: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
      .join(e.select(col("vec_id")), col("doc_id") === col("vec_id"),
        "full_outer")
    def cnt(cond: Column): Column =
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L))
    val idAgg = ids.agg(
      count(col("doc_id")).as("docs_total"),
      count(col("vec_id")).as("embeddings_total"),
      cnt(col("vec_id").isNull).as("missing_embedding"),
      cnt(col("doc_id").isNull).as("orphan_embedding"))
    val nrm = dot(vCol(col("embedding")), vCol(col("embedding")))
    // zero_norm excludes empty arrays (wrong_dim catches those; the
    // oracle's list_sum([]) is NULL, so the engines agree).
    val health = e.select(col("embedding"), nrm.as("nrm")).agg(
      cnt(col("embedding").isNull).as("null_embedding"),
      cnt(col("embedding").isNotNull && size(col("embedding")) =!= Dim)
        .as("wrong_dim"),
      cnt(isnan(col("nrm")) || col("nrm") === Double.PositiveInfinity)
        .as("nonfinite_values"),
      cnt(col("nrm") === 0.0 && size(col("embedding")) > 0)
        .as("zero_norm"))
    // Two independent 1-row branches, each pivoted to (issue, n) and
    // unioned — no join between them (a cross-join of the 1-row frames
    // would plan as a nested-loop join, which the registry bans).
    idAgg.selectExpr(
      """stack(4,
        |  'docs_total', docs_total,
        |  'embeddings_total', embeddings_total,
        |  'missing_embedding', missing_embedding,
        |  'orphan_embedding', orphan_embedding) AS (issue, n)""".stripMargin)
      .unionByName(health.selectExpr(
        """stack(4,
          |  'null_embedding', null_embedding,
          |  'wrong_dim', wrong_dim,
          |  'nonfinite_values', nonfinite_values,
          |  'zero_norm', zero_norm) AS (issue, n)""".stripMargin))
      .orderBy("issue")
  }

  /** The eager builds: the exact top-k side input and the IVF training
    * sample every trained-quantizer query collects for driver Lloyd.
    */
  val specs: Map[String, graft.QuerySpec] = {
    val sample = graft.QuerySpec.Eager(_: String, "≤256 rows × 64 doubles")
    Map(
      "sim_ann_recall" -> graft.QuerySpec.Eager(
        "the exact top-k side input both ANN variants are scored against (it composes `ivfTopK`, so it also performs the IVF sample collect)",
        "NumQueries·TopK = 50 rows"),
      "sim_cosine_ann_ivf" -> sample(
        "the `vec_id < TrainN` training sample for driver-side Lloyd (centroids re-enter the plan as literals)"),
      "sim_cosine_ann_pq" -> sample(
        "the same IVF training sample, feeding BOTH the coarse quantizer and the 8 per-subspace PQ codebooks (all re-enter as literals)"),
      "sim_semdedup" -> sample(
        "the same IVF training sample (cell assignment embeds the trained centroids as literals)"),
      "sim_bucket_stats" -> sample(
        "the same IVF training sample, for the `ivf_cell` cap-audit row's cell assignment")
    ).map { case (n, b) => n -> graft.QuerySpec(build = b) }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cap observability for [[MaxNearDupBucket]] and [[MaxSemCell]]
    // (caps must never truncate silently — same audit contract as
    // `dedup_bucket_stats`): always exactly one row per capped method,
    // zeros when nothing is oversized. Each branch is one narrow
    // corpus pass computing bucket/cell sizes only (never vectors).
    // The ivf_cell branch embeds the trained quantizer, so this query
    // is eager-at-build like `sim_cosine_ann_ivf` (docs/PLANS.md).
    "sim_bucket_stats" -> ((s, dir) => {
      val c = prepared(s, dir, withBucket = true)
      def audit(sizes: DataFrame, cap: Int, method: String): DataFrame =
        sizes.filter(col("sz") > cap)
          .agg(count(lit(1)).as("dropped_buckets"),
            coalesce(sum(col("sz")), lit(0L)).as("dropped_postings"))
          .select(lit(method).as("method"),
            col("dropped_buckets"), col("dropped_postings"))
      val lsh = audit(c.groupBy("bucket").agg(count(lit(1)).as("sz")),
        MaxNearDupBucket, "embedding_lsh")
      val cellOf = element_at(probeCells(centroidLiterals(c)), 1)
        .getField("cell_id")
      val ivf = audit(
        c.withColumn("cell_id", cellOf)
          .groupBy("cell_id").agg(count(lit(1)).as("sz")),
        MaxSemCell, "ivf_cell")
      lsh.unionByName(ivf).orderBy("method")
    }),
    "sim_semdedup" -> (semDedup _),
    "sim_embedding_decontam" -> (embDecontaminate _),
    "sim_cosine_topk" -> (exactTopK _),
    "sim_cosine_ann_lsh" -> (lshTopK _),
    "sim_cosine_ann_ivf" -> (ivfTopK _),
    "sim_cosine_ann_pq" -> (pqTopK _),
    // Recall@k of each ANN variant against the exact scan — the number
    // a user tunes NProbe/NumPlanes with. One row per (variant, query):
    // hits = |ANN top-k ∩ exact top-k|, recall = hits/k. The exact
    // top-k is NumQueries·TopK = 50 rows — a BOUNDED side input. It is
    // the expensive |Q|·|C| branch and both variants consume it, so it
    // is computed ONCE here and re-entered as a local frame: nothing is
    // persisted, so nothing can leak into the session cache
    // (RegistrySpec asserts the cache is empty after every query).
    "sim_ann_recall" -> ((s, dir) => {
      // ONE training-sample collect shared by the IVF and PQ arms
      // (identical input rows → identical driver-trained quantizers,
      // so the shared sample cannot change any value — r16), and ONE
      // query-batch collect shared by all four arms' probe sides
      // (r17 — see queryBatch: 10 bounded rows, bit-identical values,
      // four pushdown scan stages gone).
      val c = prepared(s, dir, withBucket = false)
      val sample = Some(collectSample(c))
      val qb = Some(queryBatch(c))
      val ex = exactTopKFrom(c, qb).select("query_id", "vec_id")
      val exact = s.createDataFrame(
        java.util.Arrays.asList(ex.collect(): _*), ex.schema)
      def rec(ann: DataFrame, variant: String): DataFrame =
        exact.join(
            ann.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
            Seq("query_id", "vec_id"), "left")
          .groupBy("query_id").agg(count(col("hit")).as("hits"))
          .select(lit(variant).as("variant"), col("query_id"), col("hits"),
            (col("hits").cast("double") / lit(TopK)).as("recall"))
      rec(ivfTopKFrom(c, sample, qb), "ivf")
        .unionByName(rec(lshTopKFrom(c, qb), "lsh"))
        .unionByName(rec(pqTopKFrom(c, sample, qb), "pq"))
        .orderBy("variant", "query_id")
    }),
    // Corpus-level near-dup pairs: per-bucket self-join + exact rescore.
    // Oversized buckets (degenerate embedding clusters — zero vectors,
    // templated content) are dropped BEFORE the quadratic self-join,
    // the same cap discipline as the dedup candidate generators; the
    // size pass counts only (never collects vectors), and the kept-
    // bucket list is ≤2^NumPlanes rows → always broadcastable. At real
    // scale the primary lever is NumPlanes itself (keep avg bucket size
    // |corpus|/2^planes bounded); the cap is the hard stop under skew.
    // MaxNearDupBucket does not bind on the fixtures, so results are
    // unchanged — the oracle applies the identical HAVING cap.
    "sim_embedding_neardup" -> ((s, dir) => {
      val c = prepared(s, dir, withBucket = true)
      val small = c.groupBy("bucket").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= MaxNearDupBucket).select("bucket")
      val kept = c.join(broadcast(small), Seq("bucket"))
      val a = kept.select(col("bucket"), col("vec_id").as("vec_a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = kept.select(col("bucket"), col("vec_id").as("vec_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          cosine(col("va"), col("vb"), col("na"), col("nb")).as("cos"))
        .filter(col("cos") >= NearDupThreshold)
        .orderBy("vec_a", "vec_b")
    }),
    "sim_label_centroids" -> ((s, dir) =>
      labelCentroids(emb(s, dir)).orderBy("label", "dim")),
    "sim_centroid_outliers" -> ((s, dir) =>
      centroidOutliers(emb(s, dir)).orderBy("label", "rank")),
    "sim_quantize_audit" -> ((s, dir) =>
      quantizeAudit(emb(s, dir)).orderBy("vec_id")),
    "sim_embedding_coverage" -> ((s, dir) =>
      embeddingCoverage(
        graft.sources.Tables.parquet(s, dir, "documents"), emb(s, dir)))
  )

  // ---- DuckDB oracle SQL ------------------------------------------------

  /** `[1, -1, ...]` literal for plane p. */
  private def planeSql(p: Int): String =
    planes(p).mkString("[", ", ", "]")

  /** Mirrors `dot`: in-order fold over pairwise products (the leading
    * 0.0 + p1 of Spark's aggregate is exact, so no-init list_reduce
    * matches bit-for-bit).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  private val bucketSql: String =
    (0 until NumPlanes).map { p =>
      s"CASE WHEN ${dotSql("v", planeSql(p))} >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  /** `[1, -1, ...]` literal for ANN table t, plane p. */
  private def annPlaneSql(t: Int, p: Int): String =
    annPlanes(t)(p).mkString("[", ", ", "]")

  private def annBucketSql(t: Int): String =
    (0 until AnnPlanesPerTable).map { p =>
      s"CASE WHEN ${dotSql("v", annPlaneSql(t, p))} >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  /** Multi-table (t, bucket) view of the corpus — one UNION ALL branch
    * per ANN table, mirroring the Spark side's explode. Appended after
    * a CTE chain that defines n (leading comma).
    */
  private val annTbCte: String =
    ", tb AS (\n" + (0 until AnnTables).map(t =>
      s"  SELECT $t AS t, vec_id, v, nrm, ${annBucketSql(t)} AS bucket FROM n")
      .mkString("\n  UNION ALL\n") + "\n)"

  /** The multi-table candidate → score → collapse chain ending in
    * lp(query_id, vec_id, cos) — shared by the lsh oracle and the
    * recall oracle's lsh arm. min() over per-table duplicate scores of
    * the same pair collapses bit-identically (the doubles are equal).
    */
  private val lshPairsCtes: String =
    s""", lp0 AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |         ${dotSql("q.v", "c.v")} / (sqrt(q.nrm) * sqrt(c.nrm)) AS cos
       |  FROM tb q JOIN tb c
       |    ON q.t = c.t AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueries
       |), lp AS (
       |  SELECT query_id, vec_id, min(cos) AS cos FROM lp0 GROUP BY 1, 2
       |)""".stripMargin

  private val eCte: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
       |)""".stripMargin

  private val bCte: String =
    s"""$eCte, b AS (
       |  SELECT vec_id, v, nrm, $bucketSql AS bucket FROM n
       |)""".stripMargin

  /** One Lloyd step as CTEs: sc<i> scores sample×cents<i-1>, as<i>
    * assigns winners, cents<i> is the in-order per-cell mean (list(v
    * ORDER BY vec_id) + no-init list_reduce ≡ Spark's array_sort +
    * zero-init aggregate: the leading 0.0 + x is exact).
    */
  private def lloydCtesSql(it: Int): String =
    s""", sc$it AS (
       |  SELECT s.vec_id, s.v, c.cell_id,
       |         ${dotSql("s.v", "c.cv")} / (sqrt(s.nrm) * sqrt(c.cn)) AS csim
       |  FROM samp s CROSS JOIN cents${it - 1} c
       |), as$it AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY csim DESC, cell_id ASC) AS crank
       |    FROM sc$it) WHERE crank = 1
       |), cm$it AS (
       |  SELECT cell_id, list_transform(sv, s -> s / cnt) AS cv
       |  FROM (
       |    SELECT cell_id,
       |           list_reduce(list(v ORDER BY vec_id),
       |             (a, x) -> list_transform(range(1, ${Dim + 1}), i -> a[i] + x[i])) AS sv,
       |           count(*) AS cnt
       |    FROM as$it GROUP BY cell_id)
       |), cents$it AS (
       |  SELECT cell_id, cv, ${dotSql("cv", "cv")} AS cn FROM cm$it
       |)""".stripMargin

  /** Quantizer training + full-corpus assignment + probe chain, ending
    * in ir (ANN ranking). Appended after eCte/bCte (leading comma).
    */
  private val ivfCtes: String =
    s""", samp AS (
       |  SELECT vec_id, v, nrm FROM n WHERE vec_id < $TrainN
       |), cents0 AS (
       |  SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id < $NumCells
       |)${(1 to LloydIters).map(lloydCtesSql).mkString}, iscored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cell_id,
       |         ${dotSql("n.v", "c.cv")} / (sqrt(n.nrm) * sqrt(c.cn)) AS csim
       |  FROM n CROSS JOIN cents$LloydIters c
       |), iranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, cell_id ASC) AS crank
       |  FROM iscored
       |), iassign AS (
       |  SELECT cell_id, vec_id, v, nrm FROM iranked WHERE crank = 1
       |), iqcells AS (
       |  SELECT cell_id, vec_id AS query_id, v AS qv, nrm AS qn
       |  FROM iranked WHERE vec_id < $NumQueries AND crank <= $NProbe
       |), ip AS (
       |  SELECT q.query_id, a.vec_id,
       |         ${dotSql("q.qv", "a.v")} / (sqrt(q.qn) * sqrt(a.nrm)) AS cos
       |  FROM iassign a JOIN iqcells q
       |    ON a.cell_id = q.cell_id AND q.query_id <> a.vec_id
       |), ir AS (
       |  SELECT query_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
       |  FROM ip
       |)""".stripMargin

  /** [[dotSql]] over one PQ subspace ([[PqSubDim]] dims). */
  private def dotSubSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${PqSubDim + 1}), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  /** One PQ Lloyd step over ALL subspaces at once (rows tagged by m):
    * L2 assignment (d = cn − 2·dot, ties to smaller code_id), then the
    * vec_id-ordered in-order mean per (m, code_id) — the
    * [[lloydCtesSql]] construction with the subspace tag joined through.
    */
  private def pqLloydCtesSql(it: Int): String =
    s""", psc$it AS (
       |  SELECT s.m, s.vec_id, s.sv, c.code_id,
       |         c.cn - 2 * ${dotSubSql("s.sv", "c.cv")} AS d
       |  FROM psamp s JOIN pc${it - 1} c ON s.m = c.m
       |), pas$it AS (
       |  SELECT m, vec_id, sv, code_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY m, vec_id
       |      ORDER BY d ASC, code_id ASC) AS crank
       |    FROM psc$it) WHERE crank = 1
       |), pcm$it AS (
       |  SELECT m, code_id, list_transform(sv2, s -> s / cnt) AS cv
       |  FROM (
       |    SELECT m, code_id,
       |           list_reduce(list(sv ORDER BY vec_id),
       |             (a, x) -> list_transform(range(1, ${PqSubDim + 1}), i -> a[i] + x[i])) AS sv2,
       |           count(*) AS cnt
       |    FROM pas$it GROUP BY m, code_id)
       |), pc$it AS (
       |  SELECT m, code_id, cv, ${dotSubSql("cv", "cv")} AS cn FROM pcm$it
       |)""".stripMargin

  /** Residual PQ training + corpus encode + ADC scoring chain, ending
    * in ppr. Appended after eCte+ivfCtes (reuses iassign for residual
    * computation and iqcells for the coarse probe; codewords join by
    * code_id — the Spark plan's positional codes resolve to the same
    * codeword because [[pqTrainDriver]] returns them code_id-
    * ascending). `rres` is each vector minus its assigned coarse
    * centroid; codebooks train on and encode residuals, the score is
    * dot(q, c) + Σ_m lut and the norm is cn + Σ_m (2·dot(c_m, r̂_m) +
    * ‖r̂_m‖²) — every fold in m order via list(… ORDER BY m) to mirror
    * the Spark expression's in-order adds.
    */
  private val pqCtes: String =
    s""", msq AS (
       |  SELECT unnest(generate_series(0, ${PqM - 1})) AS m
       |), rres AS (
       |  SELECT a.vec_id, a.cell_id,
       |         list_transform(range(1, ${Dim + 1}), i -> a.v[i] - c.cv[i]) AS rv
       |  FROM iassign a JOIN cents$LloydIters c ON c.cell_id = a.cell_id
       |), psamp AS (
       |  SELECT r.vec_id, msq.m,
       |         r.rv[msq.m * $PqSubDim + 1 : msq.m * $PqSubDim + $PqSubDim] AS sv
       |  FROM rres r, msq WHERE r.vec_id < $TrainN
       |), pc0 AS (
       |  SELECT m, vec_id AS code_id, sv AS cv, ${dotSubSql("sv", "sv")} AS cn
       |  FROM psamp WHERE vec_id < $PqK
       |)${(1 to PqLloydIters).map(pqLloydCtesSql).mkString}, pcorp AS (
       |  SELECT r.vec_id, msq.m,
       |         r.rv[msq.m * $PqSubDim + 1 : msq.m * $PqSubDim + $PqSubDim] AS sv
       |  FROM rres r, msq
       |), pencode AS (
       |  SELECT vec_id, m, code_id FROM (
       |    SELECT p.vec_id, p.m, c.code_id,
       |           row_number() OVER (PARTITION BY p.vec_id, p.m
       |             ORDER BY c.cn - 2 * ${dotSubSql("p.sv", "c.cv")} ASC, c.code_id ASC) AS crank
       |    FROM pcorp p JOIN pc$PqLloydIters c ON p.m = c.m) WHERE crank = 1
       |), panrm AS (
       |  SELECT e.vec_id,
       |         min(cc.cn) + list_reduce(
       |           list(2 * ${dotSubSql(s"(cc.cv[e.m * $PqSubDim + 1 : e.m * $PqSubDim + $PqSubDim])", "k.cv")} + k.cn
       |                ORDER BY e.m),
       |           (a, x) -> a + x) AS anrm
       |  FROM pencode e
       |  JOIN rres r2 ON r2.vec_id = e.vec_id
       |  JOIN cents$LloydIters cc ON cc.cell_id = r2.cell_id
       |  JOIN pc$PqLloydIters k ON k.m = e.m AND k.code_id = e.code_id
       |  GROUP BY e.vec_id
       |), pquery AS (
       |  SELECT q.cell_id, q.query_id, q.qn, msq.m,
       |         q.qv[msq.m * $PqSubDim + 1 : msq.m * $PqSubDim + $PqSubDim] AS qsv
       |  FROM iqcells q, msq
       |), ppair AS (
       |  SELECT pq2.query_id, a.vec_id, a.cell_id, pq2.m, ${dotSubSql("pq2.qsv", "k.cv")} AS t
       |  FROM iassign a
       |  JOIN pquery pq2 ON a.cell_id = pq2.cell_id AND pq2.query_id <> a.vec_id
       |  JOIN pencode e ON e.vec_id = a.vec_id AND e.m = pq2.m
       |  JOIN pc$PqLloydIters k ON k.m = e.m AND k.code_id = e.code_id
       |), padc AS (
       |  SELECT query_id, vec_id, min(cell_id) AS cell_id,
       |         list_reduce(list(t ORDER BY m), (a, x) -> a + x) AS adc
       |  FROM ppair GROUP BY query_id, vec_id
       |), qcd AS (
       |  SELECT q.query_id, q.cell_id, ${dotSql("q.qv", "c.cv")} AS qcd
       |  FROM iqcells q JOIN cents$LloydIters c ON c.cell_id = q.cell_id
       |), pqn AS (
       |  SELECT DISTINCT query_id, qn FROM pquery
       |), pscore AS (
       |  SELECT p.query_id, p.vec_id,
       |         (qc.qcd + p.adc) / (sqrt(q2.qn) * sqrt(pn.anrm)) AS adc_cos
       |  FROM padc p
       |  JOIN qcd qc ON qc.query_id = p.query_id AND qc.cell_id = p.cell_id
       |  JOIN pqn q2 ON q2.query_id = p.query_id
       |  JOIN panrm pn ON pn.vec_id = p.vec_id
       |), ppr AS (
       |  SELECT query_id, vec_id, adc_cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc_cos DESC, vec_id ASC) AS INT) AS rank
       |  FROM pscore
       |)""".stripMargin

  /** Shared CTEs for the exact-centroid queries: per-(label, dim)
    * decimal-exact mean (see [[labelCentroids]] for the portability
    * argument).
    */
  private val centroidCtes: String =
    s"""WITH el AS (
       |  SELECT label, i - 1 AS dim,
       |         CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(38,15)) AS dv
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, $Dim)) AS i)
       |), cent AS (
       |  SELECT label, CAST(dim AS INT) AS dim, count(*) AS n,
       |         CAST(CAST(sum(dv) AS VARCHAR) AS DOUBLE)
       |           / CAST(count(*) AS DOUBLE) AS mean
       |  FROM el GROUP BY 1, 2
       |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "sim_bucket_stats" ->
      s"""$bCte$ivfCtes
         |SELECT method, dropped_buckets, dropped_postings FROM (
         |  SELECT 'embedding_lsh' AS method,
         |         count(*) AS dropped_buckets,
         |         CAST(coalesce(sum(sz), 0) AS BIGINT) AS dropped_postings
         |  FROM (SELECT bucket, count(*) AS sz FROM b GROUP BY 1)
         |  WHERE sz > $MaxNearDupBucket
         |  UNION ALL
         |  SELECT 'ivf_cell' AS method,
         |         count(*) AS dropped_buckets,
         |         CAST(coalesce(sum(sz), 0) AS BIGINT) AS dropped_postings
         |  FROM (SELECT cell_id, count(*) AS sz FROM iassign GROUP BY 1)
         |  WHERE sz > $MaxSemCell
         |) ORDER BY method""".stripMargin,
    "sim_semdedup" ->
      s"""$eCte$ivfCtes, csz AS (
         |  SELECT cell_id FROM iassign GROUP BY cell_id
         |  HAVING count(*) <= $MaxSemCell
         |), adm AS (
         |  SELECT a.* FROM iassign a JOIN csz USING (cell_id)
         |), sdrop AS (
         |  SELECT DISTINCT b2.vec_id AS vec_id
         |  FROM adm a JOIN adm b2
         |    ON a.cell_id = b2.cell_id AND a.vec_id < b2.vec_id
         |  WHERE ${dotSql("a.v", "b2.v")} / (sqrt(a.nrm) * sqrt(b2.nrm))
         |          >= $SemDedupThreshold
         |)
         |SELECT i.vec_id, i.cell_id, d.vec_id IS NULL AS kept
         |FROM iassign i LEFT JOIN sdrop d ON i.vec_id = d.vec_id
         |ORDER BY i.vec_id""".stripMargin,
    // label-carrying CTE variant (eCte prunes label away); same in-order
    // dot fold, so the cosine-vs-threshold verdicts are bit-shared
    "sim_embedding_decontam" ->
      s"""WITH el AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), nl AS (
         |  SELECT vec_id, label, v, ${dotSql("v", "v")} AS nrm FROM el
         |), ev AS (
         |  SELECT v AS evv, nrm AS en FROM nl WHERE label = $EmbEvalLabel
         |), hits AS (
         |  SELECT DISTINCT c.vec_id
         |  FROM nl c JOIN ev
         |    ON ${dotSql("c.v", "ev.evv")} / (sqrt(c.nrm) * sqrt(ev.en))
         |       >= CAST($EmbDecontamThreshold AS DOUBLE)
         |  WHERE c.label <> $EmbEvalLabel
         |)
         |SELECT nl.vec_id, nl.label FROM nl
         |LEFT JOIN hits ON hits.vec_id = nl.vec_id
         |WHERE nl.label <> $EmbEvalLabel AND hits.vec_id IS NULL
         |ORDER BY nl.vec_id""".stripMargin,
    "sim_cosine_topk" ->
      s"""$eCte, p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |         ${dotSql("q.v", "c.v")} / (sqrt(q.nrm) * sqrt(c.nrm)) AS cos
         |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries
         |), r AS (
         |  SELECT query_id, vec_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM p
         |)
         |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,
    "sim_cosine_ann_lsh" ->
      s"""$eCte$annTbCte$lshPairsCtes, r AS (
         |  SELECT query_id, vec_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM lp
         |)
         |SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,
    "sim_cosine_ann_ivf" ->
      s"""$eCte$ivfCtes
         |SELECT query_id, vec_id, cos, rank FROM ir WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,
    "sim_cosine_ann_pq" ->
      s"""$eCte$ivfCtes$pqCtes
         |SELECT query_id, vec_id, adc_cos, rank FROM ppr WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,
    "sim_ann_recall" ->
      s"""$eCte$annTbCte$ivfCtes$pqCtes, xp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |         ${dotSql("q.v", "c.v")} / (sqrt(q.nrm) * sqrt(c.nrm)) AS cos
         |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries
         |), xt AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, vec_id ASC) AS rank
         |    FROM xp) WHERE rank <= $TopK
         |)$lshPairsCtes, lt AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, vec_id ASC) AS rank
         |    FROM lp) WHERE rank <= $TopK
         |), ivf_t AS (
         |  SELECT query_id, vec_id FROM ir WHERE rank <= $TopK
         |), pq_t AS (
         |  SELECT query_id, vec_id FROM ppr WHERE rank <= $TopK
         |)
         |SELECT variant, query_id, hits,
         |       CAST(hits AS DOUBLE) / $TopK AS recall
         |FROM (
         |  SELECT 'ivf' AS variant, x.query_id AS query_id,
         |         count(t.vec_id) AS hits
         |  FROM xt x LEFT JOIN ivf_t t
         |    ON x.query_id = t.query_id AND x.vec_id = t.vec_id
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'lsh' AS variant, x.query_id AS query_id,
         |         count(t.vec_id) AS hits
         |  FROM xt x LEFT JOIN lt t
         |    ON x.query_id = t.query_id AND x.vec_id = t.vec_id
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'pq' AS variant, x.query_id AS query_id,
         |         count(t.vec_id) AS hits
         |  FROM xt x LEFT JOIN pq_t t
         |    ON x.query_id = t.query_id AND x.vec_id = t.vec_id
         |  GROUP BY 1, 2
         |) ORDER BY variant, query_id""".stripMargin,
    "sim_embedding_neardup" ->
      s"""$bCte, small AS (
         |  SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= $MaxNearDupBucket
         |), bk AS (
         |  SELECT b.* FROM b JOIN small USING (bucket)
         |)
         |SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
         |       ${dotSql("a.v", "b2.v")} / (sqrt(a.nrm) * sqrt(b2.nrm)) AS cos
         |FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |WHERE ${dotSql("a.v", "b2.v")} / (sqrt(a.nrm) * sqrt(b2.nrm)) >= $NearDupThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,
    // Exact portable mean: float → shortest string → DECIMAL(38,15)
    // (exact parse, exact order-independent sum; Spark mirrors with
    // cast(cast(x as string) as decimal(38,15))), then sum → double via
    // the VARCHAR hop (correctly rounded, = BigDecimal.doubleValue).
    "sim_label_centroids" ->
      s"""$centroidCtes
         |SELECT label, dim, n, mean FROM cent ORDER BY label, dim""".stripMargin,
    "sim_centroid_outliers" ->
      s"""$centroidCtes, carr AS (
         |  SELECT label, list(mean ORDER BY dim) AS c FROM cent GROUP BY label
         |), ev AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), dist AS (
         |  SELECT ev.label, ev.vec_id,
         |         sqrt(list_reduce(list_transform(range(1, ${Dim + 1}),
         |           i -> (v[i] - c[i]) * (v[i] - c[i])), (acc, x) -> acc + x)) AS dist
         |  FROM ev JOIN carr USING (label)
         |), r AS (
         |  SELECT label, vec_id, dist,
         |         CAST(row_number() OVER (PARTITION BY label
         |           ORDER BY dist DESC, vec_id ASC) AS INT) AS rank
         |  FROM dist
         |)
         |SELECT label, vec_id, dist, rank FROM r WHERE rank <= $OutlierK
         |ORDER BY label, rank""".stripMargin,
    // Same floor-level quantization, same IEEE op order per element;
    // min/max are exact, and the error/cosine folds reuse the in-order
    // list_reduce that mirrors Spark's aggregate fold bit-for-bit.
    "sim_quantize_audit" ->
      s"""WITH ev AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), dims AS (
         |  SELECT i AS dim, min(v[i]) AS lo, max(v[i]) AS hi
         |  FROM ev, LATERAL (SELECT unnest(range(1, ${Dim + 1})) AS i)
         |  GROUP BY 1
         |), ranges AS (
         |  SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi
         |  FROM dims
         |), d AS (
         |  SELECT vec_id, label, v,
         |         list_transform(range(1, ${Dim + 1}), i ->
         |           CASE WHEN r.hi[i] - r.lo[i] > 0
         |                THEN r.lo[i] + least(CAST($QLevels.0 AS DOUBLE),
         |                    floor((v[i] - r.lo[i]) * CAST($QLevels.0 AS DOUBLE)
         |                      / (r.hi[i] - r.lo[i])))
         |                  * (r.hi[i] - r.lo[i]) / CAST($QLevels.0 AS DOUBLE)
         |                ELSE r.lo[i] END) AS deq
         |  FROM ev, ranges r
         |)
         |SELECT vec_id, label,
         |       list_reduce(list_transform(range(1, ${Dim + 1}),
         |           i -> (v[i] - deq[i]) * (v[i] - deq[i])), (acc, x) -> acc + x)
         |         / CAST($Dim.0 AS DOUBLE) AS mse,
         |       ${dotSql("v", "deq")}
         |         / (sqrt(${dotSql("v", "v")}) * sqrt(${dotSql("deq", "deq")})) AS cos_recon
         |FROM d ORDER BY vec_id""".stripMargin,
    // Same audit conditions per category; the self-dot uses the ACTUAL
    // array length on both engines (list_sum here, graft_dot there), so
    // wrong-dim-but-finite vectors land in wrong_dim only. All counts
    // cast to BIGINT (DuckDB sums ints into HUGEINT).
    "sim_embedding_coverage" ->
      s"""WITH ij AS (
         |  SELECT d.doc_id, e.vec_id
         |  FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
         |), ida AS (
         |  SELECT count(doc_id) AS docs_total,
         |         count(vec_id) AS embeddings_total,
         |         CAST(coalesce(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS missing_embedding,
         |         CAST(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS orphan_embedding
         |  FROM ij
         |), en AS (
         |  SELECT embedding,
         |         list_sum(list_transform(embedding,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
         |  FROM embeddings
         |), h AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_embedding,
         |         CAST(coalesce(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) <> $Dim THEN 1 ELSE 0 END), 0) AS BIGINT) AS wrong_dim,
         |         CAST(coalesce(sum(CASE WHEN isnan(nrm) OR nrm = CAST('inf' AS DOUBLE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS nonfinite_values,
         |         CAST(coalesce(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS zero_norm
         |  FROM en
         |)
         |SELECT issue, n FROM (
         |  SELECT 'docs_total' AS issue, docs_total AS n FROM ida
         |  UNION ALL SELECT 'embeddings_total', embeddings_total FROM ida
         |  UNION ALL SELECT 'missing_embedding', missing_embedding FROM ida
         |  UNION ALL SELECT 'orphan_embedding', orphan_embedding FROM ida
         |  UNION ALL SELECT 'null_embedding', null_embedding FROM h
         |  UNION ALL SELECT 'wrong_dim', wrong_dim FROM h
         |  UNION ALL SELECT 'nonfinite_values', nonfinite_values FROM h
         |  UNION ALL SELECT 'zero_norm', zero_norm FROM h
         |) ORDER BY issue""".stripMargin
  )
}
