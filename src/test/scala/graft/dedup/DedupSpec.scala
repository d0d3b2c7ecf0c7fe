package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

class DedupSpec extends SparkSpec {

  // Crafted corpus: 0/1 identical, 2 a near-dup of them (one word changed
  // out of 12 → trigram jaccard well under 1 but high), 3 unrelated.
  private lazy val corpus: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
    (3L, "completely different words entirely unrelated content here now yes")
    ).toDF("doc_id", "text")
  }

  private def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("min-label propagation clusters a chain and picks one keeper") {
    val s = spark; import s.implicits._
    // path graph 10-11-12-13 + island 20-21
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val lab = Dedup.nearDupLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(10L, 11L, 12L, 13L).forall(lab(_) == 10L),
      "every chain member must converge to the component min")
    assert(lab(20L) == 20L && lab(21L) == 20L)
    // the independent driver fixpoint must match the Spark fixpoint
    val (driver, converged) = Dedup.propagateDriverChecked(
      Seq((10L, 11L), (11L, 12L), (12L, 13L), (20L, 21L)))
    assert(driver.toMap == lab, "driver propagation diverged from Spark rounds")
    assert(converged)
    // r11 regression: a path DEEPER than the old fixed 4-round budget
    // must now converge to exact components (r10 silently split it)
    val longPath = (0L until 12L).sliding(2).map(w => (w(0), w(1))).toSeq
    val (deepLabels, deepConverged) = Dedup.propagateDriverChecked(longPath)
    assert(deepConverged, "fixpoint must be reached on a diameter-11 path")
    assert(deepLabels.toMap == (0L until 12L).map(_ -> 0L).toMap,
      "every node of the deep path must label to the component min")
    val deepSpark = Dedup.nearDupLabels(longPath.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deepSpark == deepLabels.toMap,
      "distributed fixpoint diverged from driver fixpoint on the deep path")
  }

  test("near-dup apply keeps one doc per verified cluster") {
    // verified pairs at 0.8: 0/1 identical (jaccard 1.0) and doc 2's
    // one-word change shares 9/11 trigrams = 0.818 — all three verify
    val pairs = Dedup.ngramJaccard(corpus).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(pairs == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    val lab = Dedup.propagateDriver(pairs).toMap
    assert(lab == Map(0L -> 0L, 1L -> 0L, 2L -> 0L),
      "the verified cluster converges to min doc_id; doc 3 stays unlabeled")
  }

  test("exact duplicates are MinHash candidates; unrelated docs are not") {
    val pairs = Dedup.minhashCandidates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "identical docs must share every bucket")
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc must not appear in any candidate pair")
  }

  test("minhash calibration: candidate set pinned, exact jaccard vs reference") {
    // independent plain-Scala shingle reference for the exact column
    def shingleSet(text: String): Set[String] =
      text.split("\\s+").filter(_.nonEmpty).sliding(Dedup.ShingleSize)
        .map(_.mkString(" ")).toSet
    val texts = Map(
      0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu")
    val rows = Dedup.minhashCalibration(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r).toMap
    // same pairs as the candidate query, by construction
    val cand = Dedup.minhashCandidates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.keySet === cand)
    // identical docs: estimate and exact both 1, zero error
    val id = rows((0L, 1L))
    assert(id.getAs[Long]("sig_matches") === Dedup.NumHashes.toLong)
    assert(id.getAs[Double]("est_jaccard") === 1.0)
    assert(id.getAs[Double]("exact_jaccard") === 1.0)
    assert(id.getAs[Double]("abs_err") === 0.0)
    // every pair's exact column matches the reference set arithmetic;
    // estimate stays a valid k-sample fraction
    rows.foreach { case ((a, b), r) =>
      val (sa, sb) = (shingleSet(texts(a)), shingleSet(texts(b)))
      val expected = (sa & sb).size.toDouble / (sa | sb).size.toDouble
      assert(r.getAs[Long]("n_a") === sa.size.toLong)
      assert(r.getAs[Long]("inter_n") === (sa & sb).size.toLong)
      assert(r.getAs[Double]("exact_jaccard") === expected, s"pair ($a,$b)")
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.0 && est <= 1.0)
      assert(r.getAs[Double]("abs_err") === math.abs(est - expected))
    }
  }

  test("identical docs have identical SimHash and hamming-0 pair") {
    val sigs = Dedup.simhashSignatures(corpus)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L).length === Dedup.SimHashBits)
    assert(sigs(0L).forall(c => c == '0' || c == '1'))
    val pairs = Dedup.simhashPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) === 0L)
  }

  test("simhash kernel equals the explode+aggregate chain in both hash modes") {
    import org.apache.spark.sql.functions.{col, size}
    val toks = Dedup.toksOf(corpus)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(rows(Dedup.simhashChunksFromToks(toks)) ===
      rows(Dedup.simhashChunksHof(toks)), "oracle-mode kernel diverged")
    spark.conf.set(graft.functions.PortableHash.ConfKey, "true")
    try assert(rows(Dedup.simhashChunksFromToks(toks)) ===
      rows(Dedup.simhashChunksHof(toks)), "production-mode kernel diverged")
    finally spark.conf.set(graft.functions.PortableHash.ConfKey, "false")
    // fixture-wide oracle-mode equality, incl. the empty-toks drop rule
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull &&
        org.apache.spark.sql.functions.length(col("text")) > 0)
    val ft = Dedup.toksOf(d)
    assert(rows(Dedup.simhashChunksFromToks(ft)) ===
      rows(Dedup.simhashChunksHof(ft)), "fixture kernel/chain divergence")
    assert(Dedup.simhashChunksFromToks(ft).count() ===
      ft.filter(size(col("toks")) > 0).count(),
      "kernel path must drop zero-token docs exactly like the explode")
  }

  test("minhash kernel equals the explode+aggregate chain in both hash modes") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    def chain(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(Dedup.shingles(d))
    val toks = Dedup.toksOf(corpus)
    assert(rows(Dedup.minhashSignaturesKernel(toks)) === rows(chain(corpus)),
      "oracle-mode kernel diverged")
    spark.conf.set(graft.functions.PortableHash.ConfKey, "true")
    try assert(rows(Dedup.minhashSignaturesKernel(toks)) === rows(chain(corpus)),
      "production-mode kernel diverged")
    finally spark.conf.set(graft.functions.PortableHash.ConfKey, "false")
    // fixture-wide, incl. the too-short-to-shingle drop rule
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull &&
        org.apache.spark.sql.functions.length(col("text")) > 0)
    assert(rows(Dedup.minhashSignaturesKernel(Dedup.toksOf(d))) ===
      rows(chain(d)), "fixture kernel/chain divergence")
  }

  test("ngram jaccard: identical docs score 1.0; near-dup scores |∩|/|∪|") {
    val jac = Dedup.ngramJaccard(corpus, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((0L, 1L)) === 1.0)
    // 12 tokens → 10 trigrams; only the i=10 trigram contains the changed
    // last word: |∩| = 9, |∪| = 11.
    assert(jac((0L, 2L)) === 9.0 / 11.0)
    // doc 3 shares no shingle with the rest → no pair at any threshold
    assert(!jac.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // the default 0.8 threshold keeps the dup trio (9/11 > 0.8), doc 3 out
    val filtered = Dedup.ngramJaccard(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered === Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("containment flags a doc embedded in a 10x larger one that Jaccard misses") {
    val s = spark; import s.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val filler = (1 to 100).map(i => s"w$i").mkString(" ")
    val corpus2 = Seq(
      (1L, small),                  // 12 tokens, 10 trigrams
      (2L, s"$small $filler"),      // contains doc 1 verbatim + 100 tokens
      (3L, "nothing shared here at all with anyone else ever truly")
    ).toDF("doc_id", "text")
    val got = Dedup.containment(corpus2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(x => (x._1, x._2)).toSeq === Seq((1L, 2L)))
    val (_, _, cont, jac) = got.head
    assert(cont === 1.0, s"containment $cont")   // every doc-1 trigram is in doc 2
    assert(jac < 0.5, s"jaccard $jac")           // far under any dedup bar
    // and the symmetric Jaccard query is indeed blind to this pair
    assert(Dedup.ngramJaccard(corpus2).collect().isEmpty)
  }

  test("incremental dedup routes each delta doc; delta-delta pairs never count") {
    val s = spark; import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // delta = doc_id % DeltaMod == DeltaMod-1 (4, 9, 14, 19); rest corpus
    val d = Seq(
      (0L, base),                                  // corpus original
      (1L, "totally unrelated corpus content words here and there today"),
      (4L, base),                                  // delta: exact dup of 0
      (9L, base.replace(" mu", " nu")),            // delta: near-dup of 0
      (14L, "fresh never seen before material with no overlap at all"),
      (19L, "hi")                                  // delta: too short to shingle
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet === Set(4L, 9L, 14L, 19L), "one row per delta doc")
    // doc 4: identical text → exact verdict wins over its near hits
    assert(got(4L)._1 && got(4L)._3 == "exact_dup")
    // doc 9: one word changed → LSH near hit on corpus doc 0 ONLY —
    // delta sibling 4 shares its buckets but must not be counted
    assert(got(9L) === ((false, 1L, "near_candidate")))
    assert(got(14L) === ((false, 0L, "new")))
    // 1 token < shingle size: no signature, exact arm still admits it
    assert(got(19L) === ((false, 0L, "new")))
    // the standing-index path (corpus signatures precomputed, delta
    // joins against them) must reproduce the single-shot verdicts
    // row-for-row — the repeated-day contract
    val viaIndex = Dedup.incrementalDedupAgainst(
        d.filter(Dedup.isDelta(org.apache.spark.sql.functions.col("doc_id"))),
        Dedup.corpusIndex(
          d.filter(!Dedup.isDelta(org.apache.spark.sql.functions.col("doc_id")))))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getString(3)))).toMap
    assert(viaIndex === got, "precomputed-index path diverged from single-shot")
  }

  test("no pair generator ever plans a cartesian product or NL join") {
    for (df <- Seq(Dedup.minhashCandidates(corpus),
                   Dedup.simhashPairs(corpus),
                   Dedup.ngramJaccard(corpus),
                   Dedup.containment(corpus),
                   Dedup.incrementalDedup(corpus))) {
      val plan = physicalPlan(df)
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    }
  }

  test("decontamination drops exactly the docs with 5-gram eval overlap") {
    val s = spark; import s.implicits._
    val docs = Seq(
      // eval doc (the pseudo-benchmark)
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "en", "src0"),
      // leaked: embeds a verbatim 5-gram of the eval doc → dropped
      (1L, "prefix words alpha beta gamma delta epsilon more trailing text", "en", "srcA"),
      // shares only a 4-gram run (delta..theta broken by 'x') → kept
      (2L, "beta gamma delta epsilon x zeta eta theta iota", "en", "srcA"),
      // unrelated → kept
      (3L, "completely different vocabulary with no overlap whatsoever", "en", "srcB")
    ).toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars")
    import org.apache.spark.sql.functions.col
    val kept = Dedup.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
    // the audit twin names the dropped doc and counts its evidence:
    // doc 1 embeds exactly one eval 5-gram
    val report = Dedup.decontaminationReport(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(report === Map(1L -> 1L))
  }

  test("bloom-prefiltered decontamination is row-identical to the exact chain") {
    // The sketch only pre-filters (no false negatives); the exact
    // semi-join removes bloom false positives, so the results must
    // match doc-for-doc — the property the shared oracle SQL relies on.
    val dir = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("dedup_decontaminate")(spark, dir)
      .collect().map(_.toSeq).toSet
    val bloom = graft.SparkEntry.queries("dedup_decontaminate_bloom")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(bloom === exact)
    assert(exact.nonEmpty)
  }

  test("MinHash signs each document once: one graft_minhash in the executed plans") {
    // A null test on the signature must not be pushed below the
    // projection that computes it (that planned the kernel twice). The
    // executed plans include the minhash_est feature checkpoint's.
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("dedup_minhash_candidates", "dedup_minhash_est")) {
      val plans = executedPlans(graft.SparkEntry.queries(name)(spark, dir).collect())
      val signs = plans.map("graft_minhash\\(".r.findAllIn(_).size).sum
      assert(signs === 1, s"$name:\n${plans.mkString("\n---\n").take(6000)}")
    }
  }

  /** The AQE final plans of every query execution `body` runs, the
    * lazy checkpoints its build planned included.
    */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = "graft_plans_sentinel"
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        plans.add(qe.executedPlan.toString.split("== Initial Plan ==")(0))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is async but FIFO: once the sentinel's plan is
      // in, every earlier execution's is too
      spark.range(1).toDF(sentinel).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_.contains(sentinel)) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val got = plans.asScala.toSeq
    assert(got.exists(_.contains(sentinel)), "listener never observed the sentinel")
    got.filterNot(_.contains(sentinel))
  }

  test("decontamination plans broadcast joins only — the corpus never shuffles to be tested") {
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("dedup_decontaminate", "dedup_decontaminate_report")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val full = df.queryExecution.executedPlan.toString
      val fin = full.split("== Initial Plan ==")(0)
      assert("BroadcastHashJoin".r.findAllIn(fin).nonEmpty, s"$name:\n${fin.take(2000)}")
      assert(!fin.contains("SortMergeJoin"),
        s"$name: membership tests must broadcast, not sort-merge:\n${fin.take(2000)}")
      assert(!fin.contains("CartesianProduct"), fin.take(2000))
    }
  }

  test("oversized LSH buckets are dropped before pair expansion") {
    // 300 identical docs → every bucket has 300 > MaxBucketSize members;
    // without the cap this would expand to ~45k pairs per band.
    val many = spark.range(300)
      .selectExpr("id AS doc_id", "'same text for every single doc here' AS text")
    assert(Dedup.minhashCandidates(many).count() === 0L)
  }

  test("sourceOverlap: shared-key counts and jaccard on a hand corpus") {
    val s = spark; import s.implicits._
    // doc 1 (s1) and doc 2 (s2) share identical text → identical 5-gram
    // sets (7 tokens → 3 shingles); doc 3 (s2) is disjoint vocabulary
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val other = "one two three four five six seven"
    val d = Seq(
      (1L, shared, "s1"), (2L, shared, "s2"), (3L, other, "s2")
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.sourceOverlap(d).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1)) === (("s1", "s2")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((3L, 6L, 3L)))
    assert(r.getDouble(5) === 3.0 / 6.0) // |∩| / (3 + 6 − 3)
  }

  test("sourceOverlap: zero-overlap pairs are explicit rows, not absences") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta", "s1"),
      (2L, "one two three four five six seven", "s2")
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.sourceOverlap(d).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(4) === 0L)
    assert(rows.head.getDouble(5) === 0.0)
  }
}
