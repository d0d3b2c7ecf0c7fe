package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** Whole-registry integrity net: every `SparkEntry.queries` entry must
  * execute at sf0.001, return rows, keep the plan shape its row in the
  * docs/PLANS.md ledger records, and never plan an unbounded cartesian
  * product (its oracle twin is a mandatory `QuerySpec` field). Catches
  * a broken registration or a plan regression in ANY query before the
  * driver does.
  */
class RegistrySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The declared eager-at-build entries (`QuerySpec.Eager`, listed in
    * docs/PLANS.md): each runs a BOUNDED job while the DataFrame is
    * being constructed, so even a bare `explain` schedules jobs. Every
    * other entry must stay lazy at build.
    */
  private val eagerAtBuild = SparkEntry.specs.collect {
    case (n, q) if q.build.isInstanceOf[QuerySpec.Eager] => n
  }.toSet

  /** Entries whose build-time work is MEMOIZED per fixture dir
    * (`QuerySpec.Memoized`): eager on the first build, zero jobs on
    * every later build. The executes-everything test above builds each
    * query once, so by the time the laziness test runs these must hit
    * their caches and schedule NOTHING — appearing in ranAtBuild means
    * the memoization broke.
    */
  private val memoizedEager = SparkEntry.memoizedBuildQueries

  test("the registry rejects a query name declared in two families") {
    val spec = QuerySpec((s, _) => s.range(1).toDF(), "SELECT 1")
    val err = intercept[IllegalArgumentException](SparkEntry.registry(
      Map("a" -> spec, "dup_q" -> spec), Map("b" -> spec), Map("dup_q" -> spec)))
    assert(err.getMessage.endsWith(": dup_q"))
    assert(SparkEntry.registry(Map("a" -> spec), Map("b" -> spec)).keySet === Set("a", "b"))
  }

  test("every registered query executes at sf0.001 with rows and sane plans") {
    // the per-query run Verify uses: each query under its scoped conf,
    // at the slot count PlanDump builds the ledger on
    val runner = new Runner("registry", spark, Session.PinnedCpus)
    val ledger = PlanDump.ledger(Files.readString(Paths.get(PlanDump.Path)))
    val regenerate = s"""run sbt "runMain graft.PlanDump" to regenerate ${PlanDump.Path}"""
    val stale = (ledger.keySet -- SparkEntry.queries.keySet).toSeq.sorted
      .map(n => s"$n: ledger row for an unregistered query; $regenerate")
    val failures = stale ++ Runner.select(None).sorted.flatMap { name =>
      runner.run(name, dir) { build =>
        val df = build()
        val plan = df.queryExecution.executedPlan.toString
        val shape = Runner.shape(df)
        val n = df.count()
        // No registered query may leave persisted state behind after
        // its action: internally-persisted frames must be unpersisted
        // (or never persisted — collect + re-enter) before returning.
        // An audit/recall query that leaks a corpus-sized cache into a
        // user session is a defect even when its RESULT is correct.
        val cacheEmpty = spark.sharedState.cacheManager.isEmpty
        if (!cacheEmpty) spark.catalog.clearCache() // isolate later queries
        Seq(
          if (n == 0) Some(s"$name: 0 rows") else None,
          if (!cacheEmpty)
            Some(s"$name: left cached state behind after its action") else None,
          // broadcast NL joins are fine (bounded build side: query
          // batches, centroids); an unbounded CartesianProduct never is
          if (plan.contains("CartesianProduct"))
            Some(s"$name: CartesianProduct in plan") else None,
          ledger.get(name) match {
            case Some(`shape`) => None
            case row => Some(s"$name: plan has $shape, ledger " +
              row.fold("has no row")(r => s"has $r") + s"; $regenerate")
          }
        ).flatten
      }.fold(msg => Seq(s"$name: ${msg.take(200)}"), identity)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("flagship entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("building a query schedules no job, except the documented eager entries") {
    // The registry contract is lazy-at-build: constructing the DataFrame
    // (what `explain` does) must schedule zero Spark jobs. Only the
    // entries in eagerAtBuild above are documented exceptions — each runs
    // a bounded collect at build time by design. This pins BOTH sides:
    // a lazy query growing a hidden build-time job fails, and an eager
    // entry silently losing its (intentional) collect fails too.
    //
    // One job class is exempt: every `spark.read.parquet` runs a tiny
    // footer-read job for schema inference (its stages are named
    // "parquet at …") — that is the reader's contract, not a laziness
    // defect, and it reads metadata only. Everything else
    // (collect/count/…) counts.
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val schemaOnly = js.stageInfos.nonEmpty &&
          js.stageInfos.forall(_.name.startsWith("parquet at"))
        if (!schemaOnly)
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .foreach(groups.add)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        spark.sparkContext.setJobGroup(s"build-$name", s"build $name")
        try fn(spark, dir)
        finally spark.sparkContext.clearJobGroup()
      }
      // The listener bus is async but FIFO: once the sentinel job's
      // event is visible, every earlier build-time event is too.
      spark.sparkContext.setJobGroup("build-sentinel", "sentinel")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("build-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("build-sentinel"),
        "listener never observed the sentinel job")
      val ranAtBuild = SparkEntry.queries.keySet
        .filter(n => groups.contains(s"build-$n"))
      val offenders = ranAtBuild -- eagerAtBuild
      assert(offenders.isEmpty,
        s"queries ran Spark jobs at DataFrame-BUILD time but are not " +
          s"documented as eager (memoized-eager entries appearing here " +
          s"mean their cache broke): $offenders")
      assert(ranAtBuild == eagerAtBuild,
        s"declared-eager entries no longer run a job at build " +
          s"(update their QuerySpec): ${eagerAtBuild -- ranAtBuild}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("query specs pin the eager, memoized and scoped-conf sets") {
    assert(eagerAtBuild === Set("dedup_bucket_stats", "dedup_source_overlap",
      "dedup_decontaminate_bloom", "dedup_substring", "sim_ann_recall",
      "sim_cosine_ann_ivf", "sim_cosine_ann_pq", "sim_semdedup",
      "sim_bucket_stats", "rel_salted_join"))
    assert(memoizedEager === Set("dedup_near_apply", "dedup_cluster_sizes",
      "chi2_streaming_replay", "dedup_ngram_jaccard", "dedup_containment",
      "dedup_streaming_replay", "chi2_top_terms_jsonl", "chi2_top_terms_csv"))
    val replay = Set("chi2_streaming_replay", "dedup_streaming_replay")
    val covered = replay ++ Set(
      "rel_dominant_supplier", "rel_sole_late_supplier", "rel_supplier_parts",
      "dedup_ngram_jaccard", "dedup_containment", "dedup_cluster_sizes",
      "dedup_near_apply", "text_unigram_logprob", "text_ppl_buckets")
    def confed(sfDir: String) =
      SparkEntry.queries.keySet.filter(SparkEntry.queryConfs(_, sfDir, 4).nonEmpty)
    // every data-sized conf is a no-op at the gate fixture (the cpus
    // floor binds); only the replay partition count always applies
    assert(confed(dir) === replay)
    // sparse tables large enough to clear the floor: every covered
    // query gets its conf, and no other query does
    val big = TempDir("graft-bigfixture")
    val tables = Seq("lineitem" -> (256L << 20), "documents" -> (64L << 20))
      .map { case (t, bytes) => big.resolve(s"$t.parquet") -> bytes }
    try {
      for ((p, bytes) <- tables) {
        val f = new java.io.RandomAccessFile(p.toFile, "rw")
        try f.setLength(bytes) finally f.close()
      }
      assert(confed(big.toString) === covered)
    } finally {
      tables.foreach(t => java.nio.file.Files.deleteIfExists(t._1))
      java.nio.file.Files.delete(big)
    }
  }

  test("data-sized shuffle confs leave every covered query's result unchanged") {
    // The confs are empty at every committed fixture (the cpus floor
    // binds), so this is the one run of these queries with the keys
    // dataSizedShuffle emits above the floor. The docsets and labels
    // are memoized per (app, dir): the conf'd pass reads a copy of the
    // fixture, so its memo builds run under the conf too.
    val sized = SparkEntry.specs.collect {
      case (n, q) if (q.conf eq dedup.Dedup.pairShuffleConf) || (q.conf eq rel.Relational.wideAggConf) => n
    }.toSeq.sorted
    assert(sized === Seq("dedup_cluster_sizes", "dedup_containment", "dedup_near_apply",
      "dedup_ngram_jaccard", "rel_dominant_supplier", "rel_sole_late_supplier",
      "rel_supplier_parts", "text_ppl_buckets", "text_unigram_logprob"))
    val (src, copy) = (Paths.get(dir), TempDir("graft-sized-fixture"))
    Files.walk(src).skip(1).forEach(p => Files.copy(p, copy.resolve(src.relativize(p))))
    val conf = QuerySpec.dataSizedShuffle("documents",
      QuerySpec.dataTasks(dir, "documents", 1L) / 9)(copy.toString, 4)
    assert(conf.keySet === Set("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled"))
    assert(conf("spark.sql.shuffle.partitions").toInt > 4)
    def rows(q: String, d: String) =
      SparkEntry.queries(q)(spark, d).collect().map(_.toString).sorted.toSeq
    for (q <- sized) {
      val atDefault = rows(q, dir)
      assert(Session.withScopedConf(spark, conf)(rows(q, copy.toString)) === atDefault, q)
    }
  }

  test("chi2_top_terms_jsonl ignores a complete-looking mirror left by an earlier JVM") {
    // Through r17 the mirror lived at tmpdir/graft_jsonl/<sanitized dir>
    // and any directory there holding _SUCCESS and malformed.json was
    // read as this run's mirror.
    val leftover = Paths.get(sys.props("java.io.tmpdir"), "graft_jsonl",
      dir.replaceAll("[^A-Za-z0-9.]", "_"))
    // remove afterwards exactly what the seeding created
    val created = Iterator.iterate(leftover)(_.getParent).takeWhile(!Files.exists(_)).toList
    Files.createDirectories(leftover)
    val seeded = Seq(
      leftover.resolve("_SUCCESS") -> "",
      leftover.resolve("malformed.json") -> "this is not json\n",
      leftover.resolve("part-00000-leftover.json") ->
        "{\"reviewText\":\"leftover bogus review\",\"category\":\"en\"}\n")
    seeded.foreach { case (p, text) => Files.write(p, text.getBytes("UTF-8")) }
    try {
      val want = SparkEntry.queries("chi2_top_terms")(spark, dir).collect().toSeq
      val got = SparkEntry.queries("chi2_top_terms_jsonl")(spark, dir).collect().toSeq
      assert(got === want)
    } finally {
      seeded.foreach { case (p, _) => Files.deleteIfExists(p) }
      created.foreach(Files.deleteIfExists)
    }
  }
}
