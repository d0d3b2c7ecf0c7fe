package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** Whole-registry integrity net: every `SparkEntry.queries` entry must
  * execute at sf0.001, return rows, have an oracle twin, and never plan
  * an unbounded cartesian product. Catches a broken registration or a
  * plan regression in ANY query before the driver does.
  */
class RegistrySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The declared eager-at-build entries (`QuerySpec.Eager`, listed in
    * docs/PLANS.md): each runs a BOUNDED job while the DataFrame is
    * being constructed, so even a bare `explain` schedules jobs. Every
    * other entry must stay lazy at build.
    */
  private val eagerAtBuild = SparkEntry.specs.collect {
    case (n, QuerySpec(_, _: QuerySpec.Eager)) => n
  }.toSet

  /** Entries whose build-time work is MEMOIZED per fixture dir
    * (`QuerySpec.Memoized`): eager on the first build, zero jobs on
    * every later build. The executes-everything test above builds each
    * query once, so by the time the laziness test runs these must hit
    * their caches and schedule NOTHING — appearing in ranAtBuild means
    * the memoization broke.
    */
  private val memoizedEager = SparkEntry.memoizedBuildQueries

  /** Entries with DELIBERATELY no oracle SQL (docs/PLANS.md §"Rows-only
    * registry entries"): results an independent engine cannot
    * reproduce bit-for-bit. Each must carry its own in-query
    * cross-check instead.
    */
  private val rowsOnly = Set.empty[String]
  // (Through r9 `text_vocab_sketch` lived here; its registered
  // projection now folds the HLL estimate into a DuckDB-predictable
  // `approx_ok` verdict, so every registered query is oracle-hashed.)

  test("every registered query has an oracle twin (column-named match)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle without query: ${o -- q}")
    assert(rowsOnly.subsetOf(q), s"rows-only allowlist names unknown query: ${rowsOnly -- q}")
    assert(q -- o === rowsOnly,
      s"queries without oracle (must be in the rows-only allowlist): ${q -- o -- rowsOnly}; " +
        s"allowlisted but now oracle-backed (remove from allowlist): ${rowsOnly & o}")
  }

  test("every registered query executes at sf0.001 with rows and sane plans") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, dir)
          val plan = df.queryExecution.executedPlan.toString
          val n = df.count()
          // No registered query may leave persisted state behind after
          // its action: internally-persisted frames must be unpersisted
          // (or never persisted — collect + re-enter) before returning.
          // An audit/recall query that leaks a corpus-sized cache into a
          // user session is a defect even when its RESULT is correct.
          val cacheEmpty = spark.sharedState.cacheManager.isEmpty
          if (!cacheEmpty) spark.catalog.clearCache() // isolate later queries
          val problems = Seq(
            if (n == 0) Some(s"$name: 0 rows") else None,
            if (!cacheEmpty)
              Some(s"$name: left cached state behind after its action") else None,
            // broadcast NL joins are fine (bounded build side: the N
            // cross-join, query batches, centroids); an unbounded
            // CartesianProduct never is
            if (plan.contains("CartesianProduct"))
              Some(s"$name: CartesianProduct in plan") else None
          ).flatten
          problems
        } catch {
          case e: Throwable => Seq(s"$name: ${String.valueOf(e.getMessage).take(200)}")
        }
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
      assert(memoizedEager.subsetOf(SparkEntry.queries.keySet),
        s"memoizedEager names unknown queries: ${memoizedEager -- SparkEntry.queries.keySet}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("query specs pin the eager, memoized and scoped-conf sets") {
    assert(SparkEntry.specs.keySet.subsetOf(SparkEntry.queries.keySet),
      s"specs for unknown queries: ${SparkEntry.specs.keySet -- SparkEntry.queries.keySet}")
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
    val big = java.nio.file.Files.createTempDirectory("graft-bigfixture")
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
