package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.ChiSquarePipeline
import graft.stats.Contingency
import graft.text.Tokenize

/** Streaming χ² (SURVEY §7.4's deferred design, made concrete).
  *
  * The χ² DAG chains aggregations (term-cat counts → term totals →
  * joins → window top-k), and Structured Streaming forbids chained
  * streaming aggregates — so the streaming form is INCREMENTAL VIEW
  * MAINTENANCE via `foreachBatch`: each micro-batch tokenizes only its
  * new documents, aggregates delta counts (the sufficient statistic —
  * per-(term, category) doc frequencies plus per-category doc counts),
  * and merges them into a versioned parquet count store. χ²/top-k are
  * then a cheap BATCH query over the merged counts, through the same
  * contingency and ranking steps as [[ChiSquarePipeline]].
  *
  * Scale notes: per batch, work is O(new docs) tokenize + a
  * vocabulary-sized merge — the raw corpus is never reprocessed. The
  * store is versioned (`v<batchId>` directories, latest wins) so a
  * merge is never an in-place overwrite of data being read; versioning
  * also gives exactly-once semantics under foreachBatch's at-least-once
  * replays (re-running batch N just rewrites v<N> deterministically
  * from v<N-1> + the replayed batch).
  *
  * The store is BOUNDED: after a successful v<N> write, versions older
  * than v<N-1> are pruned (one predecessor is kept so an in-flight
  * replay of batch N can still merge from v<N-1>), so steady-state
  * footprint is ≤ 2 vocabulary-sized snapshots — not O(batches).
  * Empty micro-batches (no admitted documents) skip the merge+write
  * entirely instead of rewriting the full count table for a zero delta.
  */
object StreamingChiSquare {

  /** Versions retained besides the newest (replay safety margin). */
  val RetainPredecessors = 1

  private def versionDirs(storeDir: String): Seq[(Long, String)] = {
    val p = Paths.get(storeDir)
    if (!Files.exists(p)) Seq.empty
    else {
      val it = Files.list(p).iterator()
      var out = Vector.empty[(Long, String)]
      while (it.hasNext) {
        val d = it.next()
        val name = d.getFileName.toString
        if (name.startsWith("v"))
          out :+= (name.drop(1).toLong, d.toString)
      }
      out.sortBy(_._1)
    }
  }

  /** Latest merged counts, or None before the first batch. Layout:
    * `<dir>/v<id>/term_cat` (term, category, a) and `<dir>/v<id>/cat_docs`
    * (category, c_total). `below` restricts to versions with id < below —
    * a REPLAYED batch must merge from its predecessor, never from its
    * own (possibly partial) previous write.
    */
  def latestCounts(spark: SparkSession, storeDir: String,
      below: Long = Long.MaxValue): Option[(DataFrame, DataFrame)] =
    versionDirs(storeDir).filter(_._1 < below).lastOption.map { case (_, dir) =>
      (spark.read.parquet(s"$dir/term_cat"),
        spark.read.parquet(s"$dir/cat_docs"))
    }

  /** Drop versions older than the newest `RetainPredecessors + 1`. */
  private def pruneVersions(storeDir: String): Unit =
    versionDirs(storeDir).dropRight(RetainPredecessors + 1)
      .foreach { case (_, dir) => graft.Memo.deleteRecursively(Paths.get(dir)) }

  /** Merge one micro-batch of raw documents into the count store. */
  def mergeBatch(batch: DataFrame, batchId: Long, storeDir: String,
      textCol: String, categoryCol: String,
      stopwords: Seq[String] = Tokenize.DefaultStopwords): Unit = {
    val spark = batch.sparkSession
    val (docs, toks) = ChiSquarePipeline.tokens(batch, textCol, categoryCol, stopwords)
    // Zero-delta batch: the merged table would be byte-identical to the
    // predecessor — skip the vocabulary-sized rewrite. latestCounts
    // tolerates the version-number gap (it takes the newest id < below).
    if (docs.isEmpty) return
    val deltaTermCat = toks.groupBy("term", "category").agg(count(lit(1)).as("a"))
    val deltaCatDocs = docs.groupBy("category").agg(count(lit(1)).as("c_total"))

    val (mergedTc, mergedCd) = latestCounts(spark, storeDir, below = batchId) match {
      case None => (deltaTermCat, deltaCatDocs)
      case Some((tc, cd)) =>
        (tc.unionByName(deltaTermCat)
          .groupBy("term", "category").agg(sum(col("a")).as("a")),
          cd.unionByName(deltaCatDocs)
            .groupBy("category").agg(sum(col("c_total")).as("c_total")))
    }
    val out = s"$storeDir/v$batchId"
    mergedTc.write.mode(SaveMode.Overwrite).parquet(s"$out/term_cat")
    mergedCd.write.mode(SaveMode.Overwrite).parquet(s"$out/cat_docs")
    // Only after the new version is fully written: bound the store.
    pruneVersions(storeDir)
  }

  /** χ² + top-k over the CURRENT store contents — the batch pipeline's
    * contingency and ranking steps, fed from maintained counts.
    */
  def topTermsFromStore(spark: SparkSession, storeDir: String,
      k: Int = ChiSquarePipeline.DefaultK): DataFrame = {
    val (termCat, catDocs) = latestCounts(spark, storeDir)
      .getOrElse(sys.error(s"empty chi-square store: $storeDir"))
    ChiSquarePipeline.ranked(ChiSquarePipeline.withChi2(Contingency.fromCounts(
      termCat, catDocs, catDocs.agg(sum(col("c_total")).as("n")))), k)
  }

  /** Micro-batch count for [[replayTopTerms]]' deterministic replay. */
  val NumReplayBatches = 3

  /** Batch REPLAY of the maintainer, for the driver's oracle gate: the
    * fixture is split into [[NumReplayBatches]] deterministic
    * micro-batches (doc_id mod N — the arrival-order stand-in), each
    * merged through [[mergeBatch]] exactly as `foreachBatch` would
    * deliver it, and the answer comes from the maintained store via
    * [[topTermsFromStore]]. By the view-maintenance invariant the
    * result must equal the one-shot batch pipeline bit-for-bit (counts
    * are exact integers; the χ² arithmetic is the same expression), so
    * the registered query shares `chi2_top_terms`' DuckDB oracle —
    * through r9 the maintainer was spec-covered only, with no driver
    * correctness row.
    *
    * The store is a pure function of the (immutable) sfDir fixture —
    * batch split is doc_id mod N, merges are deterministic — so it is
    * built ONCE per (app, dir) by [[graft.Memo.store]] and reused within
    * the app. Through r10 every invocation (explain, PlanDump, bench,
    * oracle run) created a FRESH temp dir, re-ran the NumReplayBatches
    * merge jobs, and leaked the directory on disk. Since r17 the store
    * is keyed by applicationId, so a warm /tmp from an EARLIER JVM can
    * never serve this run's replay — every fresh run pays the merge
    * jobs by construction.
    */
  def replayTopTerms(s: SparkSession, dir: String): DataFrame = {
    val store = graft.Memo.store(s, dir, "replay_store") { out =>
      val d = graft.sources.Tables.parquet(s, dir, "documents")
      for (b <- 0 until NumReplayBatches)
        mergeBatch(d.filter(pmod(col("doc_id"), lit(NumReplayBatches)) === b),
          b.toLong, out.toString, "text", "lang")
    }
    topTermsFromStore(s, store.toString)
  }

  val specs: Map[String, graft.QuerySpec] = Map(
    "chi2_streaming_replay" -> graft.QuerySpec(StreamingDedup.replayConf,
      graft.QuerySpec.Memoized(
        "nothing collected: the maintainer replay (NumReplayBatches mergeBatch rounds) WRITES the versioned count store ONCE per (app, dir) behind a completion marker; later builds read the existing store",
        "≤ 2 vocabulary-sized snapshots")))

  /** Driver-contract registry surface for the maintainer. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "chi2_streaming_replay" -> ((s, dir) => replayTopTerms(s, dir)))

  /** The replay must reproduce the one-shot pipeline exactly, so it
    * shares its oracle.
    */
  def oracleSql: Map[String, String] = Map(
    "chi2_streaming_replay" ->
      graft.pipeline.ChiSquareQueries.oracleSql("chi2_top_terms"))

  /** Attach the maintainer to a streaming document source. The
    * checkpoint lives beside the store, so a restarted maintainer
    * resumes from the next unprocessed batch instead of replaying the
    * whole source.
    */
  def attach(stream: DataFrame, storeDir: String,
      textCol: String, categoryCol: String,
      stopwords: Seq[String] = Tokenize.DefaultStopwords): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$storeDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, storeDir, textCol, categoryCol, stopwords)
      }
      .start()
}
