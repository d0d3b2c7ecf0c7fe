package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.text.Tokenize

/** Deterministic sampling / dataset splitting for reproducible training
  * pipelines.
  *
  * `sample(seed)` is deterministic within one Spark version but opaque
  * to other engines and unstable across partitionings; hash-based
  * selection is a pure function of the ROW KEY — the same doc lands in
  * the same split on any engine, any partitioning, any day. That
  * property (stable membership under re-runs and backfills) is what a
  * training pipeline actually needs from its train/val/test split.
  *
  * The bucket is the base-hash 28-bit integer of the key mod 100 —
  * the same portable hash construction the dedup module uses
  * ([[graft.functions.PortableHash]]): md5-derived by default so the
  * DuckDB oracle reproduces membership exactly, xxhash64 under the
  * production flag (both are pure functions of the key, so the split
  * stays stable under re-runs either way — but NOT across a mode flip:
  * changing the flag reassigns membership, so pick a mode per dataset
  * lifetime).
  */
object Sampling {

  val TrainPct = 90
  val ValPct = 5 // test gets the remainder

  /** 0–99 deterministic bucket for a key column (as string). */
  def hashBucket(key: org.apache.spark.sql.Column,
      production: Boolean = false): org.apache.spark.sql.Column =
    pmod(graft.functions.PortableHash.base28(key.cast("string"), production),
      lit(100L))

  /** Columns every assignment API appends; inputs must not already
    * define them — `withColumn` would silently overwrite a caller's
    * same-named column, so clashes fail fast instead.
    */
  private val Reserved = Seq("bucket", "rate", "kept", "split", "hkey", "rank", "fold")

  private def requireFresh(d: DataFrame, used: Seq[String]): Unit = {
    val clash = d.columns.toSeq.intersect(used)
    require(clash.isEmpty,
      s"input already defines reserved output column(s) ${clash.mkString(", ")} " +
        s"(reserved: ${Reserved.mkString(", ")}); rename them before assignment")
  }

  /** (input row) + `bucket`, `split` — reserved output columns. */
  def split(d: DataFrame, keyCol: String): DataFrame = {
    requireFresh(d, Seq("bucket", "split"))
    val bucket = hashBucket(col(keyCol), graft.functions.PortableHash.enabled(d))
    d.select(col("*"), bucket.as("bucket"),
      when(bucket < TrainPct, "train")
        .when(bucket < TrainPct + ValPct, "val")
        .otherwise("test").as("split"))
  }

  /** Data-mixing rates: per-language keep percentage for the
    * deterministic downsampling pass a pipeline uses to reweight an
    * over-represented language/source before training. Languages not
    * listed keep everything. Same hash-threshold mechanism as the
    * train/val/test split — equally stable under re-runs, backfills,
    * and repartitioning — but over a SALTED key ("mix|" + id): reusing
    * the split bucket would make the mix-kept set a strict subset of
    * `train` (bucket < rate ⊆ bucket < 90) and empty out val/test for
    * every downsampled language. The salt makes a doc's mix fate
    * independent of its split fate, so mixing removes (statistically)
    * proportionally from every split.
    */
  val MixPct: Seq[(String, Int)] = Seq("en" -> 40, "es" -> 80)
  val DefaultMixPct = 100
  val MixSalt = "mix|"

  private def mixRate: org.apache.spark.sql.Column =
    MixPct.foldRight(lit(DefaultMixPct): org.apache.spark.sql.Column) {
      case ((l, p), els) => when(col("lang") === lit(l), lit(p)).otherwise(els)
    }

  /** (input row) + `bucket`, `rate`, `kept` (reserved output columns) —
    * the mixing decision per doc.
    */
  def mixAssign(d: DataFrame, keyCol: String): DataFrame = {
    requireFresh(d, Seq("bucket", "rate", "kept"))
    val bucket = hashBucket(concat(lit(MixSalt), col(keyCol).cast("string")),
      graft.functions.PortableHash.enabled(d))
    val rate = mixRate.cast("long")
    d.select(col("*"), bucket.as("bucket"), rate.as("rate"),
      (bucket < rate).as("kept"))
  }

  /** Deterministic stratified sample: exactly [[StratifiedK]] rows per
    * stratum, chosen by ranking a SALTED portable hash of the key — a
    * pure function of (salt, key), so membership is stable under
    * re-runs, backfills, and repartitioning, and any engine reproduces
    * it (vs `sample(seed)`, which is partitioning-dependent). This is
    * the eval-set carve a pipeline performs ("k docs per language for
    * human review") — and because the rank hash is salted, a row's
    * carve fate is independent of its split/mix fate, same reasoning
    * as [[MixSalt]]. The (hkey, key) order is a total order, so the
    * sample is unique even across hash ties.
    *
    * Scale notes: the per-stratum rank is a row_number window bounded
    * by Spark's WindowGroupLimit rewrite — each map task keeps only
    * ~k rows per stratum before the stratum exchange, so the shuffle
    * carries O(strata · k) rows, not the corpus.
    */
  val StratifiedK = 20
  val StratifiedSalt = "strat|"

  def stratified(d: DataFrame, keyCol: String, strataCol: String,
      k: Int = StratifiedK): DataFrame = {
    requireFresh(d, Seq("hkey", "rank"))
    val h = graft.functions.PortableHash.key64(
      concat(lit(StratifiedSalt), col(keyCol).cast("string")),
      graft.functions.PortableHash.enabled(d))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("hkey").asc, col(keyCol).asc)
    d.select(col("*"), h.as("hkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic k-fold assignment for cross-validation: fold =
    * salted portable hash mod [[KFolds]]. The salt ("fold|") makes a
    * row's fold independent of its split/mix/carve fate (the [[MixSalt]]
    * argument); hash-mod membership is stable under re-runs, backfills,
    * and repartitioning, and any engine reproduces it.
    */
  val KFolds = 5
  val FoldSalt = "fold|"

  def kfold(d: DataFrame, keyCol: String): DataFrame = {
    requireFresh(d, Seq("fold"))
    val h = graft.functions.PortableHash.base28(
      concat(lit(FoldSalt), col(keyCol).cast("string")),
      graft.functions.PortableHash.enabled(d))
    d.select(col("*"), pmod(h, lit(KFolds.toLong)).as("fold"))
  }

  /** Sequence packing (concatenate-and-chunk): assign every document a
    * deterministic position in a fixed-token-budget training-sequence
    * stream — the packing step an LLM pre-training pipeline runs
    * between sampling and batch assembly. Documents are concatenated
    * in a deterministic order and the stream is cut every
    * [[PackBudget]] tokens; a doc belongs to the pack where it STARTS
    * (`pack_id`), `pack_offset` is its start position inside that
    * pack, `n_spans` how many budget windows it crosses (a doc longer
    * than the budget straddles; the count lets the batch assembler
    * split it without re-tokenizing).
    *
    * Packing is inherently sequential WITHIN one stream, so the corpus
    * is first sharded into [[PackShards]] independent streams by
    * salted portable hash ([[PackSalt]] — a doc's packing fate is
    * independent of its split/mix/fold/temperature fates). At 100 TB
    * the shard count is the parallelism knob: each stream packs alone,
    * and inside a shard the only state is a running token total — the
    * per-shard window is an external sort, no per-group array state.
    * The window frame is explicit ROWS (doc_id is unique; RANGE would
    * tie-sum duplicates on an engine that kept them). All contract
    * arithmetic is exact longs (`div` / `pmod`) — no float anywhere,
    * so any engine reproduces assignments bit-for-bit.
    */
  val PackBudget = 2048L

  /** Stream count of the registered packing queries and their oracle.
    * The shard count is the packing stage's parallelism knob (each
    * stream's cumulative-sum window is ONE sequential sorted
    * partition), so at cluster scale it must track the cluster: pass
    * `shards` to [[packPlan]] / [[packStats]] explicitly (≈ 2–4× total
    * cores, or input-bytes / a few GB). It is an EPOCH CONSTANT, not a
    * tuning knob you can turn mid-corpus: the shard hash decides which
    * stream a doc joins, so changing it reassigns essentially every doc
    * (spec-pinned) — pick it once per packing epoch and record it with
    * the epoch's outputs.
    */
  val PackShards: Long = 64L
  val PackSalt = "pack|"

  def packPlan(d: DataFrame, shards: Long = PackShards): DataFrame = {
    val shard = pmod(graft.functions.PortableHash.base28(
      concat(lit(PackSalt), col("doc_id").cast("string")),
      graft.functions.PortableHash.enabled(d)), lit(shards))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.filter(Tokenize.hasText(col("text")))
      .select(col("doc_id"), shard.as("shard"),
        size(Tokenize.whitespaceTokens).cast("long").as("n_tokens"))
      .withColumn("cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"cum_before div $PackBudget").as("pack_id"),
        pmod(col("cum_before"), lit(PackBudget)).as("pack_offset"))
      .withColumn("n_spans",
        expr(s"(pack_offset + greatest(n_tokens, 1) - 1) div $PackBudget + 1"))
  }

  /** Per-shard packing audit: pack counts, straddler counts, and the
    * fill of the final (only non-full) pack. `n_packs` counts every
    * budget window the stream TOUCHES — `max(pack_id + n_spans)`, not
    * `max(pack_id) + 1`, because a straddling last doc spills tokens
    * into packs no doc STARTS in (and a zero-token doc landing exactly
    * on a boundary opens an empty final pack). With that count, every
    * pack except a shard's last holds exactly [[PackBudget]] tokens,
    * so `last_pack_tokens = shard_tokens − (n_packs − 1) · budget`
    * is the whole fill story and always lands in [0, budget];
    * `n_straddlers` is how many docs the batch assembler must split.
    * Runs on the [[packPlan]] output already hash-partitioned by
    * shard, so the aggregate adds NO exchange.
    */
  def packStats(d: DataFrame, shards: Long = PackShards): DataFrame =
    packPlan(d, shards).groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        max(col("pack_id") + col("n_spans")).as("n_packs"),
        sum(when(col("n_spans") > 1, 1L).otherwise(0L)).as("n_straddlers"))
      .withColumn("last_pack_tokens",
        col("shard_tokens") - (col("n_packs") - lit(1L)) * lit(PackBudget))

  /** Token-budget mixing plan: global budget = corpus tokens divided by
    * [[BudgetDen]], shared UNIFORMLY across observed languages, each
    * language capped at [[MaxEpochs]] passes over its available tokens
    * (the standard guard against memorizing a tiny language by
    * oversampling it). All plan quantities are integer arithmetic
    * (`div`, `least`, `*`) over exact long token sums — bit-identical
    * across engines — and the per-lang repeat factor is ONE double
    * division at the end. Any shortfall is an explicit `deficit_tokens`
    * column, never a silent under-delivery.
    *
    * Scale notes: one narrow corpus scan into a |langs|-row aggregate;
    * the window total runs over that |langs|-row frame, not the corpus.
    * On the fixtures languages are near-uniform so the epoch cap does
    * not bind (deficit = 0 everywhere) — SamplingSpec exercises the
    * upsample-capped branch on a skewed synthetic corpus.
    */
  val BudgetDen = 2L
  val MaxEpochs = 4L

  def budgetPlan(d: DataFrame): DataFrame = {
    val perLang = d
      .filter(Tokenize.hasText(col("text")))
      .select(col("lang"), size(Tokenize.whitespaceTokens).cast("long").as("n"))
      .groupBy("lang").agg(sum(col("n")).as("avail_tokens"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    perLang
      .withColumn("total_tokens", sum(col("avail_tokens")).over(all))
      .withColumn("n_langs", count(lit(1)).over(all))
      .withColumn("target_tokens",
        expr(s"(total_tokens div $BudgetDen) div n_langs"))
      .withColumn("planned_tokens",
        least(col("target_tokens"), col("avail_tokens") * lit(MaxEpochs)))
      .select(col("lang"), col("avail_tokens"), col("target_tokens"),
        col("planned_tokens"),
        (col("target_tokens") - col("planned_tokens")).as("deficit_tokens"),
        // a lang whose docs all tokenize empty has avail = 0: planned
        // is 0 (nothing to repeat) and 0/0 would be NaN - report 0.0
        // with the full target as the explicit deficit instead
        when(col("avail_tokens") > 0,
          col("planned_tokens").cast("double") /
            col("avail_tokens").cast("double"))
          .otherwise(lit(0.0)).as("repeat_factor"))
  }

  /** Temperature (α = 0.5) source resampling — the sqrt-flattening a
    * multilingual/multi-source training mix applies so head sources
    * stop drowning tail ones: each source's kept count targets the
    * GEOMETRIC MEAN of its size and the smallest source's size
    * (target_i = √(n_i·n_min), i.e. p ∝ n^0.5 anchored so the
    * smallest source keeps 100 %). The anchor makes the arithmetic
    * engine-exact with NO cross-row float sum: n_min is an exact
    * BIGINT min (order-independent), the target is one correctly-
    * rounded sqrt of a product of two exact counts, and the rate is
    * one double division — so DuckDB reproduces keep decisions
    * bit-for-bit, where a normalized Σ n^α denominator would be an
    * order-dependent double accumulation.
    *
    * Per-row admission uses the salted portable hash over a 1e6-bucket
    * range (fractional rates; the 100-bucket split/mix range would
    * quantize them), salt [[TempSalt]] so a doc's temperature fate is
    * independent of its split/mix/carve fates.
    *
    * Scale notes: the plan side is one tiny (source, n) aggregate + a
    * 1-row broadcast anchor; the apply side is a broadcast join of the
    * ≤|sources| rate table into one corpus scan — no wide shuffle.
    */
  val TempSalt = "temp|"

  def temperaturePlan(d: DataFrame): DataFrame = {
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val anchor = counts.agg(min(col("n_docs")).as("n_min"))
    counts.crossJoin(broadcast(anchor))
      .withColumn("target_docs",
        sqrt(col("n_docs").cast("double") * col("n_min").cast("double")))
      .withColumn("rate",
        least(lit(1.0), col("target_docs") / col("n_docs").cast("double")))
      .select("source", "n_docs", "n_min", "target_docs", "rate")
  }

  def temperatureApply(d: DataFrame, keyCol: String): DataFrame = {
    requireFresh(d, Seq("bucket", "rate", "kept"))
    val rates = temperaturePlan(d).select("source", "rate")
    val bucket = pmod(graft.functions.PortableHash.base28(
      concat(lit(TempSalt), col(keyCol).cast("string")),
      graft.functions.PortableHash.enabled(d)), lit(1000000L))
    d.join(broadcast(rates), "source")
      .select(col("doc_id"), col("source"), bucket.as("bucket"), col("rate"),
        (bucket.cast("double") < col("rate") * lit(1000000.0)).as("kept"))
  }

  lazy val specs: Map[String, QuerySpec] = Map(
    // per-doc assignment: the full reproducible-split contract
    "sample_split_assign" -> QuerySpec((s, dir) =>
      split(graft.sources.Tables.parquet(s, dir, "documents"), "doc_id")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id"),
      s"""$splitCte
         |SELECT doc_id, bucket, split FROM s ORDER BY doc_id""".stripMargin),
    // split sizes per language: the sanity report a pipeline runs daily
    "sample_split_stats" -> QuerySpec((s, dir) =>
      split(graft.sources.Tables.parquet(s, dir, "documents"), "doc_id")
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split"),
      s"""$splitCte
         |SELECT lang, split, count(*) AS n FROM s
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // the corpus after language reweighting (the apply step)
    "sample_mix_apply" -> QuerySpec((s, dir) =>
      mixAssign(graft.sources.Tables.parquet(s, dir, "documents"), "doc_id")
        .filter(col("kept"))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id"),
      s"""$mixCte
         |SELECT doc_id, lang, bucket FROM m WHERE bucket < rate
         |ORDER BY doc_id""".stripMargin),
    // the mixing audit: per language, incoming vs kept vs configured
    // rate — downsampling must never be silent
    "sample_mix_stats" -> QuerySpec((s, dir) =>
      mixAssign(graft.sources.Tables.parquet(s, dir, "documents"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_in"),
          sum(col("kept").cast("long")).as("n_kept"),
          max(col("rate")).as("rate_pct"))
        .orderBy("lang"),
      s"""$mixCte
         |SELECT lang, count(*) AS n_in,
         |  CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  max(rate) AS rate_pct
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin),
    // fixed-k eval-set carve per language (engine-portable, seed-free)
    "sample_stratified" -> QuerySpec((s, dir) =>
      stratified(graft.sources.Tables.parquet(s, dir, "documents"), "doc_id", "lang")
        .select("doc_id", "lang", "hkey", "rank")
        .orderBy("lang", "rank"),
      // 15-hex-digit positional build of the 60-bit rank key — the same
      // construction the dedup oracle validates for PortableHash.key64
      s"""WITH hx AS (
         |  SELECT doc_id, lang,
         |         substr(md5('$StratifiedSalt' || CAST(doc_id AS VARCHAR)), 1, 15) AS hx
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, lang, CAST($key64Sql AS BIGINT) AS hkey FROM hx
         |), r AS (
         |  SELECT doc_id, lang, hkey,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY hkey ASC, doc_id ASC) AS INT) AS rank
         |  FROM h
         |)
         |SELECT doc_id, lang, hkey, rank FROM r WHERE rank <= $StratifiedK
         |ORDER BY lang, rank""".stripMargin),
    // per-language token-budget plan (epoch-capped uniform reweighting)
    "sample_budget_plan" -> QuerySpec((s, dir) =>
      budgetPlan(graft.sources.Tables.parquet(s, dir, "documents"))
        .orderBy("lang"),
      // integer plan arithmetic (// is DuckDB's integer division, Spark's
      // div); the single double division comes last
      s"""WITH d AS (
         |  SELECT lang,
         |         ${graft.text.Tokenize.whitespaceTokensSql} AS toks
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |), pl AS (
         |  SELECT lang, CAST(sum(len(toks)) AS BIGINT) AS avail_tokens
         |  FROM d GROUP BY 1
         |), t AS (
         |  SELECT *, CAST(sum(avail_tokens) OVER () AS BIGINT) AS total_tokens,
         |         CAST(count(*) OVER () AS BIGINT) AS n_langs
         |  FROM pl
         |), p AS (
         |  SELECT lang, avail_tokens,
         |         CAST((total_tokens // $BudgetDen) // n_langs AS BIGINT) AS target_tokens
         |  FROM t
         |)
         |SELECT lang, avail_tokens, target_tokens,
         |       least(target_tokens, avail_tokens * $MaxEpochs) AS planned_tokens,
         |       target_tokens - least(target_tokens, avail_tokens * $MaxEpochs)
         |         AS deficit_tokens,
         |       CASE WHEN avail_tokens > 0
         |            THEN CAST(least(target_tokens, avail_tokens * $MaxEpochs) AS DOUBLE)
         |                 / CAST(avail_tokens AS DOUBLE)
         |            ELSE CAST(0 AS DOUBLE) END AS repeat_factor
         |FROM p ORDER BY lang""".stripMargin),
    // deterministic k-fold assignment (salted hash mod k)
    "sample_kfold" -> QuerySpec((s, dir) =>
      kfold(graft.sources.Tables.parquet(s, dir, "documents"), "doc_id")
        .select("doc_id", "lang", "fold")
        .orderBy("doc_id"),
      s"""WITH hx AS (
         |  SELECT doc_id, lang,
         |         substr(md5('$FoldSalt' || CAST(doc_id AS VARCHAR)), 1, 7) AS hx
         |  FROM documents
         |)
         |SELECT doc_id, lang, CAST(($digitsSql) % $KFolds AS BIGINT) AS fold
         |FROM hx ORDER BY doc_id""".stripMargin),
    // sqrt-temperature source flattening: the per-source plan…
    "sample_temperature_plan" -> QuerySpec((s, dir) =>
      temperaturePlan(graft.sources.Tables.parquet(s, dir, "documents"))
        .orderBy("source"),
      // n_min is an exact BIGINT min; sqrt and the division are single
      // correctly-rounded double ops — no order-dependent float sum
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
        |), m AS (
        |  SELECT min(n_docs) AS n_min FROM c
        |)
        |SELECT source, n_docs, n_min,
        |       sqrt(CAST(n_docs AS DOUBLE) * CAST(n_min AS DOUBLE)) AS target_docs,
        |       least(CAST(1.0 AS DOUBLE),
        |             sqrt(CAST(n_docs AS DOUBLE) * CAST(n_min AS DOUBLE))
        |               / CAST(n_docs AS DOUBLE)) AS rate
        |FROM c, m ORDER BY source""".stripMargin),
    // …and its per-doc admission (the apply step)
    "sample_temperature_apply" -> QuerySpec((s, dir) =>
      temperatureApply(graft.sources.Tables.parquet(s, dir, "documents"), "doc_id")
        .orderBy("doc_id"),
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
         |), m AS (
         |  SELECT min(n_docs) AS n_min FROM c
         |), p AS (
         |  SELECT source,
         |         least(CAST(1.0 AS DOUBLE),
         |               sqrt(CAST(n_docs AS DOUBLE) * CAST(n_min AS DOUBLE))
         |                 / CAST(n_docs AS DOUBLE)) AS rate
         |  FROM c, m
         |), hx AS (
         |  SELECT doc_id, source,
         |         substr(md5('temp|' || CAST(doc_id AS VARCHAR)), 1, 7) AS hx
         |  FROM documents
         |)
         |SELECT doc_id, hx.source,
         |       CAST(($digitsSql) % 1000000 AS BIGINT) AS bucket,
         |       rate,
         |       CAST(CAST(($digitsSql) % 1000000 AS BIGINT) AS DOUBLE)
         |         < rate * 1000000.0 AS kept
         |FROM hx JOIN p ON hx.source = p.source
         |ORDER BY doc_id""".stripMargin),
    // concatenate-and-chunk sequence packing: per-doc pack assignment
    "sample_pack_plan" -> QuerySpec((s, dir) =>
      packPlan(graft.sources.Tables.parquet(s, dir, "documents"))
        .orderBy("doc_id"),
      // exact-long packing arithmetic; explicit ROWS frame (doc_id is
      // unique — RANGE would tie-sum duplicates on an engine keeping any)
      s"""$packCte
         |SELECT doc_id, shard, n_tokens, pack_id, pack_offset, n_spans
         |FROM q ORDER BY doc_id""".stripMargin),
    // …and the per-shard pack/straddler/fill audit
    "sample_pack_stats" -> QuerySpec((s, dir) =>
      packStats(graft.sources.Tables.parquet(s, dir, "documents"))
        .orderBy("shard"),
      s"""$packCte
         |SELECT shard, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
         |       CAST(max(pack_id + n_spans) AS BIGINT) AS n_packs,
         |       CAST(sum(CASE WHEN n_spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_straddlers,
         |       CAST(sum(n_tokens) - (max(pack_id + n_spans) - 1) * $PackBudget
         |         AS BIGINT) AS last_pack_tokens
         |FROM q GROUP BY shard ORDER BY shard""".stripMargin)
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = QuerySpec.builds(specs)

  private val key64Sql: String =
    (1 to 15).map(k =>
      s"(strpos('0123456789abcdef', substr(hx, $k, 1)) - 1) * ${java.math.BigInteger.valueOf(16).pow(15 - k)}")
      .mkString(" + ")

  private val digitsSql: String =
    (1 to 7).map(k =>
      s"(strpos('0123456789abcdef', substr(hx, $k, 1)) - 1) * ${math.pow(16, 7 - k).toLong}")
      .mkString(" + ")

  private val bucketSql: String = s"($digitsSql) % 100"

  private val splitCte: String =
    s"""WITH hx AS (
       |  SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS hx
       |  FROM documents
       |), b AS (
       |  SELECT *, CAST($bucketSql AS BIGINT) AS bucket FROM hx
       |), s AS (
       |  SELECT *, CASE WHEN bucket < $TrainPct THEN 'train'
       |                 WHEN bucket < ${TrainPct + ValPct} THEN 'val'
       |                 ELSE 'test' END AS split
       |  FROM b
       |)""".stripMargin

  private val rateSql: String =
    MixPct.foldRight(DefaultMixPct.toString) {
      case ((l, p), els) => s"CASE WHEN lang = '$l' THEN $p ELSE $els END"
    }

  private val mixCte: String =
    s"""WITH hx AS (
       |  SELECT *, substr(md5('$MixSalt' || CAST(doc_id AS VARCHAR)), 1, 7) AS hx
       |  FROM documents
       |), m AS (
       |  SELECT *, CAST($bucketSql AS BIGINT) AS bucket,
       |         CAST($rateSql AS BIGINT) AS rate
       |  FROM hx
       |)""".stripMargin

  private val packCte: String =
    s"""WITH hx AS (
       |  SELECT doc_id,
       |         substr(md5('$PackSalt' || CAST(doc_id AS VARCHAR)), 1, 7) AS hx,
       |         ${graft.text.Tokenize.whitespaceTokensSql} AS toks
       |  FROM documents
       |  WHERE text IS NOT NULL AND length(text) > 0
       |), b AS (
       |  SELECT doc_id, CAST(($digitsSql) % $PackShards AS BIGINT) AS shard,
       |         CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM hx
       |), c AS (
       |  SELECT doc_id, shard, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - n_tokens AS BIGINT) AS cum_before
       |  FROM b
       |), q AS (
       |  SELECT doc_id, shard, n_tokens,
       |         cum_before // $PackBudget AS pack_id,
       |         cum_before % $PackBudget AS pack_offset,
       |         (cum_before % $PackBudget + greatest(n_tokens, 1) - 1)
       |           // $PackBudget + 1 AS n_spans
       |  FROM c
       |)""".stripMargin
}
