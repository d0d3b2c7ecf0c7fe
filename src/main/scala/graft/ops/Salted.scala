package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Skew-resistant two-stage aggregation (the "salting" pattern).
  *
  * A plain `groupBy(k).sum(v)` sends every row of a hot key to ONE
  * reducer — at 100 TB a single skewed key (empty string, null-ish
  * sentinel, bot user) stalls the stage. Salting splits each key into
  * `buckets` sub-keys for the first shuffle, partially aggregates, then
  * merges the partials in a second (tiny) shuffle over the true keys.
  *
  * Correct for any commutative-monoid aggregate; exposed here for sum +
  * count. The salt is DETERMINISTIC within a run (hash of the row's
  * physical position: partition id + per-partition row id) so a query
  * replays identically — using rand() would break the engine's
  * exact-replay guarantees. Crucially it does NOT depend on the row's
  * VALUES: a hot key whose rows all carry one constant value (the
  * canonical skew case — a null-ish sentinel, `0`, a bot user emitting
  * one payload) still spreads across all `buckets` sub-keys, where a
  * value-derived salt would collapse to a single bucket and silently
  * reproduce the skew it exists to break.
  *
  * Note Spark's own mitigations (map-side partial aggregation; AQE skew
  * join splitting) cover many cases — this helper is for the remaining
  * one: a reduce-side hot key in a first-stage aggregate whose partial
  * states are large (e.g. collect-like or high-cardinality sketches),
  * or engines/config where AQE is off.
  */
object Salted {

  val DefaultBuckets = 32

  /** Per-row deterministic salt in [0, buckets): hashed physical row
    * position (`monotonically_increasing_id` = partitionId << 33 | rowInPartition),
    * so consecutive rows of ANY key — constant-valued or not — spread
    * round-robin-ish over the buckets. Position-derived means the salt
    * can differ across different input partitionings of the same data;
    * that never changes RESULTS (stage 2 re-merges on the true keys),
    * only which partial lands where.
    */
  def saltCol(buckets: Int = DefaultBuckets): Column =
    pmod(hash(monotonically_increasing_id()), lit(buckets))

  /** groupBy(keys).agg(sum(value), count(*)) with a salted first stage. */
  def sumCountByKey(df: DataFrame, keys: Seq[String], value: Column,
      buckets: Int = DefaultBuckets): DataFrame = {
    val keyCols = keys.map(col)
    val salted = df.withColumn("__salt", saltCol(buckets))
    salted
      .groupBy((keyCols :+ col("__salt")): _*)
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__psum")).as("sum"), sum(col("__pcnt")).as("count"))
  }

  /** Skew-resistant fact⋈dim equi-join: the fact side carries a per-row
    * salt, the dim side is replicated across all `buckets` salt values,
    * and the join key widens to (key, salt) — so a hot fact key's rows
    * spread over `buckets` reduce tasks instead of stalling one.
    * Results equal the plain inner join row-for-row (SaltedSpec pins
    * it). Cost: the dim shuffles ×buckets — use when the dim is
    * small-but-not-broadcastable and AQE's skew-join splitting is
    * unavailable (AQE only splits SORT-MERGE sides; a skewed
    * shuffle-HASH join or a non-AQE engine gets no help).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      buckets: Int = DefaultBuckets): DataFrame = {
    val saltedFact = fact.withColumn("__salt", saltCol(buckets))
    val replicatedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedFact.join(replicatedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** The audit→mitigation wire: key columns whose measured `top1_share`
    * (from `rel_key_skew`'s [[graft.rel.Relational.keySkew]] frame)
    * exceeds `threshold` — the ones whose hottest key would claim more
    * than `threshold` of a reduce stage — paired with that share. Feed
    * each returned column to [[sumCountByKey]] / [[saltedJoin]].
    */
  def skewedKeys(audit: DataFrame,
      threshold: Double = 0.05): Seq[(String, Double)] =
    audit.filter(col("top1_share") > threshold)
      .select(col("key_col"), col("top1_share"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      .sortBy(-_._2)

  /** The full audit→mitigation wire as a REGISTERED query: measure the
    * documents table's candidate join keys with the `rel_key_skew`
    * audit frame, pick the hottest flagged column (lang on the
    * fixtures — one language dominates, exactly the hot-key shape),
    * and route the fact⋈dim join through [[saltedJoin]]. The dim is
    * the per-key profile (≤ distinct-langs rows) with a shuffle-hash
    * hint, because that is the case salting exists for: a dim too big
    * (or a config unable) to broadcast and AQE's sort-merge-only skew
    * splitting unavailable. Results are row-identical to the plain
    * join (the oracle IS the plain join); SaltedSpec asserts the
    * exchanges partition on (key, __salt), so the hot key's rows
    * spread over `buckets` reduce tasks.
    *
    * The audit collect (one row per audited column) runs at BUILD —
    * declared eager in [[specs]]. The chosen key is
    * data-dependent by design — the wire, not a constant, decides — so
    * a fixture where the measurement flipped would hash-mismatch the
    * oracle and fail the gate loudly.
    */
  lazy val specs: Map[String, QuerySpec] = Map(
    "rel_salted_join" -> QuerySpec((s, dir) => {
      val d = graft.sources.Tables.parquet(s, dir, "documents")
      val audit = graft.rel.Relational.keySkew(d, Seq("lang", "source"))
      val key = skewedKeys(audit).head._1
      val dim = d.groupBy(col(key)).agg(
        count(lit(1)).as("key_docs"),
        sum(col("n_chars")).as("key_chars"))
      saltedJoin(d.select(col("doc_id"), col(key), col("n_chars")),
          dim.hint("shuffle_hash"), key)
        .select(col("doc_id"), col(key).as("key_val"),
          col("key_docs"), col("key_chars"))
        .orderBy("doc_id")
    },
      // the salted join must be row-identical to the plain join; `lang`
      // is the column the audit flags hottest on every fixture (the
      // dominant language's top1_share dwarfs the ~uniform sources')
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |), dim AS (
        |  SELECT lang, count(*) AS key_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS key_chars
        |  FROM d GROUP BY lang
        |)
        |SELECT d.doc_id, d.lang AS key_val, dim.key_docs, dim.key_chars
        |FROM d JOIN dim USING (lang)
        |ORDER BY d.doc_id""".stripMargin,
      build = QuerySpec.Eager(
        "the key-skew audit frame (one row per candidate join column) whose hottest flagged column becomes the salted join key",
        "2 rows"))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = QuerySpec.builds(specs)
}
