package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate layer beneath the near-duplicate operators: a bucket
  * of 2 to cap members expands all pairs of its sorted members, so
  * pairs come out as (left < right) and the work per bucket is bounded
  * by cap²/2; an oversized bucket emits nothing, and [[audit]] counts
  * exactly what that drops. Callers keep their own bucket key, member
  * and cap value.
  */
object Candidates {

  /** Distinct (left < right) pairs of `member` values sharing a `key`
    * bucket of `rows` of 2 to `cap` members: a groupBy and an in-list
    * expansion, never a bucket self-join (which plans the subtree that
    * computes the keys once per side). A member must occur at most once
    * per bucket: a repeat would pair with itself.
    */
  def inBucket(rows: DataFrame, key: Seq[String], member: Column, cap: Int,
      left: String, right: String): DataFrame =
    rows.groupBy(key.map(col): _*)
      .agg(collect_list(member).as("members"))
      .filter(size(col("members")).between(2, cap))
      .withColumn("arr", array_sort(col("members")))
      .select(expand(col("arr"), left, right).as("p"))
      .select(col(s"p.$left").as(left), col(s"p.$right").as(right))
      .distinct()

  /** Every pair (arr[i], arr[j]), i < j, as `struct(left, right)` rows.
    * `arr` is read three times per bucket, so pass a named column.
    */
  def expand(arr: Column, left: String, right: String): Column =
    explode(flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), size(arr)), y => struct(x.as(left), y.as(right))))))

  /** One row (method, dropped_buckets, dropped_postings): the `key`
    * buckets of `rows` larger than `cap` and the rows they hold — zeros,
    * not an absent row, when none is.
    */
  def audit(rows: DataFrame, key: Seq[String], cap: Int, method: String): DataFrame =
    rows.groupBy(key.map(col): _*).agg(count(lit(1)).as("sz"))
      .filter(col("sz") > cap)
      .agg(count(lit(1)).as("dropped_buckets"),
        coalesce(sum(col("sz")), lit(0L)).as("dropped_postings"))
      .select(lit(method).as("method"),
        col("dropped_buckets"), col("dropped_postings"))

  /** `pairs` (doc_a, doc_b, …) with `cols` of each side's `docs` row
    * (keyed by doc_id) as `<c>_a` and `<c>_b`: exact verification moves
    * arrays once per candidate, never per posting.
    */
  def joinBack(pairs: DataFrame, docs: DataFrame, cols: String*): DataFrame = {
    def side(s: String) =
      docs.select(col("doc_id").as(s"doc_$s") +: cols.map(c => col(c).as(s"${c}_$s")): _*)
    pairs.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
  }

  /** PPJoin prefix length of `n` keys at `threshold` (Xiao et al.,
    * WWW'08): overlap ≥ t·|X| forces a shared key among X's first
    * |X| − ⌈t·|X|⌉ + 1 under any global order. floor in place of ceil
    * keeps the prefix long enough under float rounding of t·n (one key
    * longer at most; shorter would drop true pairs).
    */
  def prefixLen(n: Column, threshold: Double): Column =
    n - floor(n * lit(threshold)).cast("int") + 1

  /** A streaming bucket after one batch, and the pairs the batch emits. */
  final case class Admission(members: List[Long], poisoned: Boolean,
      pairs: Seq[(Long, Long)])

  /** [[inBucket]]'s cap for a streaming bucket holding `members`: the
    * arrivals pair with each other and the members unless the bucket
    * would pass `cap`, which poisons it for good (on a one-batch replay,
    * the batch rule). An admitted id arriving again (at-least-once
    * sources) neither pairs with itself nor counts twice. None when the
    * bucket stays as it was.
    */
  def admit(members: List[Long], poisoned: Boolean, arriving: Seq[Long],
      cap: Int): Option[Admission] = {
    val arrivals = arriving.distinct.sorted.filterNot(members.toSet)
    if (poisoned || arrivals.isEmpty) None
    else if (members.size + arrivals.size > cap) Some(Admission(Nil, poisoned = true, Nil))
    else {
      val inBatch = for ((a, i) <- arrivals.zipWithIndex; b <- arrivals.drop(i + 1)) yield (a, b)
      val cross = for (a <- arrivals; m <- members) yield if (m < a) (m, a) else (a, m)
      Some(Admission(members ++ arrivals, poisoned = false, inBatch ++ cross))
    }
  }
}
