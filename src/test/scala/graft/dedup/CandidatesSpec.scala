package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The candidate layer's cap boundary, batch and streaming: a bucket
  * of `cap` members expands every pair, one of `cap + 1` expands none
  * and is exactly what the audit counts, and the streaming admission
  * poisons at the same size.
  */
class CandidatesSpec extends SparkSpec {

  private val cap = 5

  test("a bucket of cap members expands all pairs; cap + 1 expands none and is what the audit counts") {
    val s = spark; import s.implicits._
    // bucket 1: exactly cap members, listed out of order; bucket 2:
    // cap + 1 members; bucket 3: a singleton
    val full = Seq(4L, 1L, 5L, 3L, 2L)
    val rows = (full.map(1 -> _) ++ (10L to 10L + cap).map(2 -> _) :+ (3 -> 99L))
      .toDF("k", "doc_id")
    val pairs = Candidates.inBucket(rows, Seq("k"), col("doc_id"), cap, "lo", "hi")
      .as[(Long, Long)].collect().toSeq
    assert(pairs.size === cap * (cap - 1) / 2)
    assert(pairs.toSet === (for (a <- full; b <- full if a < b) yield (a, b)).toSet)
    val audit = Candidates.audit(rows, Seq("k"), cap, "m")
      .as[(String, Long, Long)].collect().toSeq
    assert(audit === Seq(("m", 1L, (cap + 1).toLong)))
    // nothing dropped is a row of zeros, not an absent row
    assert(Candidates.audit(rows, Seq("k"), cap + 1, "m")
      .as[(String, Long, Long)].collect().toSeq === Seq(("m", 0L, 0L)))
  }

  test("the streaming admission pairs up to cap members and poisons at cap + 1") {
    val first = Candidates.admit(Nil, poisoned = false, Seq(3L, 1L, 3L), cap).get
    assert(first.members === List(1L, 3L))
    assert(first.pairs === Seq((1L, 3L)))
    // redelivery alone leaves the bucket as it was
    assert(Candidates.admit(first.members, poisoned = false, Seq(1L), cap).isEmpty)
    val filled = Candidates.admit(first.members, poisoned = false, Seq(5L, 2L, 4L), cap).get
    assert(filled.members.size === cap && !filled.poisoned)
    assert(filled.pairs.size === cap * (cap - 1) / 2 - 1)
    assert(filled.pairs.forall { case (a, b) => a < b })
    val over = Candidates.admit(filled.members, poisoned = false, Seq(6L), cap).get
    assert(over === Candidates.Admission(Nil, poisoned = true, Nil))
    assert(Candidates.admit(Nil, poisoned = true, Seq(7L), cap).isEmpty)
    // one batch of cap + 1 is the batch rule: nothing, poisoned
    assert(Candidates.admit(Nil, poisoned = false, (1L to cap + 1L), cap).get.poisoned)
  }
}
