package graft

/** Measured wall-clock registry for the one-time memoized builds named
  * in [[SparkEntry.memoizedBuildQueries]] (docsets table, CC label
  * fixpoint, streaming replay stores, ingest mirrors). [[Memo]] wraps
  * every COLD build in [[timed]]; warm reads record nothing.
  *
  * Why it exists: Bench's max−median estimator prices the build only
  * when ITERS ≥ 2. At ITERS=1 (the sf100 protocol) max = median = the
  * single sample, so the estimator degenerates to 0.0 even though the
  * build landed inside the sample — r13's BENCH_SF100 row read
  * `builds: 0.0` for all five memoized entries and cost a false 623×
  * scale reading on `dedup_cluster_sizes` until hand-cross-checked.
  * The memo code knows its own wall, so it records it here and Bench
  * drains the registry after each query's samples:
  *  - ITERS ≥ 2 — max−median stays the priced quantity (unchanged
  *    cross-round semantics, and the estimator captures scheduling
  *    overhead the raw build wall misses); the drained value is the
  *    cross-check.
  *  - ITERS = 1 — the drained wall IS the reported `builds` entry,
  *    attributed to the query that triggered the build, and is NOT
  *    added to the headline total (the single sample already paid it
  *    once — adding it again would double-count).
  */
object BuildWall {
  private val walls = new java.util.concurrent.atomic.AtomicReference(
    Map.empty[String, Double])

  /** Run `body`, accumulate its wall under `label`, return its result. */
  def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    walls.updateAndGet(m => m.updated(label, m.getOrElse(label, 0.0) + sec))
    r
  }

  /** Remove and return everything recorded since the last drain. */
  def drain(): Map[String, Double] = walls.getAndSet(Map.empty)
}
