package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-up generator: produce an sf-N× replica of a driver fixture
  * directory by unioning `factor` key-shifted copies of every table.
  *
  * The driver generates sf0.001/0.01/0.1 only; the scale experiments
  * (BASELINE.md's "one order up" row) need sf1+. This derives it FROM
  * the driver's own data — not synthesized from scratch — so every
  * distribution (text length, dup-cluster shape, skew, date range) is
  * the fixture's own, replicated:
  *
  *   - Copy 0 is byte-identical to the source, so sf1 ⊇ sf0.1.
  *   - Every surrogate key shifts by `copy * KeyOffset` (1e9 — far
  *     above any fixture key, and a multiple of Dedup.DeltaMod = 5 so
  *     `doc_id % 5` batch membership is preserved per copy). FK edges
  *     (orders→customer, lineitem→orders/part/supplier, events'
  *     user_id) shift together, so referential integrity and join
  *     fan-outs are exactly the fixture's, ×factor.
  *   - Fixed-size dims (region, nation) stay as-is — TPC-H semantics
  *     (25 nations at every sf), and nationkey FKs stay valid.
  *   - `documents.text` in copies > 0 gets every 3rd whitespace token
  *     suffixed with `~<copy>`: any 5-gram shingle contains at least
  *     one rewritten token, so NO shingle survives across copies —
  *     cross-copy Jaccard/MinHash/SimHash similarity collapses and the
  *     near-dup workload scales LINEARLY (10 exact clones per doc
  *     would instead square the pair count and measure a workload the
  *     fixture doesn't represent). Intra-copy dup structure is
  *     untouched. n_chars recomputed (fixture invariant: == length).
  *   - `embeddings.embedding` in copies > 0 gets deterministic
  *     per-(copy, dim) sinusoidal jitter (±0.05) — same reason: exact
  *     vector clones would make every ANN/semdedup query degenerate.
  *   - Timestamps are NOT shifted (TPC-H scaling keeps the date range
  *     and densifies it), so date-window predicates keep selectivity.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [factor]
  * Defaults: /root/testdata/sf0.1 → target/testdata/sf1 × 10.
  */
object ScaleUp {

  val KeyOffset = 1000000000L

  /** `factor` stacked copies of `df` with `shift` applied to each key
    * column — a generated `copy` index column is in scope for the
    * perturbation lambdas and dropped on the way out.
    */
  private def replicate(df: DataFrame, factor: Int)(
      edit: (DataFrame, Column) => DataFrame): DataFrame = {
    val copies = df.sparkSession.range(factor.toLong)
      .select(col("id").cast("int").as("copy"))
    // The driver fixtures are ONE file with one row group, so the
    // crossJoin (and the heavy per-copy text/embedding perturbation
    // above it) would otherwise run in a SINGLE task no matter the
    // factor — fine at ×10, an hour-long straggler at ×1000. Fan the
    // tiny source out first; the input shuffle moves input-sized (MBs)
    // data, the output write repartitions anyway.
    val fanned = df.repartition(
      df.sparkSession.sparkContext.defaultParallelism)
    edit(fanned.crossJoin(broadcast(copies)), col("copy")).drop("copy")
  }

  private def shift(keys: String*)(df: DataFrame, copy: Column): DataFrame =
    keys.foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) + copy.cast("long") * lit(KeyOffset)))

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/testdata/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session("graft-scaleup")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String)(df: DataFrame): Unit = {
      // REPARTITION, not coalesce: the source fixture is one file with
      // one row group, so the crossJoin output is ONE partition and
      // coalesce cannot split it — the first sf10 cut wrote single-file
      // single-row-group tables whose scans ran one task no matter how
      // many cores the bench had (the 111×-linear regex scans in
      // BENCH_SF10_r11.json's first draft were measuring 1/32 of the
      // machine). Many small files give scans real split points; the
      // dims stay single-file.
      val n = math.max(8, math.min(128, factor))
      df.repartition(n).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"scaleup: $t -> $out/$t.parquet ($n files)")
    }

    // Fixed dims: copy through unchanged (single file — they are rows,
    // not volume).
    Seq("region", "nation").foreach { t =>
      read(t).coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"scaleup: $t -> $out/$t.parquet (dim, 1 file)")
    }

    write("customer")(replicate(read("customer"), factor)(shift("c_custkey")))
    write("supplier")(replicate(read("supplier"), factor)(shift("s_suppkey")))
    write("part")(replicate(read("part"), factor)(shift("p_partkey")))
    write("orders")(replicate(read("orders"), factor)(
      shift("o_orderkey", "o_custkey")))
    write("lineitem")(replicate(read("lineitem"), factor)(
      shift("l_orderkey", "l_partkey", "l_suppkey")))
    write("events")(replicate(read("events"), factor)(
      shift("event_id", "user_id")))

    write("documents")(replicate(read("documents"), factor) { (d, copy) =>
      val shifted = shift("doc_id")(d, copy)
      // EMPTY tokens (leading/consecutive spaces, empty docs) are left
      // untouched: suffixing them would invent a "~<copy>" token out
      // of whitespace — an empty doc must stay empty in every copy.
      // The single-space split (not \s+) deliberately preserves the
      // source's whitespace shape byte-for-byte around unperturbed
      // tokens; tab/newline-joined runs count as one token, which only
      // lengthens some shingle spans — the no-shingle-survives-copies
      // property needs at most one rewrite per 5-gram and i%3 gives it.
      val perturbed = concat_ws(" ",
        transform(split(col("text"), " "), (w, i) =>
          when(copy > 0 && i % 3 === 0 && length(w) > 0,
            concat(w, lit("~"), copy.cast("string"))).otherwise(w)))
      shifted
        .withColumn("text", when(copy === 0, col("text")).otherwise(perturbed))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    write("embeddings")(replicate(read("embeddings"), factor) { (d, copy) =>
      val shifted = shift("vec_id")(d, copy)
      val jittered = transform(col("embedding"), (x, j) =>
        (x + lit(0.05f) * sin(copy.cast("double") * lit(2.654) +
          j.cast("double")).cast("float")).cast("float"))
      shifted.withColumn("embedding",
        when(copy === 0, col("embedding")).otherwise(jittered))
    })

    println(s"scaleup: done, $src x$factor -> $out")
    spark.stop()
  }
}
