package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Multiplicity statistics of a string array as ONE codegen'd kernel:
  * `graft_run_stats(arr)` = struct(top, dup) where `top` is the highest
  * multiplicity of any element (0 for empty) and `dup` is the total
  * count of elements whose multiplicity exceeds 1.
  *
  * Role: the GENERAL array-level primitive and the parity REFERENCE for
  * [[GramStats]] — the production repetition audit composes gram
  * construction into GramStats and never materializes gram strings, and
  * AnalysisSpec pins GramStats ≡ RunStats∘shingle-strings, which is
  * what certifies the window-equality argument. Registered session-wide
  * (`graft_run_stats`) for ad-hoc multiplicity audits over any
  * array<string> column.
  *
  * WHY an expression at all: per-row multiplicity stats via the groupBy
  * formulation shuffle every element occurrence of the corpus for
  * numbers that never leave the row, and a fold-based HOF would defeat
  * whole-stage codegen (the PortableLog2 lesson); this kernel sorts a
  * copied reference array and run-length-scans it in a tight loop.
  */
case class RunStats(child: Expression) extends Kernel1("graft_run_stats",
    StructType(Seq(StructField("top", LongType, nullable = false),
      StructField("dup", LongType, nullable = false))),
    Static("graft.functions.RunStats.stats"), Arg.strings) {

  override protected def nullSafeEval(input: Any): Any =
    RunStats.stats(input.asInstanceOf[ArrayData])
}

object RunStats {

  /** Called from generated code. Null elements are impossible for the
    * shingle arrays this serves (concat_ws never yields null), but are
    * tolerated by sorting them first.
    */
  def stats(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    val a = new Array[UTF8String](n)
    var i = 0
    while (i < n) { a(i) = arr.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(a, (x: UTF8String, y: UTF8String) =>
      if (x == null) (if (y == null) 0 else -1)
      else if (y == null) 1
      else x.compareTo(y))
    var top = 0L; var dup = 0L; var run = 0L
    i = 0
    while (i < n) {
      if (i > 0 && ((a(i) == null && a(i - 1) == null) ||
          (a(i) != null && a(i).equals(a(i - 1))))) run += 1
      else {
        if (run > top) top = run
        if (run > 1) dup += run
        run = 1
      }
      i += 1
    }
    if (run > top) top = run
    if (run > 1) dup += run
    org.apache.spark.sql.catalyst.InternalRow(top, dup)
  }

  /** Scalar form over plain strings — the driver-side reference
    * AnalysisSpec uses to pin [[GramStats]] (window equality ≡
    * joined-string equality) and this kernel's own hand cases.
    */
  def statsOf(xs: Seq[String]): (Long, Long) = {
    val row = stats(new GenericArrayData(
      xs.map(UTF8String.fromString).toArray[Any]))
    (row.getLong(0), row.getLong(1))
  }
}
