package graft.functions

import org.apache.spark.sql.functions._

/** Pins the bit-slice equivalences [[Md5Prefix64]] replaced the hex
  * string arithmetic with. The DuckDB oracle still computes positional
  * hex-digit sums, so these equalities are what keep every oracle-mode
  * hash bit-identical across engines.
  */
class Md5Prefix64Spec extends graft.SparkSpec {
  // kernels over `Seq(…).toDF` input run as generated code
  override def withFixture(test: NoArgTest) = withGeneratedCode(super.withFixture(test))

  test("bit slices equal the hex-digit arithmetic on real corpus tokens") {
    val s = spark
    // distinct corpus tokens (the fixture vocabulary is deliberately
    // tiny — ~30 terms) widened with 10k synthetic strings so all 64
    // bit positions are exercised across a real value distribution
    val corpus = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(lower(col("text")), "\\s+")).as("v"))
      .filter(length(col("v")) > 0).distinct()
    val synthetic = s.range(10000)
      .select(concat(lit("probe string "), col("id")).as("v"))
    val toks = corpus.unionByName(synthetic)
    val h = GraftFunctions.graftMd5Bits(col("v"))
    val old28 = conv(substring(md5(col("v")), 1, 7), 16, 10).cast("long")
    val old60 = conv(substring(md5(col("v")), 1, 15), 16, 10).cast("long")
    // old simhash digit arithmetic for a probe set of bit positions
    def oldBit(b: Int) = {
      val p = b / 4 + 1
      shiftright(
        instr(lit("0123456789abcdef"), substring(md5(col("v")), p, 1)) - 1,
        3 - b % 4).bitwiseAND(lit(1)).cast("long")
    }
    def newBit(b: Int) =
      shiftrightunsigned(h, 63 - b).bitwiseAND(lit(1L))
    val probeBits = Seq(0, 1, 7, 31, 32, 62, 63)
    val mismatches = toks.filter(
      shiftrightunsigned(h, 36) =!= old28 ||
        shiftrightunsigned(h, 4) =!= old60 ||
        probeBits.map(b => newBit(b) =!= oldBit(b)).reduce(_ || _))
      .count()
    assert(toks.count() > 100, "fixture must supply a real token domain")
    assert(mismatches == 0,
      "graft_md5_bits bit slices diverged from the hex-digit oracle arithmetic")
  }

  test("null propagates; empty string hashes like md5('')") {
    val s = spark; import s.implicits._
    val df = Seq(Some(""), None).toDF("v")
      .select(GraftFunctions.graftMd5Bits(col("v")).as("h"))
    val rows = df.collect()
    // md5("") = d41d8cd98f00b204e9800998ecf8427e → first 8 bytes
    assert(rows.exists(r => !r.isNullAt(0) && r.getLong(0) == 0xd41d8cd98f00b204L))
    assert(rows.exists(_.isNullAt(0)))
  }
}
