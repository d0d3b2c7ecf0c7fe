package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused PII scan: `graft_pii_scan(text)` = struct(n_emails, n_phones,
  * n_ipv4, redacted) — the per-category match counts on the INPUT text
  * plus the sequentially redacted string (email → IPv4 → phone, the
  * same chain as `Analysis.redactPii`), in one expression.
  *
  * Why a kernel: the Column form is six independent regex expressions
  * (three `regexp_extract_all` + the three-deep `regexp_replace`
  * chain), and each one converts the row's UTF8String to a JVM String
  * and materializes its matches as an array before `size` throws the
  * strings away. Measured at sf10 that chain ran ~4× slower than the
  * same six java.util.regex passes on raw Strings. This kernel does
  * ONE conversion and five matcher passes (the email count fuses into
  * its replacement pass — same pattern, same subject), allocating no
  * match arrays.
  *
  * Semantics are pinned to the Column chain, not approximated:
  * counts run against the ORIGINAL text even though the IPv4/phone
  * REPLACEMENTS run against the partially-redacted string — on
  * adversarial overlaps (an email local part that parses as an IPv4,
  * e.g. `1.2.3.4@x.com`) the two subjects genuinely differ, and the
  * DuckDB oracle computes counts on the original. PiiScanSpec pins
  * kernel ≡ Column-chain on exactly such inputs.
  *
  * The canonical pattern strings live here (the text package aliases
  * them): both engines' regex dialects and this kernel must compile
  * the same source, restricted to the shared-dialect subset
  * (character classes, bounded repetition, `\b`; no lookaround or
  * backreferences) so one language drives Spark, DuckDB, and the JVM.
  */
case class PiiScan(child: Expression) extends Kernel1("graft_pii_scan",
    StructType(Seq(StructField("n_emails", LongType, nullable = false),
      StructField("n_phones", LongType, nullable = false),
      StructField("n_ipv4", LongType, nullable = false),
      StructField("redacted", StringType, nullable = false))),
    Static("graft.functions.PiiScan.scan"), Arg.string) {

  override protected def nullSafeEval(t: Any): Any =
    PiiScan.scan(t.asInstanceOf[UTF8String])
}

object PiiScan {

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+\\d{1,3}[ -]?\\d{3}[ -]?\\d{3,4}[ -]?\\d{2,4}"

  private val email = java.util.regex.Pattern.compile(EmailPattern)
  private val ipv4 = java.util.regex.Pattern.compile(Ipv4Pattern)
  private val phone = java.util.regex.Pattern.compile(PhonePattern)

  /** Called from generated code. One String conversion, five matcher
    * passes, no match-array materialization.
    */
  def scan(u: UTF8String): InternalRow = {
    val s = u.toString
    // Email: count and replace fused — same pattern on the same subject.
    var nEmail = 0L
    val me = email.matcher(s)
    val sb = new java.lang.StringBuilder
    while (me.find()) { nEmail += 1; me.appendReplacement(sb, "[EMAIL]") }
    me.appendTail(sb)
    val afterEmail = sb.toString
    // IPv4/phone counts bind to the ORIGINAL text (the Column chain's
    // extract_all subjects), replacements to the running redaction.
    var nIp = 0L
    val mi = ipv4.matcher(s)
    while (mi.find()) nIp += 1
    val afterIp = ipv4.matcher(afterEmail).replaceAll("[IP]")
    var nPhone = 0L
    val mp = phone.matcher(s)
    while (mp.find()) nPhone += 1
    val redacted = phone.matcher(afterIp).replaceAll("[PHONE]")
    InternalRow(nEmail, nPhone, nIp, UTF8String.fromString(redacted))
  }
}
