package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** JVM implementation of the reference's `format_phone`
  * (clean_and_write.py:97-111; fixtures main.ipynb cell 17), bound to
  * Catalyst as one [[Kernel]] call.
  *
  * Pipeline (1-based SQL substring semantics throughout, so the DuckDB
  * oracle mirror in CleanOps.f1 computes the identical string):
  * already-formatted numbers pass through; otherwise strip non-digits,
  * fix the `306` area-code typo when the digits start `1*306`, ensure
  * leading country code `1`, digits beyond 11 become a ` x<ext>`
  * suffix, then hyphenate `+C-AAA-LLL-NNNN`.
  *
  * Why a kernel rather than a built-in chain: the declarative
  * formulation needs each intermediate (digits → typo-fixed →
  * country-coded → extension-split) in several downstream positions,
  * and `Column` combinators build trees, not DAGs — the nested reuse
  * re-inlines each subtree multiplicatively, and the generated code for
  * one projection exceeds Janino's 64KB method limit, dropping the
  * cleaning pipeline out of whole-stage codegen. One static call keeps
  * the f1 path in its one WholeStageCodegen span at any scale.
  */
object PhoneFormat {

  private val WellFormed =
    java.util.regex.Pattern.compile("^\\+1-\\d{3}-\\d{3}-\\d{4}$")
  private val AreaTypo = java.util.regex.Pattern.compile("^(1*)306")
  private val NonDigit = java.util.regex.Pattern.compile("\\D")

  /** SQL `substring(s, pos, len)`: 1-based, clipped, empty when the
    * range falls outside the string or `len <= 0` — matching Spark's
    * `substring`/`substr` Column functions bit-for-bit. */
  private def ss(s: String, pos: Int, len: Int): String = {
    if (len <= 0 || pos > s.length) return ""
    val start = math.max(pos - 1, 0)
    val end = math.min(start + len, s.length)
    if (start >= end) "" else s.substring(start, end)
  }

  def formatString(num: String): String = {
    if (WellFormed.matcher(num).find()) return num
    var dig = NonDigit.matcher(num).replaceAll("")
    val m = AreaTypo.matcher(dig)
    if (m.find()) dig = m.replaceFirst("$1360")
    if (!ss(dig, 1, 1).equals("1")) dig = "1" + dig
    val full =
      if (dig.length > 12) ss(dig, 1, 11) + " x" + ss(dig, 12, dig.length - 11)
      else dig
    "+" + ss(full, 1, 1) + "-" + ss(full, 2, 3) + "-" + ss(full, 5, 3) +
      "-" + ss(full, 8, full.length - 7)
  }

  /** The kernel (never called with null). */
  def format(u: UTF8String): UTF8String =
    UTF8String.fromString(formatString(u.toString))

  /** `format_phone(num)`: a null number is null. */
  def expr(num: Expression): Expression = Kernel(this, "format", StringType, Seq(StringType))(num)
}
