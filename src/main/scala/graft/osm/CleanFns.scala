package graft.osm

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{Kernel, PhoneFormat}
import OsmConstants._

/** The reference's row-scalar cleaning library (SURVEY.md §2.7
  * F1-F9), implemented ONCE as plain Scala functions over `String`.
  * The shaping kernel ([[graft.functions.TagShape]]) calls them per
  * tag; the `Column` faces further down are one
  * [[graft.functions.Kernel]] call each into the same functions
  * (through [[CleanFnsCatalyst]]), for CleanOps and the specs. No rule
  * exists twice.
  *
  * The rules were first written as Spark SQL expression chains, and
  * the functions keep those semantics where Java's differ: `split`
  * is a regex split that keeps trailing empty strings, `trim` strips
  * only ASCII spaces, `lower`/`initcap` call Spark's own case mapping
  * (ICU or not, per `spark.sql.icu.caseMappings.enabled`), substrings
  * count code points, numeric promotion is Spark's `try_cast`
  * string → double → long, and regex tests use `find`. SQL NULL
  * semantics carry over too: a null input gives what the expression
  * chain gave — null for the null-intolerant rules, a struct or
  * singleton of nulls where the chain built one.
  *
  * Faithfulness notes (SURVEY.md §7.4.5): the reference's deliberate
  * quirks are preserved where they're deterministic data behavior
  * (`kerb: rised→rasied`, single-token street leading space, postcode
  * typo map), and fixed where they're outright bugs in the *function
  * contract* — `format_phone` returns "" for an already-well-formatted
  * number in the reference (clean_and_write.py:97-111 falls through
  * with the empty accumulator); we return the input unchanged, which is
  * what every call site expects.
  */
object CleanFns {

  // ---- Spark SQL string semantics the rules are defined in

  private def useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** SQL `lower` (UTF8_BINARY collation). On ASCII both of Spark's
    * case mappings change 'A'..'Z' and nothing else, so ASCII maps
    * here without Spark's path: its ICU branch initializes
    * `CollationAwareUTF8String` (1.2-1.3 s once per JVM, single
    * threaded) and every call reads the ICU flag through a fresh
    * executor `SQLConf`. Not `String.toLowerCase`, which follows the
    * JVM locale ([[graft.functions.Fns.lowerTrimLocal]]). */
  private def lower(s: String): String =
    if (s == null) null
    else if (s.forall(_ < 0x80)) asciiLower(s)
    else CollationSupport.Lower.exec(UTF8String.fromString(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID, useICU).toString

  private def asciiLower(s: String): String =
    if (!s.exists(c => c >= 'A' && c <= 'Z')) s
    else s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)

  /** SQL `initcap` (UTF8_BINARY collation). */
  private def initcap(s: String): String =
    CollationSupport.InitCap.exec(UTF8String.fromString(s),
      CollationFactory.UTF8_BINARY_COLLATION_ID, useICU).toString

  /** SQL `substring(s, pos, len)`: 1-based, in code points. */
  private def substr(s: String, pos: Int, len: Int): String =
    UTF8String.fromString(s).substringSQL(pos, len).toString

  private def numChars(s: String): Int = s.codePointCount(0, s.length)

  /** SQL `split(s, regex)`: limit -1, trailing empty strings kept. */
  private def split(s: String, regex: String): Array[String] = s.split(regex, -1)

  /** SQL `trim`: ASCII spaces only, not tabs or other whitespace. */
  private def trim(s: String): String = {
    var b = 0; var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  /** SQL `try_cast(s AS double)`: Java's parse (which trims control
    * characters and spaces), then Spark's inf/nan literals. */
  private def toDouble(s: String): java.lang.Double =
    if (s == null) null
    else try java.lang.Double.valueOf(s) catch {
      case _: NumberFormatException =>
        org.apache.spark.sql.catalyst.expressions.Cast
          .processFloatingPointSpecialLiterals(s, false).asInstanceOf[java.lang.Double]
    }

  private val SubnumRe = java.util.regex.Pattern.compile("_\\d$")
  private val ProblemRe = java.util.regex.Pattern.compile(ProblemChars)

  // ---- the rules

  /** F1 — `format_phone` (clean_and_write.py:97-111; fixtures
    * main.ipynb cell 17: "(360) 555-9999 ext. 1234" →
    * "+1-360-555-9999 x1234", "+1 306-398-8300" → "+1-360-398-8300").
    * The pipeline lives in [[graft.functions.PhoneFormat]], shared with
    * the SQL `format_phone`. */
  def formatPhone(num: String): String =
    if (num == null) null else PhoneFormat.formatString(num)

  /** F2 — `clean_street_type` (clean_and_write.py:66-77): returns
    * `(street, unit)`. If the last token contains `#` it's a unit —
    * pop it; map the (new) last token through StreetTypeMap. The
    * reference's single-token leading-space artifact is preserved (the
    * join of an empty prefix with the mapped type), and a unit-only
    * value ("#215", where the reference's python IndexErrors) gives an
    * empty street with the unit kept.
    */
  def cleanStreet(street: String): (String, String) = {
    if (street == null) return (null, null)
    val toks0 = split(street, " ")
    val hasUnit = toks0.last.contains("#")
    val unit = if (hasUnit) toks0.last else null
    val toks = if (hasUnit) toks0.init else toks0
    val mapped = if (toks.nonEmpty) StreetTypeMap.getOrElse(toks.last, null) else null
    val cleaned =
      if (mapped != null) toks.init.mkString(" ") + " " + mapped
      else toks.mkString(" ")
    (cleaned, unit)
  }

  /** F3 — `audit_addr` (clean_and_write.py:80-94): per-subkey addr
    * cleaning. Returns `(value, unit)` (unit non-null only for street
    * values that carried one).
    */
  def auditAddr(subKey: String, v: String): (String, String) = subKey match {
    case "street" => cleanStreet(v)
    case "unit" if v != null && StreetTypeMap.contains(substr(v, 1, 3)) =>
      (StreetTypeMap(substr(v, 1, 3)) + substr(v, 4, numChars(v) - 3), null)
    case "housename" if v != null =>
      (split(v, " ").filter(_ != "LLC").map(w => initcap(lower(w))).mkString(" "), null)
    case "postcode" if v != null =>
      val p = substr(v, 1, 5)
      (if (p == "99248") "98248" else p, null)
    case _ => (v, null)
  }

  /** F6 — `handle_list_keys` (clean_and_write.py:168-179):
    * `;`-separated values split + trimmed; values without `;` become a
    * singleton (untrimmed, faithfully). */
  def handleListKeys(v: String): Array[String] =
    if (v != null && v.contains(";")) split(v, ";").map(trim) else Array(v)

  /** F7 — `handle_bools` (clean_and_write.py:182-192): lowercase;
    * yes→true, no→false, null when not a bool (callers keep the
    * lowercased string alongside, mirroring the reference's
    * union(string|bool) fields). */
  def boolValue(v: String): java.lang.Boolean = lower(v) match {
    case "yes" => java.lang.Boolean.TRUE
    case "no" => java.lang.Boolean.FALSE
    case _ => null
  }

  /** The string face of F7: what the reference stores when the value
    * isn't yes/no — the lowercased original. */
  def boolResidual(v: String): String = if (boolValue(v) == null) lower(v) else null

  /** F8 — `misc_val_edits` (clean_and_write.py:195-227), string rules
    * only (int/float promotion is [[intValue]]/[[floatValue]]).
    * Includes the reference's deliberate `kerb: rised→rasied` typo and
    * the `type` no-op (a `==` that was meant to be `=`; preserved as a
    * no-op). `is_in*` canonical lists are handled in the shaper (array
    * output).
    */
  def miscValEditsStr(k: String, v: String): String = k match {
    case "shop" if v == "Cannabis" || v == "Parcel_Shipping" => lower(v)
    case "inscription" if v == "Inscriptions too long to input, see Description." =>
      "Inscription's too long to input; see description."
    case "designation" if v != null => split(lower(v), "\\s+").mkString("_")
    case "denomination" if v == "Non-denominational" => "nondenominational"
    case "access" if v == "privatem" => "private"
    case "kerb" if v == "rised" => "rasied"
    case "width" if v == "10'" => "10 feet"
    case "office" if v == "Whatcom_Educational_Credit_Union" => "credit_union"
    case _ => v
  }

  /** F8 int promotion — `int(float(v))`, truncating (clean_and_write
    * .py:218-219), as `try_cast` string → double → long: an
    * unparseable, NaN, infinite or out-of-long-range value is null
    * (the null-on-bad-input contract documented on [[floatValue]]). */
  def intValue(v: String): java.lang.Long = {
    val d = toDouble(v)
    // Spark's exact double → long range test (DoubleExactNumeric.toLong,
    // whose overflow error try_cast turns into null; NaN fails it too)
    if (d == null || !(math.floor(d) <= Long.MaxValue && math.ceil(d) >= Long.MinValue)) null
    else d.longValue
  }

  /** F8 float promotion — with the `building:levels "3s"→3` special
    * case and the quote-char guard on `maxheight` (clean_and_write
    * .py:220-226: values containing a quote char stay strings).
    *
    * Documented deviation: the reference's TO_FLOAT branch only ever
    * calls `float()` for `maxheight` — the other listed keys fall
    * through unconverted (the list's stated intent, "keys to store as
    * floats", is implemented for one key). We promote the whole list,
    * which is the intended semantics per SURVEY §7.4.5's policy.
    * Likewise unparseable numerics yield null here where the
    * reference's bare `int(float(v))` would raise. */
  def floatValue(k: String, v: String): java.lang.Double =
    if (k == "building:levels" && v == "3s") 3.0
    else if (k == "maxheight" && v != null && (v.contains("\"") || v.contains("'"))) null
    else toDouble(v)

  /** F9 — the key-fix pipeline (clean_and_write.py:283-299), applied
    * to keys that are not in the tiger/gnis/nist passthrough
    * namespaces: strip `contact:` prefix (keeping at most 100 of the
    * following parts), strip a trailing `_<digit>`, rename via
    * WrongKeyMap. (The `gnis:ST_alph` rename and `gnis:County_num`
    * zero-pad are namespace-internal fixes applied in the shaper
    * before the passthrough check, as in the reference.)
    */
  def fixKey(k: String): String = {
    if (k == null) return null
    val parts = split(k, ":")
    val noContact = if (parts(0) == "contact") parts.slice(1, 101).mkString(":") else k
    val noSubnum =
      if (SubnumRe.matcher(noContact).find()) substr(noContact, 1, numChars(noContact) - 2)
      else noContact
    WrongKeyMap.getOrElse(noSubnum, noSubnum)
  }

  /** P6 — problem-character key filter (clean_and_write.py:14,283). */
  def hasProblemChars(k: String): java.lang.Boolean =
    if (k == null) null else ProblemRe.matcher(k).find()

  // ---- Column faces: one kernel call each into the functions above

  /** The rules take and give SQL NULL themselves. */
  private def call(fn: String, dt: DataType, args: Column*): Column =
    ColumnBridge.column(Kernel(CleanFnsCatalyst, fn, dt, args.map(_ => StringType),
      propagateNull = false)(args.map(ColumnBridge.expression): _*))

  /** F1 as a Column: the SQL `format_phone`. */
  def formatPhone(num: Column): Column =
    ColumnBridge.column(PhoneFormat.expr(ColumnBridge.expression(num)))

  /** F2 as a Column: `struct(street, unit)`. */
  def cleanStreet(street: Column): Column = call("cleanStreet",
    StructType(Seq(StructField("street", StringType), StructField("unit", StringType))), street)

  /** F3 as a Column: `struct(value, unit)`. */
  def auditAddr(subKey: Column, v: Column): Column = call("auditAddr",
    StructType(Seq(StructField("value", StringType), StructField("unit", StringType))), subKey, v)

  def handleListKeys(v: Column): Column = call("handleListKeys", ArrayType(StringType), v)

  def boolValue(v: Column): Column = call("boolValue", BooleanType, v)

  def boolResidual(v: Column): Column = call("boolResidual", StringType, v)

  def miscValEditsStr(k: Column, v: Column): Column = call("miscValEditsStr", StringType, k, v)

  def intValue(v: Column): Column = call("intValue", LongType, v)

  def floatValue(k: Column, v: Column): Column = call("floatValue", DoubleType, k, v)

  def fixKey(k: Column): Column = call("fixKey", StringType, k)

  def hasProblemChars(k: Column): Column = call("hasProblemChars", BooleanType, k)
}

/** [[CleanFns]] in Catalyst's value types, for the `StaticInvoke`
  * calls of its `Column` faces (public because generated code calls
  * them): `UTF8String` in, Catalyst values out, nulls as in CleanFns. */
object CleanFnsCatalyst {
  private def s(u: UTF8String): String = if (u == null) null else u.toString
  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  private def row(p: (String, String)): InternalRow =
    new GenericInternalRow(Array[Any](u(p._1), u(p._2)))

  def cleanStreet(v: UTF8String): InternalRow = row(CleanFns.cleanStreet(s(v)))
  def auditAddr(k: UTF8String, v: UTF8String): InternalRow = row(CleanFns.auditAddr(s(k), s(v)))
  def handleListKeys(v: UTF8String): ArrayData =
    new GenericArrayData(CleanFns.handleListKeys(s(v)).map[Any](u))
  def boolValue(v: UTF8String): java.lang.Boolean = CleanFns.boolValue(s(v))
  def boolResidual(v: UTF8String): UTF8String = u(CleanFns.boolResidual(s(v)))
  def miscValEditsStr(k: UTF8String, v: UTF8String): UTF8String =
    u(CleanFns.miscValEditsStr(s(k), s(v)))
  def intValue(v: UTF8String): java.lang.Long = CleanFns.intValue(s(v))
  def floatValue(k: UTF8String, v: UTF8String): java.lang.Double =
    CleanFns.floatValue(s(k), s(v))
  def fixKey(k: UTF8String): UTF8String = u(CleanFns.fixKey(s(k)))
  def hasProblemChars(k: UTF8String): java.lang.Boolean = CleanFns.hasProblemChars(s(k))
}
