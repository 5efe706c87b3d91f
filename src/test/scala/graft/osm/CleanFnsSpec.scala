package graft.osm

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Unit fixtures for the cleaning library — the input→output pairs the
  * reference publishes in its notebook (main.ipynb cells 14, 17,
  * 19-23), plus the documented edge semantics.
  */
class CleanFnsSpec extends SparkSpec {
  import spark.implicits._

  private def phone(in: String): String =
    Seq(in).toDF("v").select(CleanFns.formatPhone(col("v"))).as[String].head()

  test("formatPhone: notebook cell-17 fixtures") {
    assert(phone("(360) 555-9999 ext. 1234") == "+1-360-555-9999 x1234")
    assert(phone("+1 306-398-8300") == "+1-360-398-8300")
  }

  test("formatPhone: already-formatted passes through (documented fix " +
    "of the reference's empty-string fallthrough)") {
    assert(phone("+1-360-398-8300") == "+1-360-398-8300")
  }

  test("formatPhone: country code added, 306 typo only at area-code position") {
    assert(phone("360-306-1234") == "+1-360-306-1234") // 306 beyond AC untouched
    assert(phone("306-555-1234") == "+1-360-555-1234")
    assert(phone("1 306 555 1234") == "+1-360-555-1234")
  }

  private def street(in: String): (String, Option[String]) = {
    val r = Seq(in).toDF("v").select(CleanFns.cleanStreet(col("v")).as("s"))
      .select(col("s.street"), col("s.unit")).as[(String, Option[String])].head()
    r
  }

  test("cleanStreet: notebook cell-23 fixtures") {
    assert(street("North Forest St.") == ("North Forest Street", None))
    assert(street("Ellis Street #215") == ("Ellis Street", Some("#215")))
    assert(street("West Bakerview") == ("West Bakerview Road", None))
    assert(street("Guide Meridian") == ("Guide Meridian Road", None))
    assert(street("Meadowbrook Count") == ("Meadowbrook Court", None))
    assert(street("Chuckanut Drive North") == ("Chuckanut Drive North", None))
  }

  test("cleanStreet: single-token quirk preserved (reference joins an " +
    "empty prefix)") {
    assert(street("Ave") == (" Avenue", None))
  }

  test("cleanStreet: unit-only value keeps the unit, empty street " +
    "(the reference's python IndexErrors here)") {
    assert(street("#215") == ("", Some("#215")))
  }

  private def addr(k: String, v: String): String =
    Seq(v).toDF("v")
      .select(CleanFns.auditAddr(org.apache.spark.sql.functions.lit(k), col("v"))
        .getField("value")).as[String].head()

  test("auditAddr: housename capitalization drops LLC") {
    assert(addr("housename", "the bakery LLC") == "The Bakery")
  }

  test("auditAddr: postcode truncation and 99248 typo") {
    assert(addr("postcode", "99248") == "98248")
    assert(addr("postcode", "98225-1234") == "98225")
  }

  test("auditAddr: unit prefix expansion") {
    assert(addr("unit", "St.201") == "Street201")
  }

  test("handleListKeys: semicolon split+trim, singleton untrimmed") {
    val out = Seq("a; b;c").toDF("v")
      .select(CleanFns.handleListKeys(col("v"))).as[Seq[String]].head()
    assert(out == Seq("a", "b", "c"))
    val single = Seq(" solo ").toDF("v")
      .select(CleanFns.handleListKeys(col("v"))).as[Seq[String]].head()
    assert(single == Seq(" solo "))
  }

  test("boolValue / boolResidual: yes/no/other") {
    val df = Seq("yes", "No", "Maybe").toDF("v")
      .select(CleanFns.boolValue(col("v")).as("b"),
        CleanFns.boolResidual(col("v")).as("r"))
      .as[(Option[Boolean], Option[String])].collect().toSeq
    assert(df == Seq((Some(true), None), (Some(false), None),
      (None, Some("maybe"))))
  }

  test("boolValue / boolResidual lowercase exactly as Spark SQL lower() " +
    "under both ICU case-mapping settings, ASCII and non-ASCII alike") {
    import org.apache.spark.sql.functions.lower
    val in = Seq("yes", "YES", "No", "MiXeD Case 42 !?", "", "Ｙｅｓ", "İ", "ſ",
      "\u212AEY", "ÀB", null).toDF("v")
    for (icu <- Seq("true", "false")) {
      spark.conf.set("spark.sql.icu.caseMappings.enabled", icu)
      try {
        val got = in.select(col("v"), lower(col("v")),
            CleanFns.boolValue(col("v")), CleanFns.boolResidual(col("v")))
          .as[(String, String, Option[Boolean], Option[String])].collect().toSeq
        for ((v, low, b, r) <- got) {
          val want = low match {
            case "yes" => (Some(true), None)
            case "no" => (Some(false), None)
            case _ => (None, Option(low))
          }
          assert((b, r) == want, s"icu=$icu, v=$v: lower() is $low")
        }
      } finally spark.conf.unset("spark.sql.icu.caseMappings.enabled")
    }
  }

  test("miscValEdits: the reference's one-off value rules (incl. the " +
    "deliberate kerb typo)") {
    def m(k: String, v: String): String =
      Seq(v).toDF("v").select(CleanFns.miscValEditsStr(
        org.apache.spark.sql.functions.lit(k), col("v"))).as[String].head()
    assert(m("kerb", "rised") == "rasied")
    assert(m("designation", "Public Footpath") == "public_footpath")
    assert(m("access", "privatem") == "private")
    assert(m("width", "10'") == "10 feet")
    assert(m("denomination", "Non-denominational") == "nondenominational")
    assert(m("office", "Whatcom_Educational_Credit_Union") == "credit_union")
    assert(m("type", "MultiPolygon") == "MultiPolygon") // the no-op bug, kept
  }

  test("numeric promotions: truncating int cast, float special cases") {
    def iv(v: String): Option[Long] =
      Seq(v).toDF("v").select(CleanFns.intValue(col("v"))).as[Option[Long]].head()
    assert(iv("2") contains 2L)
    assert(iv("3.7") contains 3L) // int(float(v)) truncates
    def fv(k: String, v: String): Option[Double] =
      Seq(v).toDF("v").select(CleanFns.floatValue(
        org.apache.spark.sql.functions.lit(k), col("v"))).as[Option[Double]].head()
    assert(fv("building:levels", "3s") contains 3.0)
    assert(fv("maxheight", "4.5") contains 4.5)
    assert(fv("maxheight", "4'5\"").isEmpty) // quote guard: stays string
    // ANSI mode: unparseable numerics null out instead of aborting
    assert(iv("unknown").isEmpty)
    assert(fv("level", "~3").isEmpty)
  }

  test("fixKey: contact strip, trailing _N strip, wrong-key map") {
    def fk(k: String): String =
      Seq(k).toDF("k").select(CleanFns.fixKey(col("k"))).as[String].head()
    assert(fk("contact:phone") == "phone")
    assert(fk("name_1") == "name")
    assert(fk("image") == "wikimedia_commons")
    assert(fk("maxspeed:type") == "source:maxspeed")
    assert(fk("highway") == "highway")
  }
}
