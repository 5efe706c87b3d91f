package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.osm.CleanFns

/** The OSM cleaning library (graft.osm.CleanFns, SURVEY.md §2.7) under
  * the cross-engine oracle gate: deterministic dirty inputs are
  * synthesized from TPC-H keys, cleaned through the `Column` faces of
  * the engine's rules (the same functions the OSM shaping kernel
  * calls), and the oracle replays the same rules in SQL. (The
  * OSM-fixture behavior itself is unit-tested in graft.osm.CleanFnsSpec
  * / CleanFnsPinnedSpec / OsmEndToEndSpec; this proves the rules agree
  * with an independent SQL engine.)
  */
object CleanOps {

  /** f1 — F1 `format_phone` over synthesized dirty phones: four raw
    * shapes (parenthesized, 306-typo, bare 10-digit, extension'd)
    * driven by the customer key. */
  private def f1(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    val local = lpad((k % 10000).cast("string"), 4, "0")
    val raw = when(k % 4 === 0, concat(lit("(360) 555-"), local))
      .when(k % 4 === 1, concat(lit("306-555-"), local))
      .when(k % 4 === 2, concat(lit("360.555."), local))
      .otherwise(concat(lit("+1 360 555 "), local, lit(" ext. "), (k % 90 + 10).cast("string")))
    Tables.customer(s, d)
      .select(col("c_custkey"), raw.as("raw_phone"))
      .withColumn("clean_phone", CleanFns.formatPhone(col("raw_phone")))
  }

  /** f2 — F2 `clean_street_type` over synthesized streets: abbreviated
    * street types and `#`-unit suffixes driven by the part key. */
  private def f2(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val base = concat(initcap(split(col("p_name"), " ").getItem(0)), lit(" "))
    val raw = when(k % 5 === 0, concat(base, lit("Ave.")))
      .when(k % 5 === 1, concat(base, lit("St")))
      .when(k % 5 === 2, concat(base, lit("Street #"), (k % 400 + 100).cast("string")))
      .when(k % 5 === 3, concat(base, lit("Rd")))
      .otherwise(concat(base, lit("Boulevard")))
    Tables.part(s, d)
      .select(col("p_partkey"), raw.as("raw_street"))
      .withColumn("cleaned", CleanFns.cleanStreet(col("raw_street")))
      .select(col("p_partkey"), col("raw_street"),
        col("cleaned.street").as("street"), col("cleaned.unit").as("unit"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f1_phone_clean" -> (f1 _),
    "f2_street_clean" -> (f2 _)
  )

  // Oracle notes: DuckDB regexp_replace needs the 'g' flag for global
  // replacement (Spark's replaces all matches by default).
  val oracles: Map[String, String] = Map(
    "f1_phone_clean" -> """
      WITH r AS (
        SELECT c_custkey,
          CASE WHEN c_custkey % 4 = 0 THEN '(360) 555-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
               WHEN c_custkey % 4 = 1 THEN '306-555-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
               WHEN c_custkey % 4 = 2 THEN '360.555.' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
               ELSE '+1 360 555 ' || lpad((c_custkey % 10000)::VARCHAR, 4, '0') || ' ext. ' || (c_custkey % 90 + 10)::VARCHAR
          END AS raw_phone
        FROM customer),
      d0 AS (SELECT c_custkey, raw_phone,
               regexp_replace(raw_phone, '\D', '', 'g') AS dig FROM r),
      d1 AS (SELECT c_custkey, raw_phone,
               CASE WHEN regexp_matches(dig, '^1*306')
                    THEN regexp_replace(dig, '^(1*)306', '\1360') ELSE dig END AS dig
             FROM d0),
      d2 AS (SELECT c_custkey, raw_phone,
               CASE WHEN substr(dig,1,1) <> '1' THEN '1' || dig ELSE dig END AS dig
             FROM d1),
      d3 AS (SELECT c_custkey, raw_phone,
               CASE WHEN length(dig) > 12
                    THEN substr(dig,1,11) || ' x' || substr(dig,12)
                    ELSE dig END AS dig
             FROM d2)
      SELECT c_custkey, raw_phone,
        CASE WHEN regexp_matches(raw_phone, '^\+1-\d{3}-\d{3}-\d{4}$') THEN raw_phone
             ELSE '+' || substr(dig,1,1) || '-' || substr(dig,2,3) || '-'
                  || substr(dig,5,3) || '-' || substr(dig,8)
        END AS clean_phone
      FROM d3""",
    "f2_street_clean" -> """
      WITH r AS (
        SELECT p_partkey,
          (upper(substr(split_part(p_name,' ',1),1,1)) || lower(substr(split_part(p_name,' ',1),2))) || ' ' ||
          CASE WHEN p_partkey % 5 = 0 THEN 'Ave.'
               WHEN p_partkey % 5 = 1 THEN 'St'
               WHEN p_partkey % 5 = 2 THEN 'Street #' || (p_partkey % 400 + 100)::VARCHAR
               WHEN p_partkey % 5 = 3 THEN 'Rd'
               ELSE 'Boulevard' END AS raw_street
        FROM part),
      u AS (SELECT p_partkey, raw_street,
              string_split(raw_street, ' ') AS t0,
              CASE WHEN contains(list_extract(string_split(raw_street,' '), len(string_split(raw_street,' '))), '#')
                   THEN list_extract(string_split(raw_street,' '), len(string_split(raw_street,' ')))
              END AS unit
            FROM r),
      v AS (SELECT p_partkey, raw_street, unit,
              CASE WHEN unit IS NOT NULL THEN t0[1:len(t0)-1] ELSE t0 END AS toks
            FROM u),
      m AS (SELECT p_partkey, raw_street, unit, toks,
              CASE list_extract(toks, len(toks))
                WHEN 'Ave' THEN 'Avenue' WHEN 'Ave.' THEN 'Avenue'
                WHEN 'Blvd' THEN 'Boulevard' WHEN 'Bakerview' THEN 'Bakerview Road'
                WHEN 'Count' THEN 'Court' WHEN 'Dr' THEN 'Drive'
                WHEN 'Forest' THEN 'Forest Street' WHEN 'Hwy' THEN 'Highway'
                WHEN 'Meridian' THEN 'Meridian Road' WHEN 'Pkwy' THEN 'Parkway'
                WHEN 'Rd' THEN 'Road' WHEN 'Rd.' THEN 'Road' WHEN 'Road3' THEN 'Road'
                WHEN 'St' THEN 'Street' WHEN 'St.' THEN 'Street'
                WHEN 'Street,' THEN 'Street' WHEN 'Street\' THEN 'Street'
                WHEN 'street' THEN 'Street'
              END AS mapped
            FROM v)
      SELECT p_partkey, raw_street,
        CASE WHEN mapped IS NOT NULL
             THEN array_to_string(toks[1:len(toks)-1], ' ') || ' ' || mapped
             ELSE array_to_string(toks, ' ') END AS street,
        unit
      FROM m"""
  )
}
