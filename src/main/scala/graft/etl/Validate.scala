package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A4/A9 + B2-B5: quarantine-don't-crash validation.
  *
  * The reference diverts invalid rows to `invalid_stg_*` tables with an
  * error message and (for observations) a `to_jsonb(stg)` row snapshot,
  * then deletes them from staging (02_ETL1_part1.sql:30-35,
  * 03_ETL1_part2.sql:53-74, 04_ETL1_part3.sql:157-235). Two modes exist in
  * the reference and both are preserved:
  *  - firstMatch: insert+delete per rule — a row lands in quarantine once,
  *    under the first failing rule (04_ETL1_part3.sql:158-172).
  *  - allMatches: several inserts then one delete — a row failing several
  *    rules is quarantined once PER failing rule (04_ETL1_part3.sql:174-235).
  */
object Validate {

  /** One validation rule: rows where `failed` is true get `problem`. */
  final case class Rule(problem: String, failed: Column)

  /** `to_jsonb(stg)` analog (04_ETL1_part3.sql:162): JSON snapshot of the
    * full staging row, attached to every quarantined record. jsonb keeps
    * null fields; Spark's to_json drops them unless told otherwise. */
  def rowSnapshot(df: DataFrame): Column =
    to_json(struct(df.columns.toIndexedSeq.map(col): _*), Map("ignoreNullFields" -> "false"))

  /** Split staging into (valid, quarantined) with first-failing-rule-wins
    * semantics. Quarantine rows carry error_message + row_data snapshot. */
  def splitFirstMatch(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val firstError = rules.foldRight(lit(null).cast("string")) { (r, rest) =>
      when(r.failed, r.problem).otherwise(rest)
    }
    val tagged = df.withColumn("error_message", firstError)
    val valid = tagged.filter(col("error_message").isNull).drop("error_message")
    val invalid = tagged.filter(col("error_message").isNotNull)
      .withColumn("row_data", rowSnapshot(df))
    (valid, invalid)
  }

  /** Split with one quarantine row PER failing rule (multi-insert shape,
    * 04_ETL1_part3.sql:174-235): valid = rows failing no rule.
    *
    * The quarantine side is ONE pass: each row is tagged with the array of
    * its failed-rule messages and exploded — not one filtered branch per
    * rule unioned (which re-evaluates the full staging lineage once per
    * rule; at the 100 TB staging front door that multiplied the quarantine
    * stage ~rules-fold). Same rows, rule order preserved within a row.
    */
  def splitAllMatches(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val anyFailed = rules.map(_.failed).reduce(_ || _)
    val valid = df.filter(!coalesce(anyFailed, lit(false)))
    val failedArr = filter(
      array(rules.map(r => when(coalesce(r.failed, lit(false)), lit(r.problem))): _*),
      m => m.isNotNull)
    val invalid = df
      .withColumn("_failed", failedArr)
      .filter(size(col("_failed")) > 0)
      .withColumn("error_message", explode(col("_failed")))
      .withColumn("row_data", rowSnapshot(df))
      .drop("_failed")
    (valid, invalid)
  }

  // ------------------------------------------------------- reference rules

  /** Institutions: null name (02_ETL1_part1.sql:30-35). */
  val institutionRules: Seq[Rule] = Seq(
    Rule("Missing institution name.", col("institution").isNull))

  /** Users: missing required field or unparsable date
    * (03_ETL1_part2.sql:53-74) — one compound rule, one message. */
  val userRules: Seq[Rule] = {
    val required = Seq("full_name", "username", "email", "institution",
      "subscription_type", "join_date", "subscription_start", "affiliation_start")
    val missing = required.map(c => col(c).isNull || col(c) === "").reduce(_ || _)
    // try_to_date, not to_date: under ANSI (the Spark 4 default) to_date
    // THROWS on a malformed value — crashing on exactly the rows this rule
    // exists to quarantine. try_to_date returns null instead.
    val badDate = Seq("join_date", "subscription_start", "affiliation_start")
      .map(c => expr(s"try_to_date($c, 'yyyy-MM-dd')").isNull).reduce(_ || _)
    Seq(Rule("missing required field or invalid date format", missing || badDate))
  }

  /** NA→NULL then TRIM('')→NULL scrub over every staging column
    * (04_ETL1_part3.sql:117-154). */
  def scrubObs(df: DataFrame): DataFrame =
    Schemas.obsStaging.foldLeft(df) { (d, c) =>
      d.withColumn(c, nullif(trim(nullif(col(c), lit("NA"))), lit("")))
    }

  // try_cast, not cast: under ANSI mode a malformed value inside a
  // short-circuited OR can still throw via common-subexpression
  // elimination; the reference's regex pre-guard makes null-on-failure the
  // correct semantic anyway. DOUBLE, not a fixed-width DECIMAL: a
  // regex-valid value with 7+ integer digits overflows DECIMAL(12,6) and
  // try_cast's null would let it BYPASS the range check as "valid", only to
  // blow up in the downstream decimal(9,6) casts.
  private def badNum(c: String, lo: Double, hi: Double): Column =
    col(c).isNotNull && (!col(c).rlike("^-?\\d+(\\.\\d+)?$") ||
      expr(s"try_cast($c AS DOUBLE)") < lo ||
      expr(s"try_cast($c AS DOUBLE)") > hi)

  private def badIntRange(c: String, lo: Int, hi: Int): Column =
    col(c).isNotNull && (!col(c).rlike("^\\d{1,2}$") ||
      !expr(s"try_cast($c AS INT)").between(lo, hi))

  /** The observation rule battery (04_ETL1_part3.sql:158-229), in reference
    * order. Rule 1 runs firstMatch (insert+delete); rules 2-6 run
    * allMatches on the remainder — see [[validateObservations]]. */
  val obsMissingRule: Rule =
    Rule("Missing required plant species, pollinator species, or author",
      col("plant_species").isNull || col("plant_species") === "" ||
        col("pollinator_species").isNull || col("pollinator_species") === "" ||
        col("authors").isNull || col("authors") === "")

  val obsValidityRules: Seq[Rule] = Seq(
    Rule("Invalid latitude or longitude",
      badNum("latitude", -90, 90) || badNum("longitude", -180, 180)),
    Rule("Invalid interaction count",
      col("interactions").isNotNull && (!col("interactions").rlike("^\\d+$") ||
        // digit strings beyond Int.MaxValue pass the regex but would
        // overflow the downstream int cast — quarantine them here
        expr("try_cast(interactions AS INT)").isNull)),
    Rule("Invalid date component (day, month, or year)",
      badIntRange("obs_date", 1, 31) || badIntRange("obs_month", 1, 12) ||
        (col("obs_year").isNotNull && (!col("obs_year").rlike("^\\d{4}$") ||
          !expr("try_cast(obs_year AS INT)").between(1800, 2100)))),
    Rule("Invalid pollination value",
      col("pollination").isNotNull && !col("pollination").rlike("^[1-4]$")),
    Rule("Invalid pollen or nectar value",
      (col("pollen").isNotNull && !upper(col("pollen")).isin("Y", "N")) ||
        (col("nectar").isNotNull && !upper(col("nectar")).isin("Y", "N"))))

  /** Full observation validation: scrub, then the reference's two-phase
    * quarantine. Returns (valid staging, quarantine). */
  def validateObservations(stg: DataFrame): (DataFrame, DataFrame) =
    splitObservations(scrubObs(stg))

  /** The reference's two-phase quarantine over already-scrubbed staging
    * (the scrub is not idempotent: " NA " scrubs to "NA", then to NULL).
    * Returns (valid staging, quarantine). */
  def splitObservations(scrubbed: DataFrame): (DataFrame, DataFrame) = {
    val (afterMissing, qMissing) = splitFirstMatch(scrubbed, Seq(obsMissingRule))
    val (valid, qInvalid) = splitAllMatches(afterMissing, obsValidityRules)
    val quarantineCols = Seq("raw_data_id", "error_message", "row_data").map(col)
    (valid, qMissing.select(quarantineCols: _*)
      .unionAll(qInvalid.select(quarantineCols: _*)))
  }
}
