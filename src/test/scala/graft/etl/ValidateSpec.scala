package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Per-class unit tests for the quarantine rule battery
  * (04_ETL1_part3.sql:158-229) on tiny in-memory frames.
  */
class ValidateSpec extends SparkSpec {

  private def stg(rows: Seq[(String, String, String, String)]) = {
    import spark.implicits._
    val base = rows.toDF("authors", "pollinator_species", "plant_species", "latitude")
    Schemas.obsStaging.filterNot(base.columns.contains)
      .foldLeft(base)((d, c) => d.withColumn(c, lit(null).cast("string")))
      .withColumn("raw_data_id", monotonically_increasing_id())
  }

  private def split(stg: DataFrame) = Validate.splitObservations(Validate.scrubObs(stg))

  test("scrub: 'NA' and whitespace-only become NULL, values are trimmed") {
    val (valid, _) = split(
      stg(Seq(("a", "  p  ", "NA", "  "), ("b", "q", "pl", "1.5"))))
    val rows = valid.select("authors", "pollinator_species", "plant_species", "latitude")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    // 'NA' plant → missing-species quarantine; whitespace lat → null
    assert(rows.toSet === Set(("b", "q", "pl", "1.5")))
  }

  test("first-match rule wins: missing species quarantined with that message only") {
    val (_, q) = split(
      stg(Seq((null, "p", "pl", "9999")))) // missing author AND bad latitude
    val msgs = q.select("error_message").collect().map(_.getString(0))
    assert(msgs === Array("Missing required plant species, pollinator species, or author"))
  }

  test("multi-match phase: one quarantine row per failing validity rule") {
    val df = stg(Seq(("a", "p", "pl", "91.5")))
      .withColumn("interactions", lit("three"))
      .withColumn("pollination", lit("7"))
    val (_, q) = split(df)
    val msgs = q.select("error_message").collect().map(_.getString(0)).toSet
    assert(msgs === Set(
      "Invalid latitude or longitude",
      "Invalid interaction count",
      "Invalid pollination value"))
  }

  test("range + regex edges: boundary values pass, out-of-range fail") {
    val df = stg(Seq(("a", "p", "pl", "-90"), ("b", "p", "pl", "90"),
      ("c", "p", "pl", "-90.0001"), ("d", "p", "pl", "not-a-number")))
    val (valid, q) = split(df)
    assert(valid.count() === 2)
    assert(q.filter(col("error_message") === "Invalid latitude or longitude").count() === 2)
  }

  test("pollen/nectar domain is case-insensitive Y/N") {
    val df = stg(Seq(("a", "p", "pl", null))).withColumn("pollen", lit("y"))
      .unionByName(stg(Seq(("b", "p", "pl", null))).withColumn("pollen", lit("X")))
    val (valid, q) = split(df)
    assert(valid.select("authors").collect().map(_.getString(0)).toSet === Set("a"))
    assert(q.select("error_message").collect().map(_.getString(0)).toSet ===
      Set("Invalid pollen or nectar value"))
  }

  test("multi-match phase: messages in rule order, no higher-order function in the plan") {
    val df = Validate.scrubObs(stg(Seq(("a", "p", "pl", "91.5")))
      .withColumn("interactions", lit("three"))
      .withColumn("pollination", lit("7")))
    val (_, q) = Validate.splitAllMatches(df, Validate.obsValidityRules)
    assert(q.select("error_message").collect().map(_.getString(0)) === Array(
      "Invalid latitude or longitude",
      "Invalid interaction count",
      "Invalid pollination value"))
    // a higher-order function (e.g. ArrayFilter) is a CodegenFallback: it
    // would evaluate the rule battery outside whole-stage codegen. The
    // analyzed plan, since the optimizer folds this local input away.
    val hofs = q.queryExecution.analyzed.flatMap(
      _.expressions.flatMap(_.collect { case h: HigherOrderFunction => h.prettyName }))
    assert(hofs.isEmpty, s"higher-order functions in the quarantine plan: $hofs")
  }

  test("ANSI hazards quarantine instead of crashing: overflow lat, huge interactions, junk year") {
    // each value passes (or nearly passes) the regex pre-guard but would
    // throw or corrupt under a plain ANSI cast — all must land in
    // quarantine, and the pipeline must not raise
    val df = stg(Seq(("a", "p", "pl", "1000000"))) // overflows DECIMAL(12,6)
      .withColumn("interactions", lit("99999999999")) // > Int.MaxValue
      .withColumn("obs_year", lit("18x5")) // 4 chars, non-numeric
    val (valid, q) = split(df)
    assert(valid.count() === 0)
    val msgs = q.select("error_message").collect().map(_.getString(0)).toSet
    assert(msgs === Set(
      "Invalid latitude or longitude",
      "Invalid interaction count",
      "Invalid date component (day, month, or year)"))
  }

  test("user rule: malformed date strings quarantine instead of crashing") {
    import spark.implicits._
    val base = Seq(
      ("Ann A.", "ann", "a@x.org", "Inst", "Free", "not-a-date", "2020-01-01", "2020-01-01"),
      ("Bob B.", "bob", "b@x.org", "Inst", "Free", "2020-01-01", "2020-01-01", "2020-01-01"))
      .toDF("full_name", "username", "email", "institution",
        "subscription_type", "join_date", "subscription_start", "affiliation_start")
    val df = Schemas.usersCsv.filterNot(base.columns.contains)
      .foldLeft(base)((d, c) => d.withColumn(c, lit(null).cast("string")))
    val (valid, q) = Validate.splitFirstMatch(df, Validate.userRules)
    assert(valid.select("username").collect().map(_.getString(0)).toSet === Set("bob"))
    assert(q.select("error_message").head().getString(0) ===
      "missing required field or invalid date format")
  }

  test("quarantine row_data is a JSON snapshot of the scrubbed staging row") {
    val (_, q) = split(stg(Seq(("a", "p", "NA", "1.0"))))
    val snapshot = q.select("row_data").head().getString(0)
    assert(snapshot.contains("\"authors\":\"a\""))
    assert(!snapshot.contains("plant_species\":\"NA\"")) // scrubbed to null first
  }
}
