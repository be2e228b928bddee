package graft.etl

import java.nio.file.Files
import java.sql.Date

import scala.util.Try

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end EP1+EP2 over the REAL reference mock CSVs plus the synthesized
  * DOPI fixture (SURVEY.md §5 golden test). Asserts the load-bearing
  * semantics the reference documents: SCD2 end-dating, DISTINCT ON dedup,
  * duplicate-tolerant observation loads, placeholder-January, quarantine
  * classes, priority affiliation resolution, and star-schema grain
  * uniqueness.
  */
class EtlPipelineSpec extends SparkSpec {

  /** Landing boundary (suite wall-clock, VERDICT r15 #1): the OLTP tables
    * are handful-of-rows frames on ENORMOUS lazy EP1 lineage (author NLJ +
    * priority resolution per observation), and every assertion below used
    * to re-plan and re-execute that whole chain per action — the EP2/grain
    * tests alone cost 396 s + 268 s of the suite's 39-minute wall.
    * Pipeline.run lands each OLTP, star and fact table once (the A3/A12
    * handoff), so the assertions see exactly the pipeline's output rows.
    * The run's outcome is kept, failure included: a run that throws is not
    * retried by every later test. */
  private lazy val outcome: Try[Map[String, org.apache.spark.sql.DataFrame]] = Try {
    val dir = Files.createTempDirectory("graft-etl")
    val dopi = DopiFixture.write(dir)
    Pipeline.run(spark,
      "/root/reference/01_data_raw/institutions_mock.csv",
      "/root/reference/01_data_raw/users_mock.csv",
      dopi)
  }
  private def tables: Map[String, org.apache.spark.sql.DataFrame] = outcome.get

  test("institutions: 10 CSV rows + seeded Unaffiliated, none quarantined") {
    assert(tables("institutions").count() === 11)
    assert(tables("invalid_stg_institutions").count() === 0)
  }

  test("users: 36 staging rows dedup to 31 users via DISTINCT ON earliest join_date") {
    assert(tables("users").count() === 31)
    assert(tables("invalid_stg_users").count() === 0)
  }

  test("name-split: dotted names split, plain names pass through whole") {
    val u = tables("users").select("username", "first_name_or_initials", "last_name")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(u("chapdude63") === (("R. E.", "Chapman")))
    assert(u("sarah764") === (("Sarah A.", "Corbet")))
    // no '%.% %' pattern → whole string is the last name
    assert(u("nlnhs") === ((null, "The North London Natural History Society")))
  }

  test("SCD2 subscriptions: chapdude63 Free closed the day before BeeWatch+ starts") {
    val subs = tables("user_subscription")
      .join(tables("users").filter(col("username") === "chapdude63"), Seq("user_id"))
      .join(tables("subscription_types"), Seq("subscription_type_id"))
      .select("type_name", "start_date", "end_date")
      .collect().map(r => (r.getString(0), r.getDate(1), r.getDate(2))).toSet
    assert(subs === Set(
      ("Free", Date.valueOf("2018-04-08"), Date.valueOf("2020-04-09")),
      ("BeeWatch+", Date.valueOf("2020-04-10"), null)))
  }

  test("SCD2 affiliations: end-dating + exactly one open interval per user") {
    val chap = tables("user_institution")
      .join(tables("users").filter(col("username") === "chapdude63"), Seq("user_id"))
      .join(tables("institutions"), Seq("institution_id"))
      .select("institution_name", "start_date", "end_date")
      .collect().map(r => (r.getString(0), r.getDate(1), r.getDate(2))).toSet
    assert(chap === Set(
      ("The Bumblebee Behaviour Bureau", Date.valueOf("2018-04-08"), Date.valueOf("2019-01-06")),
      ("Centre for Cross-Pollination Strategy and Research", Date.valueOf("2019-01-07"), null)))
    val openPerUser = tables("user_institution")
      .groupBy("user_id")
      .agg(sum(when(col("end_date").isNull, 1).otherwise(0)).as("n_open"))
      .filter(col("n_open") =!= 1).count()
    assert(openPerUser === 0)
  }

  test("observation validation: 8 valid, 7 quarantine entries (one row twice)") {
    assert(tables("observations").count() === DopiFixture.expectedObservations)
    val q = tables("invalid_stg_insect_observations")
    val entries = q.select("raw_data_id", "error_message").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(entries.length === DopiFixture.expectedQuarantineEntries)
    // the lat+interactions row is quarantined once per failing rule
    assert(q.groupBy("raw_data_id").count().filter(col("count") === 2).count() === 1)
    // row_data carries the full JSON snapshot
    assert(q.filter(col("row_data").contains("\"plant_species\"")).count() === q.count())
  }

  test("duplicate-tolerant load: the full-duplicate row survives twice (README.md:19)") {
    val dupDates = tables("observations")
      .filter(col("observation_date") === Date.valueOf("2018-06-15"))
    assert(dupDates.count() === 2)
    assert(dupDates.select("observation_id").distinct().count() === 2)
  }

  test("placeholder-January: missing month assembles to YYYY-01-01") {
    assert(tables("observations")
      .filter(col("observation_date") === Date.valueOf("2023-01-01")).count() === 1)
  }

  test("day clamp: 31 April corrected to 30 April before date assembly") {
    assert(tables("observations")
      .filter(col("observation_date") === Date.valueOf("2019-04-30")).count() === 1)
  }

  test("priority resolution: in-range beats earliest; class-3 falls back to earliest start") {
    val obs = tables("observations")
      .join(tables("user_institution"), Seq("user_institution_id"))
      .join(tables("institutions"), Seq("institution_id"))
      .select(col("observation_date"), col("institution_name"))
      .collect().map(r => (r.getDate(0), r.getString(1)))
    // class 1: 2018-06-15 (both copies) in Bureau's interval
    assert(obs.count(_ == ((Date.valueOf("2018-06-15"), "The Bumblebee Behaviour Bureau"))) === 2)
    // class 1 after clamp: 2019-04-30 under the open-ended Centre affiliation
    assert(obs.contains((Date.valueOf("2019-04-30"),
      "Centre for Cross-Pollination Strategy and Research")))
    // class 3: 2010-05-10 precedes both → earliest start (Bureau) wins
    assert(obs.contains((Date.valueOf("2010-05-10"), "The Bumblebee Behaviour Bureau")))
    // class 2: undated row maps to the open-ended affiliation (Centre)
    assert(obs.contains((null, "Centre for Cross-Pollination Strategy and Research")))
  }

  test("species normalization quirk preserved: mixed-case staging row drops from observations") {
    // r7 ('apis Mellifera', 2018-06-16) normalizes into the dim but the
    // final FK join is exact-case → the observation is dropped
    assert(tables("observations")
      .filter(col("observation_date") === Date.valueOf("2018-06-16")).count() === 0)
    assert(tables("pollinator_species")
      .filter(col("species_name") === "Apis mellifera").count() === 1)
  }

  test("A5 append sink: re-running the observation load doubles the table (README.md:19)") {
    // ETL1's observation load is INSERT INTO … SELECT with no key guard —
    // re-running it doubles the table by design. The Spark sink analog is
    // write.mode("append") on the table directory.
    val out = Files.createTempDirectory("graft-append").resolve("observations").toString
    val obs = tables("observations")
    obs.write.mode("append").parquet(out)
    obs.write.mode("append").parquet(out)
    val reread = spark.read.parquet(out)
    assert(reread.count() === 2 * obs.count())
    assert(reread.select("observation_id").distinct().count() === obs.count())
  }

  test("OLAP dims: dim_user covers users; dim_date has one row per observed month") {
    assert(tables("dim_user").count() === 31)
    val months = tables("dim_date").select("year", "month")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(months === Set((2018, 6), (2010, 5), (2019, 4), (2023, 1)))
  }

  test("OLAP facts: declared grains are unique (the ON CONFLICT arbiter keys)") {
    val fpa = tables("fact_pollination_activity")
    assert(fpa.count() === fpa.dropDuplicates("pollinator_sk", "caste_sk", "plant_sk",
      "habitat_sk", "location_sk", "date_sk").count())
    val fulm = tables("fact_user_location_monthly")
    assert(fulm.count() === fulm.dropDuplicates("user_sk", "location_sk", "date_sk",
      "institution_sk", "subscription_type_sk").count())
    val fums = tables("fact_user_monthly_summary")
    assert(fums.count() > 0)
    // the duplicate-tolerant pair lands as ONE fact row with count 2
    assert(tables("fact_pollination_activity")
      .filter(col("observation_count") === 2).count() >= 1)
  }
}
