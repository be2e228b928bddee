package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.{Land, SparkSpec}

/** The bench-scale fixture (EtlFixture) through EP1+EP2 at a small size:
  * proves the generated inputs actually exercise the pipeline (valid rows,
  * every quarantine class, duplicates, SCD2 versions) so the bench's
  * etl_pipeline number measures real work, not an empty or degenerate run.
  */
class EtlFixtureSpec extends SparkSpec {

  private val nObs = 1000

  /** Landed once, as in EtlPipelineSpec (suite wall-clock, VERDICT r15
    * #1): the grain-uniqueness assertions below fire several actions each,
    * and over lazy EP1+EP2 lineage this spec alone cost 421 s of the
    * 39-minute suite. runEtl1 lands its own tables; the EP2 ones are landed
    * here through the same seam. */
  private lazy val oltp: Map[String, org.apache.spark.sql.DataFrame] = {
    val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix"), nObs)
    Pipeline.runEtl1(spark, paths.institutions, paths.users, paths.observationsDir)
  }
  private lazy val dims =
    graft.olap.Dims.build(oltp).map { case (k, df) => k -> Land.ckpt(df) }
  private lazy val facts =
    graft.olap.Facts.build(oltp, dims).map { case (k, df) => k -> Land.ckpt(df) }

  test("staging keeps full duplicates: 1000 rows + every 100th twice") {
    val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix2"), nObs)
    val stg = Ingest.stageObservations(spark, paths.observationsDir)
    assert(stg.count() === nObs + nObs / 100)
    assert(stg.select("raw_data_id").distinct().count() === nObs + nObs / 100)
  }

  test("users load: one user per generated identity, none quarantined") {
    assert(oltp("users").count() === 50) // max(50, 1000/50)
    assert(oltp("invalid_stg_users").count() === 0)
    // multi-version users produce >1 SCD2 subscription interval
    val versions = oltp("user_subscription").groupBy("user_id").count()
    assert(versions.filter(col("count") > 1).count() > 0)
  }

  test("observations split: valid rows land, every quarantine class fires") {
    assert(oltp("observations").count() > 0)
    val q = oltp("invalid_stg_insect_observations")
    val messages = q.select("error_message").distinct()
      .collect().map(_.getString(0)).toSet
    assert(messages.contains("Missing required plant species, pollinator species, or author"))
    assert(messages.contains("Invalid latitude or longitude"))
    assert(messages.contains("Invalid interaction count"))
  }

  test("EP2 over the fixture: dims populated, fact grains unique") {
    assert(dims("dim_user").count() === 50)
    assert(dims("dim_date").count() > 0)
    val fpa = facts("fact_pollination_activity")
    assert(fpa.count() > 0)
    assert(fpa.count() === fpa.dropDuplicates("pollinator_sk", "caste_sk", "plant_sk",
      "habitat_sk", "location_sk", "date_sk").count())
    val fums = facts("fact_user_monthly_summary")
    assert(fums.count() > 0)
    assert(fums.count() === fums.dropDuplicates("user_sk", "date_sk",
      "institution_sk", "subscription_type_sk").count())
  }

  test("runEtl1 lands every table it returns; cleanup releases every pin it took") {
    val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix3"), nObs)
    val sc = spark.sparkContext
    // earlier suites in this JVM may leave cache entries; EP1 must add none
    spark.catalog.clearCache()
    val pinsBefore = sc.getPersistentRDDs.keySet
    val tables = Pipeline.runEtl1(spark, paths.institutions, paths.users, paths.observationsDir)
    // landed: reading a returned table scans its landed rows, never a CSV
    val scanning = tables.collect { case (name, df)
      if df.queryExecution.sparkPlan.exists(_.isInstanceOf[FileSourceScanExec]) => name }
    assert(scanning.isEmpty, s"tables still planned over the input files: $scanning")
    assert(sc.getPersistentRDDs.keySet.size > pinsBefore.size)
    Pipeline.cleanup(spark)
    assert(sc.getPersistentRDDs.keySet === pinsBefore)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
