package graft.etl

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
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
    * 39-minute suite. Pipeline.run lands every EP1 and EP2 table. */
  private lazy val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix"), nObs)
  private lazy val tables: Map[String, DataFrame] =
    Pipeline.run(spark, paths.institutions, paths.users, paths.observationsDir)

  test("staging keeps full duplicates: 1000 rows + every 100th twice") {
    val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix2"), nObs)
    val stg = Ingest.stageObservations(spark, paths.observationsDir)
    assert(stg.count() === nObs + nObs / 100)
    assert(stg.select("raw_data_id").distinct().count() === nObs + nObs / 100)
  }

  test("users load: one user per generated identity, none quarantined") {
    assert(tables("users").count() === 50) // max(50, 1000/50)
    assert(tables("invalid_stg_users").count() === 0)
    // multi-version users produce >1 SCD2 subscription interval
    val versions = tables("user_subscription").groupBy("user_id").count()
    assert(versions.filter(col("count") > 1).count() > 0)
  }

  test("observations split: valid rows land, every quarantine class fires") {
    assert(tables("observations").count() > 0)
    val q = tables("invalid_stg_insect_observations")
    val messages = q.select("error_message").distinct()
      .collect().map(_.getString(0)).toSet
    assert(messages.contains("Missing required plant species, pollinator species, or author"))
    assert(messages.contains("Invalid latitude or longitude"))
    assert(messages.contains("Invalid interaction count"))
  }

  test("EP2 over the fixture: dims populated, fact grains unique") {
    assert(tables("dim_user").count() === 50)
    assert(tables("dim_date").count() > 0)
    val fpa = tables("fact_pollination_activity")
    assert(fpa.count() > 0)
    assert(fpa.count() === fpa.dropDuplicates("pollinator_sk", "caste_sk", "plant_sk",
      "habitat_sk", "location_sk", "date_sk").count())
    val fums = tables("fact_user_monthly_summary")
    assert(fums.count() > 0)
    assert(fums.count() === fums.dropDuplicates("user_sk", "date_sk",
      "institution_sk", "subscription_type_sk").count())
  }

  test("runEtl1 lands every table it returns; cleanup releases every pin it took") {
    val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix3"), nObs)
    val sc = spark.sparkContext
    // earlier suites in this JVM may leave cache entries; a run must add none
    spark.catalog.clearCache()
    // runEtl1 returns the 19 EP1 tables; run adds the 10 dims and 3 facts
    Seq(19 -> Pipeline.runEtl1 _, 32 -> Pipeline.run _).foreach { case (n, runner) =>
      val pinsBefore = sc.getPersistentRDDs.keySet
      val tables = runner(spark, paths.institutions, paths.users, paths.observationsDir)
      assert(tables.size === n)
      // landed: each returned table is a scan of its landed rows
      val unlanded = tables.collect { case (name, df)
        if !df.queryExecution.logical.isInstanceOf[LogicalRDD] => name }
      assert(unlanded.isEmpty, s"tables not landed: $unlanded")
      assert(sc.getPersistentRDDs.keySet.size > pinsBefore.size)
      Pipeline.cleanup(spark)
      assert(sc.getPersistentRDDs.keySet === pinsBefore)
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  /** Order-independent hash of each table: row count and the sum of every
    * row's xxhash64 (as an exact decimal, so no overflow). */
  private def hashes(tables: Map[String, DataFrame]): Map[String, (Long, BigDecimal)] =
    tables.map { case (name, df) =>
      val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
          .cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), coalesce(sum(col("h")), lit(0)).cast("decimal(38,0)"))
        .head()
      name -> ((r.getLong(0), BigDecimal(r.getDecimal(1))))
    }

  test("two runEtl1 runs in one session land equal tables") {
    val first = hashes(tables)
    val again = Pipeline.runEtl1(spark, paths.institutions, paths.users, paths.observationsDir)
    try assert(hashes(again) === first.filter { case (name, _) => again.contains(name) })
    finally Pipeline.cleanup(spark)
  }

  test("EP1 jobs started under a job group all carry that group") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("ep1-run", "EP1 under one label")
      try Pipeline.runEtl1(spark, paths.institutions, paths.users, paths.observationsDir)
      finally {
        sc.clearJobGroup()
        Pipeline.cleanup(spark)
      }
      // one listener queue delivers in order: once the marker job, started
      // after every EP1 job, is seen, every EP1 job start has been seen
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(1 to 1).count() finally sc.clearJobGroup()
      val deadline = 1.minute.fromNow
      while (!seen.asScala.exists(_._1 == "marker") && deadline.hasTimeLeft()) Thread.sleep(50)
      val ep1 = seen.asScala.toSeq.takeWhile(_._1 != "marker")
      assert(ep1.size > 20, s"too few EP1 jobs seen: ${ep1.size}")
      assert(ep1.forall(_ == (("ep1-run", "EP1 under one label"))),
        s"EP1 jobs outside the group: ${ep1.filterNot(_._1 == "ep1-run").distinct}")
    } finally sc.removeSparkListener(listener)
  }

  test("a missing input fails runEtl1 with its own error; cleanup then leaves nothing behind") {
    val sc = spark.sparkContext
    val pinsBefore = sc.getPersistentRDDs.keySet
    val missing = paths.observationsDir + "-missing"
    val run = Future(Pipeline.runEtl1(spark, paths.institutions, paths.users, missing))(
      ExecutionContext.global)
    // a hang fails here after 5 minutes instead of stalling the suite
    val err = intercept[AnalysisException](Await.result(run, 5.minutes))
    assert(err.getMessage.contains("PATH_NOT_FOUND"), err.getMessage)
    Pipeline.cleanup(spark)
    assert(sc.getPersistentRDDs.keySet === pinsBefore)
    val poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(Land.PoolThreadPrefix))
    assert(poolThreads.isEmpty, s"pool threads still alive: $poolThreads")
  }
}
