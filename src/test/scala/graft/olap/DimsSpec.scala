package graft.olap

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.{EtlFixture, Pipeline}

/** The star's surrogate keys are EP1's ids. What makes that sound is pinned
  * here: each keyed dimension is unique on its business key, and its `*_sk`
  * is the row_number over that key — the key the reference's sequence
  * assigns, and the one `Dims` used to derive with a global window sort.
  */
class DimsSpec extends SparkSpec {

  /** Each keyed dimension's surrogate key and business key. */
  private val keyed = Seq(
    "dim_plant" -> ("plant_sk", Seq("species_name")),
    "dim_pollinator" -> ("pollinator_sk", Seq("species_name")),
    "dim_caste" -> ("caste_sk", Seq("caste_name")),
    "dim_habitat" -> ("habitat_sk", Seq("habitat_name")),
    "dim_location" -> ("location_sk", Seq("latitude", "longitude")),
    "dim_user" -> ("user_sk", Seq("username")),
    "dim_subscription_type" ->
      ("subscription_type_sk", Seq("user_id_bk", "start_date", "subscription_type_id_bk")),
    "dim_institution" ->
      ("institution_sk", Seq("user_id_bk", "start_date", "institution_id_bk")))

  private def fixture(nObs: Int) =
    EtlFixture.write(Files.createTempDirectory(s"graft-dims-$nObs"), nObs)

  test("every keyed dimension's sk is the row_number over its unique business key") {
    for (nObs <- Seq(300, 1000, 3000)) {
      val paths = fixture(nObs)
      val tables = Pipeline.run(spark, paths.institutions, paths.users, paths.observationsDir)
      try keyed.foreach { case (dim, (sk, bk)) =>
        val df = tables(dim)
        val rows = df.count()
        assert(rows > 0, s"$dim is empty at $nObs rows")
        assert(df.select(bk.map(col): _*).distinct().count() === rows,
          s"$dim: business key ${bk.mkString(", ")} not unique at $nObs rows")
        val off = df
          .withColumn("expected_sk", row_number().over(Window.orderBy(bk.map(col): _*)).cast("long"))
          .filter(!col(sk).eqNullSafe(col("expected_sk")))
          .count()
        assert(off === 0, s"$dim: $off rows whose $sk is not the business-key row_number at $nObs rows")
      } finally Pipeline.cleanup(spark)
    }
  }

  test("Dims.build plans no window without a partition spec") {
    val paths = fixture(300)
    val oltp = Pipeline.runEtl1(spark, paths.institutions, paths.users, paths.observationsDir)
    try {
      // the landed OLTP tables hide EP1's own windows: only Dims' plans are seen
      val global = Dims.build(oltp).collect { case (name, df)
        if df.queryExecution.optimizedPlan.exists {
          case w: WindowNode => w.partitionSpec.isEmpty
          case _ => false
        } => name }
      assert(global.isEmpty, s"single-partition window sorts in: $global")
    } finally Pipeline.cleanup(spark)
  }
}
