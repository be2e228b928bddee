package graft.olap

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.{EtlFixture, Pipeline}

/** The facts read their keys off the observation instead of joining each
  * dimension to read it back. What makes that sound is pinned here: every
  * key a fact row carries has its dimension row, and the three facts equal
  * the dimension-joining form they replace, at three fixture sizes.
  */
class FactsSpec extends SparkSpec {

  /** The dimension-joining fact builds (08_ETL2_part2.sql), as `Facts` had
    * them: each `*_sk` read from a joined dimension. */
  private object Joined {
    private def ob(oltp: Map[String, DataFrame]) = oltp("observations")
      .filter(col("observation_date").isNotNull && col("location_id").isNotNull)

    private def dateJoin(dims: Map[String, DataFrame]) = (broadcast(dims("dim_date")),
      col("year") === year(col("observation_date")) &&
        col("month") === month(col("observation_date")))

    def pollinationActivity(oltp: Map[String, DataFrame], dims: Map[String, DataFrame]): DataFrame = {
      val (dimDate, onDate) = dateJoin(dims)
      ob(oltp)
        .join(dims("dim_pollinator"), col("pollinator_id_bk") === col("pollinator_id"))
        .join(broadcast(dims("dim_caste")), col("caste_id_bk") === col("caste_id"), "left")
        .join(dims("dim_plant"), col("plant_id_bk") === col("plant_id"))
        .join(broadcast(dims("dim_habitat")), col("habitat_id_bk") === col("habitat_id"), "left")
        .join(dims("dim_location"), col("location_id_bk") === col("location_id"))
        .join(dimDate, onDate)
        .join(broadcast(oltp("pollination_qualities")), Seq("pollination_quality_id"), "left")
        .groupBy(col("pollinator_sk"), col("caste_sk"), col("plant_sk"),
          col("habitat_sk"), col("location_sk"), col("date_sk"))
        .agg(
          coalesce(sum(col("interaction_count")), lit(0)).as("interaction_count"),
          count(lit(1)).as("observation_count"),
          coalesce(sum(when(col("pollen_collected"), 1).otherwise(0)), lit(0)).as("pollen_collected"),
          coalesce(sum(when(col("nectar_collected"), 1).otherwise(0)), lit(0)).as("nectar_collected"),
          coalesce(sum(when(col("quality_code").isNotNull && col("quality_code") =!= 4, 1)
            .otherwise(0)), lit(0)).as("confirmed_pollination_count"))
    }

    private def userResolved(oltp: Map[String, DataFrame], dims: Map[String, DataFrame]) = {
      val subActive = dims("dim_subscription_type").select(
        col("user_id_bk").as("sa_user"), col("start_date").as("sa_start"),
        col("end_date").as("sa_end"), col("subscription_type_sk").as("sa_sk"))
      val subEarliest = dims("dim_subscription_type").select(
        col("user_id_bk").as("se_user"), col("start_date").as("se_start"),
        col("subscription_type_sk").as("se_sk"))
        .withColumn("se_rn", row_number().over(
          Window.partitionBy(col("se_user"), col("se_start")).orderBy(col("se_sk"))))
        .filter(col("se_rn") === 1)
        .drop("se_rn")
      val dimInstitution = dims("dim_institution")
      val (dimDate, onDate) = dateJoin(dims)
      ob(oltp)
        .join(oltp("user_institution").select(col("user_institution_id"),
          col("user_id"), col("institution_id"), col("start_date").as("ui_start")),
          Seq("user_institution_id"))
        .join(oltp("users").select(col("user_id"), col("join_date")), Seq("user_id"))
        .join(dims("dim_user"), col("user_id_bk") === col("user_id"))
        // the observation's own SCD2 version: (user, institution, start)
        .join(dimInstitution,
          dimInstitution("user_id_bk") === col("user_id") &&
            col("institution_id_bk") === col("institution_id") &&
            dimInstitution("start_date") === col("ui_start"))
        .join(subActive,
          col("sa_user") === col("user_id") &&
            col("sa_start") <= col("observation_date") &&
            (col("sa_end").isNull || col("sa_end") >= col("observation_date")), "left")
        .join(subEarliest,
          col("se_user") === col("user_id") && col("se_start") === col("join_date"), "left")
        .withColumn("subscription_type_sk", coalesce(col("sa_sk"), col("se_sk")))
        .join(dimDate, onDate)
    }

    def userLocationMonthly(oltp: Map[String, DataFrame], dims: Map[String, DataFrame]): DataFrame =
      userResolved(oltp, dims)
        .join(dims("dim_location"), col("location_id_bk") === col("location_id"))
        .groupBy(col("user_sk"), col("location_sk"), col("date_sk"),
          col("institution_sk"), col("subscription_type_sk"))
        .agg(
          count(lit(1)).as("observation_count"),
          coalesce(sum(col("interaction_count")), lit(0)).as("interaction_count"))

    def userMonthlySummary(oltp: Map[String, DataFrame], dims: Map[String, DataFrame]): DataFrame =
      userResolved(oltp, dims)
        .groupBy(col("user_sk"), col("date_sk"),
          col("institution_sk"), col("subscription_type_sk"))
        .agg(
          count(lit(1)).as("observation_count"),
          coalesce(sum(col("interaction_count")), lit(0)).as("interaction_count"),
          countDistinct(col("location_id")).as("distinct_locations_count"),
          countDistinct(col("habitat_id")).as("distinct_habitats_count"),
          countDistinct(col("pollinator_id")).as("distinct_pollinator_species_count"),
          countDistinct(col("plant_id")).as("distinct_plant_species_count"))
  }

  private def fixture(nObs: Int) =
    EtlFixture.write(Files.createTempDirectory(s"graft-facts-$nObs"), nObs)

  /** Order-independent digest: row count and the sum of every row's
    * xxhash64 (as an exact decimal, so no overflow). */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0)).cast("decimal(38,0)"))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Rows of `df` whose `keys` are all non-NULL and match no row of `dim`. */
  private def orphans(df: DataFrame, keys: Seq[String], dim: DataFrame, dimKeys: Seq[String]): Long =
    df.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .join(dim, keys.zip(dimKeys).map { case (k, d) => df(k) === dim(d) }.reduce(_ && _), "left_anti")
      .count()

  private val reference = Seq[(String, (Map[String, DataFrame], Map[String, DataFrame]) => DataFrame)](
    "fact_pollination_activity" -> Joined.pollinationActivity,
    "fact_user_location_monthly" -> Joined.userLocationMonthly,
    "fact_user_monthly_summary" -> Joined.userMonthlySummary)

  for (nObs <- Seq(300, 1000, 3000))
    test(s"facts equal their dimension-joining form; every key has its dim row ($nObs rows)") {
      val paths = fixture(nObs)
      val t = Pipeline.run(spark, paths.institutions, paths.users, paths.observationsDir)
      try {
        val ob = t("observations")
          .filter(col("observation_date").isNotNull && col("location_id").isNotNull)
          .withColumn("obs_year", year(col("observation_date")))
          .withColumn("obs_month", month(col("observation_date")))
        assert(ob.count() > 0, "no fact-feeding observation")
        assert(ob.filter(col("plant_id").isNull || col("pollinator_id").isNull).isEmpty,
          "an observation without plant or pollinator")
        Seq(
          (Seq("plant_id"), "dim_plant", Seq("plant_sk")),
          (Seq("pollinator_id"), "dim_pollinator", Seq("pollinator_sk")),
          (Seq("caste_id"), "dim_caste", Seq("caste_sk")),
          (Seq("habitat_id"), "dim_habitat", Seq("habitat_sk")),
          (Seq("location_id"), "dim_location", Seq("location_sk")),
          (Seq("obs_year", "obs_month"), "dim_date", Seq("year", "month")),
          (Seq("user_institution_id"), "dim_institution", Seq("institution_sk"))
        ).foreach { case (keys, dim, dimKeys) =>
          val n = orphans(ob, keys, t(dim), dimKeys)
          assert(n === 0, s"$n observations whose ${keys.mkString(", ")} has no $dim row")
        }
        reference.foreach { case (fact, joined) =>
          val want = joined(t, t)
          val got = t(fact)
          assert(got.schema.map(f => (f.name, f.dataType)) === want.schema.map(f => (f.name, f.dataType)),
            s"$fact: columns differ")
          val (rows, hash) = digest(got)
          assert(rows > 0, s"$fact is empty")
          assert((rows, hash) === digest(want), s"$fact: rows differ")
        }
      } finally Pipeline.cleanup(spark)
    }
}
