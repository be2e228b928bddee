package graft.olap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EP2 part 1 (07_ETL2_part1.sql): OLTP → OLAP star dimensions. The FDW hop
  * (06_connect_olap_to_oltp.sql) disappears — OLTP tables arrive as
  * DataFrames; what is kept is the namespace boundary: these functions only
  * READ OLTP frames and emit independent OLAP frames.
  *
  * Surrogate keys are EP1's ids. The reference's `ON CONFLICT
  * (business_key) DO NOTHING` plus a sequence numbers each dimension in
  * business-key order (SURVEY.md §2.A6); EP1 already assigns every OLTP id
  * that way, through `Normalize`'s one numbering rule (`buildDim` for
  * species, castes, habitats and locations; `numbered` in business-key
  * order for users, user_subscription and user_institution), over tables
  * unique on their business key. So each `*_sk` is its row's OLTP id
  * (dim_subscription_type takes `user_subscription_id`, dim_institution
  * `user_institution_id`), and the bridge is `pollinator_caste` renamed;
  * dim_date's key is arithmetic, year*100+month.
  */
object Dims {

  /** dim_date's surrogate key: year*100+month. */
  private[olap] def dateSk(year: Column, month: Column): Column = (year * 100 + month).cast("long")

  def build(oltp: Map[String, DataFrame]): Map[String, DataFrame] = {
    // 07_ETL2_part1.sql:5-11 / :13-19 — species dims keyed on species_name
    val dimPlant = oltp("plant_species").select(col("plant_id").as("plant_id_bk"),
      col("nbn_code"), col("species_name"), col("plant_id").as("plant_sk"))
    val dimPollinator = oltp("pollinator_species").select(
      col("pollinator_id").as("pollinator_id_bk"), col("nbn_code"), col("species_name"),
      col("pollinator_id").as("pollinator_sk"))
    // :21-33
    val dimCaste = oltp("castes").select(col("caste_id").as("caste_id_bk"),
      col("caste_name"), col("caste_id").as("caste_sk"))
    val dimHabitat = oltp("habitats").select(col("habitat_id").as("habitat_id_bk"),
      col("habitat_name"), col("habitat_id").as("habitat_sk"))
    // :35-41 — keyed on (latitude, longitude)
    val dimLocation = oltp("locations").select(col("location_id").as("location_id_bk"),
      col("latitude"), col("longitude"), col("location_id").as("location_sk"))
    // :43-50 — keyed on username
    val dimUser = oltp("users").select(col("user_id").as("user_id_bk"), col("username"),
      col("last_name"), col("first_name_or_initials"), col("user_id").as("user_sk"))
    // :53-64 — dim_date from observation dates; arithmetic surrogate
    val dimDate = oltp("observations")
      .filter(col("observation_date").isNotNull)
      .select(
        year(col("observation_date")).as("year"),
        month(col("observation_date")).as("month"))
      .distinct()
      .withColumn("date_sk", dateSk(col("year"), col("month")))
      .withColumn("month_name",
        date_format(make_date(col("year"), col("month"), lit(1)), "MMMM"))
      .withColumn("month_year",
        date_format(make_date(col("year"), col("month"), lit(1)), "yyyy-MM"))
    // :70-99 — SCD2 dim_subscription_type: OLTP is the system of record;
    // OLAP stores the versions (insert-new + end-date catch-up both reduce
    // to a passthrough on batch rebuild)
    val dimSubscriptionType = oltp("user_subscription")
      .join(oltp("subscription_types"), Seq("subscription_type_id"))
      .select(col("user_id").as("user_id_bk"),
        col("subscription_type_id").as("subscription_type_id_bk"),
        col("type_name"), col("start_date"), col("end_date"),
        col("user_subscription_id").as("subscription_type_sk"))
    // :101-130 — SCD2 dim_institution
    val dimInstitution = oltp("user_institution")
      .join(oltp("institutions"), Seq("institution_id"))
      .select(col("user_id").as("user_id_bk"),
        col("institution_id").as("institution_id_bk"),
        col("institution_name"), col("start_date"), col("end_date"),
        col("user_institution_id").as("institution_sk"))
    // :133-145 — the bk→sk remap is the identity
    val bridge = oltp("pollinator_caste")
      .select(col("pollinator_id").as("pollinator_sk"), col("caste_id").as("caste_sk"))

    Map(
      "dim_plant" -> dimPlant,
      "dim_pollinator" -> dimPollinator,
      "dim_caste" -> dimCaste,
      "dim_habitat" -> dimHabitat,
      "dim_location" -> dimLocation,
      "dim_user" -> dimUser,
      "dim_date" -> dimDate,
      "dim_subscription_type" -> dimSubscriptionType,
      "dim_institution" -> dimInstitution,
      "bridge_pollinator_caste" -> bridge)
  }
}
