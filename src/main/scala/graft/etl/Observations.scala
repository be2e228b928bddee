package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The observations load (04_ETL1_part3.sql:237-454): manual corrections,
  * date assembly with the placeholder-January convention, the author
  * substring theta-join, prioritized as-of affiliation resolution, FK
  * resolution and final typing.
  */
object Observations {

  /** Manual data corrections (04_ETL1_part3.sql:240-290): NBN code fixes for
    * known species inconsistencies. */
  def manualCodeFixes(stg: DataFrame): DataFrame = {
    val plantFixed = stg.withColumn("nbn_plant_code",
      when(upper(col("nbn_plant_code")) === "NHMSYS0000462067" &&
        lower(col("plant_species")) === "prunella vulgaris",
        "NBNSYS0000004225").otherwise(col("nbn_plant_code")))
    val pollinatorFixes = Seq(
      "NHMSYS0000875202" -> "andrena flavipes",
      "NHMSYS0000875215" -> "andrena haemorrhoa",
      "NHMSYS0000875177" -> "andrena cineraria",
      "NHMSYS0000875423" -> "apis mellifera",
      "NBNSYS0000006866" -> "melanostoma mellinum",
      "NHMSYS0000875268" -> "andrena scotica")
    pollinatorFixes.foldLeft(plantFixed) { case (df, (code, species)) =>
      df.withColumn("nbn_pollinator_code",
        when(col("nbn_pollinator_code") =!= code &&
          lower(col("pollinator_species")) === species,
          code).otherwise(col("nbn_pollinator_code")))
    }
  }

  /** Impossible-day fixes (04_ETL1_part3.sql:369-377): day 31 in 30-day
    * months → 30; day 29-31 in February → 28. */
  def dayClampFixes(stg: DataFrame): DataFrame =
    stg
      .withColumn("obs_date",
        when(col("obs_date") === "31" &&
          col("obs_month").isin("04", "4", "06", "6", "09", "9", "11"),
          "30").otherwise(col("obs_date")))
      .withColumn("obs_date",
        when(col("obs_date").isin("31", "30", "29") &&
          col("obs_month").isin("02", "2"),
          "28").otherwise(col("obs_date")))

  /** Date assembly with the placeholder-January convention
    * (04_ETL1_part3.sql:379-388): missing year → null date; missing month →
    * YYYY-01-01 (January marks "month unknown" — analytics that care exclude
    * January); missing day → first of month.
    */
  def assembleDate(stg: DataFrame): DataFrame =
    stg.withColumn("observation_date",
      when(col("obs_year").isNull, lit(null).cast("date"))
        .when(col("obs_month").isNull,
          to_date(concat(col("obs_year"), lit("-01-01")), "yyyy-MM-dd"))
        .when(col("obs_date").isNull,
          to_date(concat(col("obs_year"), lit("-"), lpad(col("obs_month"), 2, "0"),
            lit("-01")), "yyyy-MM-dd"))
        .otherwise(
          to_date(concat(col("obs_year"), lit("-"), lpad(col("obs_month"), 2, "0"),
            lit("-"), lpad(col("obs_date"), 2, "0")), "yyyy-MM-dd")))

  /** Author → user resolution (04_ETL1_part3.sql:395): substring containment
    * theta-join (authors ILIKE '%'||last_name||'%'). INNER join — rows with
    * no matching user drop, multi-user matches fan out (resolved by the
    * priority pass). Users is a tiny bounded dim → broadcast NLJ; the DOPI
    * side streams at any scale. Both sides are lowercased once per row
    * before the join, not once per (observation, user) pair inside the
    * nested-loop condition.
    */
  def matchAuthors(stg: DataFrame, users: DataFrame): DataFrame =
    stg.withColumn("_authors_lc", lower(col("authors")))
      .join(
        broadcast(users.select(col("user_id"), col("last_name"),
          lower(col("last_name")).as("_last_name_lc"))),
        col("_authors_lc").contains(col("_last_name_lc")))
      .drop("_authors_lc", "_last_name_lc")

  /** Prioritized best-match affiliation (04_ETL1_part3.sql:396-416):
    * rank every candidate (user, affiliation) per observation —
    * 1 = date in range, 2 = undated observation × open-ended affiliation,
    * 3 = observation before affiliation start, 4 = other — and keep the best
    * by (priority, start_date), tiebroken by user_institution_id for
    * determinism. The all-candidate join is semantically required (classes
    * 2-4 need non-matching candidates); the per-key fanout is bounded by
    * versions-per-user.
    */
  def resolveAffiliation(withUsers: DataFrame, userInstitution: DataFrame): DataFrame = {
    // INNER join, reference-faithful (04_ETL1_part3.sql:411 `JOIN
    // user_institution`): an observation whose only author match is a user
    // with ZERO affiliation versions (institution name absent from the
    // institutions table) is dropped, not quarantined — the same silent
    // drop the reference performs. Same contract-documenting stance as
    // matchAuthors' inner join.
    val cand = withUsers.join(
      userInstitution.select(
        col("user_institution_id"), col("user_id").as("ui_user_id"),
        col("start_date"), col("end_date")),
      col("user_id") === col("ui_user_id"))
      .withColumn("affiliation_priority",
        when(col("observation_date").isNotNull &&
          col("start_date") <= col("observation_date") &&
          (col("end_date").isNull || col("observation_date") <= col("end_date")), 1)
          .when(col("observation_date").isNull && col("end_date").isNull, 2)
          .when(col("observation_date").isNotNull &&
            col("observation_date") < col("start_date"), 3)
          .otherwise(4))
    val w = Window.partitionBy(col("raw_data_id"))
      .orderBy(col("affiliation_priority"), col("start_date"), col("user_institution_id"))
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "ui_user_id")
  }

  /** Final FK resolution + typing (04_ETL1_part3.sql:418-454). Faithful to
    * the reference's quirks: species joins are EXACT-case against the
    * normalized dim names (mixed-case staging rows drop — inner join), caste
    * joins the RAW (untrimmed) value, habitat joins INITCAP(TRIM(·)).
    */
  def resolveForeignKeys(resolved: DataFrame, plantSpecies: DataFrame,
                         pollinatorSpecies: DataFrame, castes: DataFrame,
                         locations: DataFrame, habitats: DataFrame): DataFrame = {
    val dec = DecimalType(9, 6)
    resolved
      .join(plantSpecies.select(col("plant_id"), col("species_name").as("ps_name")),
        col("plant_species") === col("ps_name"))
      .join(pollinatorSpecies.select(col("pollinator_id"), col("species_name").as("po_name")),
        col("pollinator_species") === col("po_name"))
      .join(broadcast(castes.select(col("caste_id"), col("caste_name"))),
        col("caste") === col("caste_name"), "left")
      .join(locations.select(col("location_id"), col("latitude").as("loc_lat"),
          col("longitude").as("loc_lon")),
        col("latitude").cast(dec) === col("loc_lat") &&
          col("longitude").cast(dec) === col("loc_lon"), "left")
      .join(broadcast(habitats.select(col("habitat_id"), col("habitat_name"))),
        initcap(trim(col("habitat"))) === col("habitat_name"), "left")
      .select(
        col("raw_data_id"),
        col("user_institution_id"),
        col("plant_id"),
        col("pollinator_id"),
        col("caste_id"),
        col("location_id"),
        col("habitat_id"),
        col("observation_date"),
        col("interactions").cast("int").as("interaction_count"),
        col("pollination").cast("int").as("pollination_quality_id"),
        col("pollen").cast("boolean").as("pollen_collected"),
        col("nectar").cast("boolean").as("nectar_collected"))
  }
}
