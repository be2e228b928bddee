package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Land
import graft.Land.CkptOps

/** EP1 orchestration (SURVEY.md §3): CSV → staging → validate/quarantine →
  * normalized OLTP, re-enacting 02_ETL1_part1.sql → 04_ETL1_part3.sql over
  * the real mock CSVs (+ a DOPI-shaped CSV). Where the reference writes a
  * real table (A3/A12), the run lands the frame through [[graft.Land]],
  * once, where it is defined, in dependency order: every returned table,
  * and every intermediate more than one later step reads (the staging
  * frames, the first-pass geography, users, the SCD2 versions). So no
  * consumer re-runs an upstream step, and the reliable-checkpoint switch
  * covers EP1 too. [[cleanup]] releases it all (A10).
  *
  * Preserved load-bearing semantics: duplicate-tolerant observation loads
  * (README.md:19 — no dedup on staging rows), manual corrections, SCD2
  * subs/affils, placeholder-January dates, priority affiliation resolution.
  */
object Pipeline {

  /** D8 static seeds (01_create_oltp.sql:130-150). */
  def subscriptionTypes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "Free"), (2L, "Pro"), (3L, "HiveMind"), (4L, "FieldScout"), (5L, "BeeWatch+"))
      .toDF("subscription_type_id", "type_name")
  }

  def pollinationQualities(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 1, "pollination confirmed"),
      (2L, 2, "pollination inferred"),
      (3L, 3, "pollination inferred from circumstantial evidence"),
      (4L, 4, "no pollination, the visitor is not a pollinator"))
      .toDF("pollination_quality_id", "quality_code", "description")
  }

  def seedInstitutions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "Unaffiliated", Option.empty[Long]))
      .toDF("institution_id", "institution_name", "city_id")
  }

  /** The pins taken since the latest [[runEtl1]] began; [[cleanup]]
    * releases them. A run started before the previous run's cleanup
    * leaves that run's tables pinned for the rest of the session. */
  private var pins: Option[Land.CacheScope] = None

  /** A10: drop every table EP1 landed — staging, intermediates and the
    * returned tables alike (02_ETL1_part1.sql:81, 04_ETL1_part3.sql:457-458)
    * — with [[graft.Land.CacheScope]]'s sweep, which takes everything
    * pinned since the latest run began. Call once the outputs are written:
    * the returned frames must not be read after it. */
  def cleanup(spark: SparkSession): Unit = synchronized {
    pins.foreach(_.releaseAll())
    pins = None
  }

  /** Run ETL1 end-to-end, landing as it goes. Returns every OLTP table plus
    * the quarantine tables, keyed by reference table name, each landed.
    */
  def runEtl1(spark: SparkSession, institutionsCsv: String, usersCsv: String,
              observationsCsv: String): Map[String, DataFrame] = {
    synchronized { pins = Some(new Land.CacheScope(spark)) }

    // ---- part 1: institutions (02_ETL1_part1.sql) -------------------------
    val stgInst = Ingest.stageInstitutions(spark, institutionsCsv)
    val (instValid0, invalidInstitutions0) =
      Validate.splitFirstMatch(stgInst, Validate.institutionRules)
    val instValid = instValid0.graftCheckpoint() // A3 staging materialization
    val invalidInstitutions = invalidInstitutions0.graftCheckpoint()

    val countries1 = Normalize.buildDim(
      instValid.filter(col("country").isNotNull)
        .select(col("country").as("country_name")),
      "country_id", Seq("country_name")).graftCheckpoint()

    def countiesFrom(stg: DataFrame, existing: DataFrame,
        countries: DataFrame): DataFrame =
      Normalize.upsertDim(existing,
        stg.join(countries, stg("country") === countries("country_name"))
          .filter(col("county").isNotNull)
          .select(col("county").as("county_name"), col("country_id")),
        "county_id", Seq("county_name", "country_id"))

    def citiesFrom(stg: DataFrame, counties: DataFrame, existing: DataFrame): DataFrame =
      Normalize.upsertDim(existing,
        stg.join(counties, stg("county") === counties("county_name"))
          .filter(col("city").isNotNull)
          .select(col("city").as("city_name"), col("county_id")),
        "city_id", Seq("city_name", "county_id"))

    // Cities are keyed (city_name, county_id) but staging rows carry only a
    // name; a name existing under two counties would fan out the join and
    // duplicate the already-deduped users/institutions. The reference's
    // DISTINCT ON collapses that fanout keeping an arbitrary city; we keep
    // the lowest city_id — same outcome whenever names are unique,
    // deterministic when they are not.
    def cityByName(cities: DataFrame): DataFrame =
      cities.withColumn("rn", row_number().over(
        Window.partitionBy(col("city_name")).orderBy(col("city_id"))))
        .filter(col("rn") === 1).drop("rn")

    val emptyCounties = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.allString(Seq("county_name")).add("country_id", "long").add("county_id", "long"))
      .select(col("county_id"), col("county_name"), col("country_id"))
    val counties1 = countiesFrom(instValid, emptyCounties, countries1).graftCheckpoint()
    val emptyCities = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.allString(Seq("city_name")).add("county_id", "long").add("city_id", "long"))
      .select(col("city_id"), col("city_name"), col("county_id"))
    val cities1 = citiesFrom(instValid, counties1, emptyCities).graftCheckpoint()

    val institutions = Normalize.upsertDim(
      seedInstitutions(spark),
      instValid.join(cityByName(cities1), instValid("city") === col("city_name"), "left")
        .filter(col("institution").isNotNull)
        .select(col("institution").as("institution_name"), col("city_id")),
      "institution_id", Seq("institution_name", "city_id"))
      // upsertDim keys on (name, city); the reference keys on name alone.
      // Deterministic keep (lowest id) — dropDuplicates picks an arbitrary
      // row, which would make surrogate↔city assignment vary run to run.
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("institution_name")).orderBy(col("institution_id"))))
      .filter(col("rn") === 1).drop("rn")
      .graftCheckpoint()

    // ---- part 2: users + SCD2 (03_ETL1_part2.sql) -------------------------
    val stgUsers = Ingest.stageUsers(spark, usersCsv)
    val (usersValid0, invalidUsers0) = Validate.splitFirstMatch(stgUsers, Validate.userRules)
    val usersValid = usersValid0.graftCheckpoint()
    val invalidUsers = invalidUsers0.graftCheckpoint()

    // A6 idempotent countries upsert from the USERS staging too
    // (03_ETL1_part2.sql:77-84): without it the user-side geography chain
    // would depend on the institutions file having yielded valid rows
    val countries = Normalize.upsertDim(countries1,
      usersValid.filter(col("country").isNotNull)
        .select(col("country").as("country_name")),
      "country_id", Seq("country_name")).graftCheckpoint()
    val counties = countiesFrom(usersValid, counties1, countries).graftCheckpoint()
    val cities = citiesFrom(usersValid, counties, cities1).graftCheckpoint()

    // DISTINCT ON (username) ORDER BY username, join_date → earliest row
    // wins; email/city complete the tiebreak so two staging rows tied on
    // (join_date, full_name) cannot flip the surviving email between runs
    // (the same deterministic-keep policy as cities/institutions/species)
    val userW = Window.partitionBy(col("username"))
      .orderBy(col("join_date"), col("full_name"), col("email"), col("city"))
    val users = Normalize.nameSplit(
      usersValid.withColumn("rn", row_number().over(userW)).filter(col("rn") === 1))
      .join(cityByName(cities), usersValid("city") === col("city_name"), "left")
      .select(col("username"), col("email"), col("first_name_or_initials"),
        col("last_name"), col("city_id"),
        to_date(col("join_date"), "yyyy-MM-dd").as("join_date"))
      .withColumn("user_id",
        row_number().over(Window.orderBy(col("username"))).cast("long"))
      .graftCheckpoint()

    val subTypes = subscriptionTypes(spark).graftCheckpoint()

    // SCD2 user_subscription (03_ETL1_part2.sql:136-188)
    val subVersions = Scd2.dedupVersions(
      usersValid
        .join(users.select(col("user_id"), col("username")), Seq("username"))
        .join(broadcast(subTypes), usersValid("subscription_type") === subTypes("type_name"))
        .select(col("user_id"), col("subscription_type_id"),
          to_date(col("subscription_start"), "yyyy-MM-dd").as("start_date")),
      Seq("user_id", "subscription_type_id", "start_date")).graftCheckpoint()
    val userSubscription = Scd2.endDate(
      subVersions, "user_id", "start_date", Seq("subscription_type_id"))
      .withColumn("user_subscription_id",
        row_number().over(Window.orderBy(col("user_id"), col("start_date"),
          col("subscription_type_id"))).cast("long"))
      .graftCheckpoint()

    // SCD2 user_institution (03_ETL1_part2.sql:190-246)
    val affilVersions = Scd2.dedupVersions(
      usersValid
        .join(users.select(col("user_id"), col("username")), Seq("username"))
        .join(broadcast(institutions.select(col("institution_id"), col("institution_name"))),
          usersValid("institution") === col("institution_name"))
        .select(col("user_id"), col("institution_id"),
          to_date(col("affiliation_start"), "yyyy-MM-dd").as("start_date")),
      Seq("user_id", "institution_id", "start_date")).graftCheckpoint()
    val userInstitution = Scd2.endDate(
      affilVersions, "user_id", "start_date", Seq("institution_id"))
      .withColumn("user_institution_id",
        row_number().over(Window.orderBy(col("user_id"), col("start_date"),
          col("institution_id"))).cast("long"))
      .graftCheckpoint()

    // ---- part 3: observations (04_ETL1_part3.sql) -------------------------
    // A3: the staging rows are landed inside stageObservations, before any
    // id is derived; raw_data_id is a broadcast join over those landed rows,
    // so every quarantine branch re-derives the same ids without a 2nd copy.
    val stgObs = Ingest.stageObservations(spark, observationsCsv)
    val (obsValid0, invalidObservations0) = Validate.validateObservations(stgObs)
    val invalidObservations = invalidObservations0.graftCheckpoint()
    val obsValid = Observations.manualCodeFixes(obsValid0).graftCheckpoint()

    // One row per species_name, keeping the LOWEST nbn_code (nulls last):
    // dropDuplicates keeps an arbitrary row, so a species with conflicting
    // codes could surface a different nbn_code run to run — same
    // deterministic-keep policy as institutions/cities above.
    def speciesDedup(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(
        Window.partitionBy(col("species_name")).orderBy(col("nbn_code").asc_nulls_last)))
        .filter(col("rn") === 1).drop("rn")

    val plantSpecies = Normalize.buildDim(
      speciesDedup(obsValid.filter(col("plant_species").isNotNull)
        .select(upper(col("nbn_plant_code")).as("nbn_code"),
          Normalize.normalizedSpecies("plant_species").as("species_name"))),
      "plant_id", Seq("species_name", "nbn_code"))
      .select(col("plant_id"), col("nbn_code"), col("species_name"))
      .graftCheckpoint()

    val pollinatorSpecies = Normalize.buildDim(
      speciesDedup(obsValid.filter(col("pollinator_species").isNotNull)
        .select(upper(col("nbn_pollinator_code")).as("nbn_code"),
          Normalize.normalizedSpecies("pollinator_species").as("species_name"))),
      "pollinator_id", Seq("species_name", "nbn_code"))
      .select(col("pollinator_id"), col("nbn_code"), col("species_name"))
      .graftCheckpoint()

    val castes = Normalize.buildDim(
      obsValid.filter(col("caste").isNotNull)
        .select(trim(col("caste")).as("caste_name")),
      "caste_id", Seq("caste_name")).graftCheckpoint()

    val pollinatorCaste = obsValid
      .filter(col("pollinator_species").isNotNull && col("caste").isNotNull)
      .join(pollinatorSpecies,
        lower(pollinatorSpecies("species_name")) === lower(col("pollinator_species")))
      .join(broadcast(castes), castes("caste_name") === trim(col("caste")))
      .select(col("pollinator_id"), col("caste_id")).distinct()
      .withColumn("pollinator_caste_id",
        row_number().over(Window.orderBy(col("pollinator_id"), col("caste_id"))).cast("long"))
      .graftCheckpoint()

    val locations = Normalize.buildDim(
      obsValid.filter(col("latitude").isNotNull && col("longitude").isNotNull)
        .select(col("latitude").cast("decimal(9,6)").as("latitude"),
          col("longitude").cast("decimal(9,6)").as("longitude")),
      "location_id", Seq("latitude", "longitude")).graftCheckpoint()

    val habitats = Normalize.buildDim(
      obsValid.filter(col("habitat").isNotNull)
        .select(initcap(trim(col("habitat"))).as("habitat_name")),
      "habitat_id", Seq("habitat_name")).graftCheckpoint()

    val dated = Observations.assembleDate(Observations.dayClampFixes(obsValid))
    val withUsers = Observations.matchAuthors(dated, users)
    val resolved = Observations.resolveAffiliation(withUsers, userInstitution)
    val observations = Observations.resolveForeignKeys(
      resolved, plantSpecies, pollinatorSpecies, castes, locations, habitats)
      .withColumn("observation_id", col("raw_data_id"))
      .graftCheckpoint()

    // A10 cleanup (DELETE FROM stg / DROP TABLE) is the CALLER's move once
    // the returned tables are written — releasing here would drop them
    // before the caller reads them. See Pipeline.cleanup.

    Map(
      "countries" -> countries,
      "counties" -> counties,
      "cities" -> cities,
      "institutions" -> institutions,
      "users" -> users,
      "subscription_types" -> subTypes,
      "user_subscription" -> userSubscription,
      "user_institution" -> userInstitution,
      "plant_species" -> plantSpecies,
      "pollinator_species" -> pollinatorSpecies,
      "castes" -> castes,
      "pollinator_caste" -> pollinatorCaste,
      "locations" -> locations,
      "habitats" -> habitats,
      "pollination_qualities" -> pollinationQualities(spark).graftCheckpoint(),
      "observations" -> observations,
      "invalid_stg_institutions" -> invalidInstitutions,
      "invalid_stg_users" -> invalidUsers,
      "invalid_stg_insect_observations" -> invalidObservations)
  }
}
