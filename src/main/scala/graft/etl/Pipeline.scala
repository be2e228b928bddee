package graft.etl

import scala.concurrent.Future

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Land

/** EP1 orchestration (SURVEY.md §3): CSV → staging → validate/quarantine →
  * normalized OLTP, re-enacting 02_ETL1_part1.sql → 04_ETL1_part3.sql over
  * the real mock CSVs (+ a DOPI-shaped CSV). Where the reference writes a
  * real table (A3/A12), the run lands the frame through [[graft.Land]],
  * once: every returned table, and every intermediate more than one later
  * step reads (the staging frames, the scrubbed observation staging, the
  * first-pass geography, users). So no consumer re-runs an upstream step,
  * and the reliable-checkpoint switch covers EP1 too. EP1 lands as a DAG
  * ([[graft.Land.concurrently]]): each table lands as soon as the tables
  * it reads have landed, so the institutions/users chain and the
  * observations chain run side by side until `observations` joins them.
  * [[cleanup]] releases it all (A10).
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

  /** Run ETL1 end-to-end as a DAG of landings. Returns every OLTP table plus
    * the quarantine tables, keyed by reference table name, each landed; it
    * returns once all of them have landed, and on failure once every
    * landing it started has ended, rethrowing the first error.
    */
  def runEtl1(spark: SparkSession, institutionsCsv: String, usersCsv: String,
              observationsCsv: String): Map[String, DataFrame] = {
    synchronized { pins = Some(new Land.CacheScope(spark)) }

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

    // One row per species_name, keeping the LOWEST nbn_code (nulls last):
    // dropDuplicates keeps an arbitrary row, so a species with conflicting
    // codes could surface a different nbn_code run to run — same
    // deterministic-keep policy as institutions/cities above.
    def speciesDedup(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(
        Window.partitionBy(col("species_name")).orderBy(col("nbn_code").asc_nulls_last)))
        .filter(col("rn") === 1).drop("rn")

    val emptyCounties = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.allString(Seq("county_name")).add("country_id", "long").add("county_id", "long"))
      .select(col("county_id"), col("county_name"), col("country_id"))
    val emptyCities = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.allString(Seq("city_name")).add("county_id", "long").add("city_id", "long"))
      .select(col("city_id"), col("city_name"), col("county_id"))

    val tables = Land.concurrently(spark) { dag =>
      import dag.ec

      // ---- part 1: institutions (02_ETL1_part1.sql) -----------------------
      val instSplit = Future(Validate.splitFirstMatch(
        Ingest.stageInstitutions(spark, institutionsCsv), Validate.institutionRules))
      val instValid = dag.land(instSplit.map(_._1)) // A3 staging materialization
      val invalidInstitutions = dag.land(instSplit.map(_._2))

      val countries1 = dag.land(instValid.map(iv => Normalize.buildDim(
        iv.filter(col("country").isNotNull).select(col("country").as("country_name")),
        "country_id", Seq("country_name"))))

      val counties1 = dag.land(for (iv <- instValid; c <- countries1) yield
        countiesFrom(iv, emptyCounties, c))
      val cities1 = dag.land(for (iv <- instValid; c <- counties1) yield
        citiesFrom(iv, c, emptyCities))

      val institutions = dag.land(for (iv <- instValid; c <- cities1) yield
        Normalize.upsertDim(
          seedInstitutions(spark),
          iv.join(cityByName(c), iv("city") === col("city_name"), "left")
            .filter(col("institution").isNotNull)
            .select(col("institution").as("institution_name"), col("city_id")),
          "institution_id", Seq("institution_name", "city_id"))
          // upsertDim keys on (name, city); the reference keys on name alone.
          // Deterministic keep (lowest id) — dropDuplicates picks an arbitrary
          // row, which would make surrogate↔city assignment vary run to run.
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("institution_name")).orderBy(col("institution_id"))))
          .filter(col("rn") === 1).drop("rn"))

      // ---- part 2: users + SCD2 (03_ETL1_part2.sql) -----------------------
      val usersSplit = Future(Validate.splitFirstMatch(
        Ingest.stageUsers(spark, usersCsv), Validate.userRules))
      val usersValid = dag.land(usersSplit.map(_._1))
      val invalidUsers = dag.land(usersSplit.map(_._2))

      // A6 idempotent countries upsert from the USERS staging too
      // (03_ETL1_part2.sql:77-84): without it the user-side geography chain
      // would depend on the institutions file having yielded valid rows
      val countries = dag.land(for (uv <- usersValid; c1 <- countries1) yield
        Normalize.upsertDim(c1,
          uv.filter(col("country").isNotNull).select(col("country").as("country_name")),
          "country_id", Seq("country_name")))
      val counties = dag.land(for (uv <- usersValid; c1 <- counties1; c <- countries) yield
        countiesFrom(uv, c1, c))
      val cities = dag.land(for (uv <- usersValid; c <- counties; c1 <- cities1) yield
        citiesFrom(uv, c, c1))

      // DISTINCT ON (username) ORDER BY username, join_date → earliest row
      // wins; email/city complete the tiebreak so two staging rows tied on
      // (join_date, full_name) cannot flip the surviving email between runs
      // (the same deterministic-keep policy as cities/institutions/species)
      val users = dag.land(for (uv <- usersValid; c <- cities) yield {
        val userW = Window.partitionBy(col("username"))
          .orderBy(col("join_date"), col("full_name"), col("email"), col("city"))
        Normalize.nameSplit(uv.withColumn("rn", row_number().over(userW)).filter(col("rn") === 1))
          .join(cityByName(c), uv("city") === col("city_name"), "left")
          .select(col("username"), col("email"), col("first_name_or_initials"),
            col("last_name"), col("city_id"),
            to_date(col("join_date"), "yyyy-MM-dd").as("join_date"))
          .withColumn("user_id",
            row_number().over(Window.orderBy(col("username"))).cast("long"))
      })

      val subTypes = dag.land(Future(subscriptionTypes(spark)))

      // SCD2 user_subscription (03_ETL1_part2.sql:136-188); the version rows
      // have this one reader, so they are not landed on their own
      val userSubscription = dag.land(for (uv <- usersValid; u <- users; st <- subTypes) yield
        Scd2.endDate(
          Scd2.dedupVersions(
            uv.join(u.select(col("user_id"), col("username")), Seq("username"))
              .join(broadcast(st), uv("subscription_type") === st("type_name"))
              .select(col("user_id"), col("subscription_type_id"),
                to_date(col("subscription_start"), "yyyy-MM-dd").as("start_date")),
            Seq("user_id", "subscription_type_id", "start_date")),
          "user_id", "start_date", Seq("subscription_type_id"))
          .withColumn("user_subscription_id",
            row_number().over(Window.orderBy(col("user_id"), col("start_date"),
              col("subscription_type_id"))).cast("long")))

      // SCD2 user_institution (03_ETL1_part2.sql:190-246), likewise
      val userInstitution = dag.land(for (uv <- usersValid; u <- users; inst <- institutions) yield
        Scd2.endDate(
          Scd2.dedupVersions(
            uv.join(u.select(col("user_id"), col("username")), Seq("username"))
              .join(broadcast(inst.select(col("institution_id"), col("institution_name"))),
                uv("institution") === col("institution_name"))
              .select(col("user_id"), col("institution_id"),
                to_date(col("affiliation_start"), "yyyy-MM-dd").as("start_date")),
            Seq("user_id", "institution_id", "start_date")),
          "user_id", "start_date", Seq("institution_id"))
          .withColumn("user_institution_id",
            row_number().over(Window.orderBy(col("user_id"), col("start_date"),
              col("institution_id"))).cast("long")))

      // ---- part 3: observations (04_ETL1_part3.sql) -----------------------
      // A3: the staging rows are landed inside stageObservations, before any
      // id is derived. The reference then scrubs its staging table in place
      // (04_ETL1_part3.sql:117-154); the scrubbed rows are landed here, so
      // the quarantine and valid branches both read them instead of each
      // re-deriving the ids and the 16-column scrub.
      val scrubbed = dag.land(Future(
        Validate.scrubObs(Ingest.stageObservations(spark, observationsCsv))))
      val obsSplit = scrubbed.map(Validate.splitObservations)
      val invalidObservations = dag.land(obsSplit.map(_._2))
      val obsValid = dag.land(obsSplit.map(s => Observations.manualCodeFixes(s._1)))

      val plantSpecies = dag.land(obsValid.map(ov => Normalize.buildDim(
        speciesDedup(ov.filter(col("plant_species").isNotNull)
          .select(upper(col("nbn_plant_code")).as("nbn_code"),
            Normalize.normalizedSpecies("plant_species").as("species_name"))),
        "plant_id", Seq("species_name", "nbn_code"))
        .select(col("plant_id"), col("nbn_code"), col("species_name"))))

      val pollinatorSpecies = dag.land(obsValid.map(ov => Normalize.buildDim(
        speciesDedup(ov.filter(col("pollinator_species").isNotNull)
          .select(upper(col("nbn_pollinator_code")).as("nbn_code"),
            Normalize.normalizedSpecies("pollinator_species").as("species_name"))),
        "pollinator_id", Seq("species_name", "nbn_code"))
        .select(col("pollinator_id"), col("nbn_code"), col("species_name"))))

      val castes = dag.land(obsValid.map(ov => Normalize.buildDim(
        ov.filter(col("caste").isNotNull).select(trim(col("caste")).as("caste_name")),
        "caste_id", Seq("caste_name"))))

      val pollinatorCaste = dag.land(
        for (ov <- obsValid; ps <- pollinatorSpecies; ca <- castes) yield ov
          .filter(col("pollinator_species").isNotNull && col("caste").isNotNull)
          .join(ps, lower(ps("species_name")) === lower(col("pollinator_species")))
          .join(broadcast(ca), ca("caste_name") === trim(col("caste")))
          .select(col("pollinator_id"), col("caste_id")).distinct()
          .withColumn("pollinator_caste_id",
            row_number().over(Window.orderBy(col("pollinator_id"), col("caste_id"))).cast("long")))

      val locations = dag.land(obsValid.map(ov => Normalize.buildDim(
        ov.filter(col("latitude").isNotNull && col("longitude").isNotNull)
          .select(col("latitude").cast("decimal(9,6)").as("latitude"),
            col("longitude").cast("decimal(9,6)").as("longitude")),
        "location_id", Seq("latitude", "longitude"))))

      val habitats = dag.land(obsValid.map(ov => Normalize.buildDim(
        ov.filter(col("habitat").isNotNull).select(initcap(trim(col("habitat"))).as("habitat_name")),
        "habitat_id", Seq("habitat_name"))))

      val observations = dag.land(for {
        ov <- obsValid; u <- users; ui <- userInstitution
        ps <- plantSpecies; po <- pollinatorSpecies; ca <- castes
        lo <- locations; ha <- habitats
      } yield {
        val dated = Observations.assembleDate(Observations.dayClampFixes(ov))
        val resolved = Observations.resolveAffiliation(Observations.matchAuthors(dated, u), ui)
        Observations.resolveForeignKeys(resolved, ps, po, ca, lo, ha)
          .withColumn("observation_id", col("raw_data_id"))
      })

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
        "pollination_qualities" -> dag.land(Future(pollinationQualities(spark))),
        "observations" -> observations,
        "invalid_stg_institutions" -> invalidInstitutions,
        "invalid_stg_users" -> invalidUsers,
        "invalid_stg_insect_observations" -> invalidObservations)
    }
    // every landing has succeeded once concurrently returns
    tables.map { case (name, landed) => name -> landed.value.get.get }
  }
}
