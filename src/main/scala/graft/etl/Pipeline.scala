package graft.etl

import scala.concurrent.Future
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Land
import graft.olap.{Dims, Facts}

/** EP1+EP2 orchestration (SURVEY.md §3): CSV → staging → validate/
  * quarantine → normalized OLTP → star schema, re-enacting
  * 02_ETL1_part1.sql → 08_ETL2_part2.sql over the real mock CSVs (+ a
  * DOPI-shaped CSV). Where the reference writes a real table (A3/A12), the
  * run lands the frame through [[graft.Land]], once: every returned table,
  * and every intermediate more than one later step reads (the staging
  * frames and the scrubbed observation staging). So no consumer re-runs an
  * upstream step, and the reliable-checkpoint switch covers EP1 too. Every
  * OLTP id comes from [[Normalize]]'s one numbering rule, and each
  * geography dim is built once, from both staging files. EP1 lands as a DAG
  * ([[graft.Land.concurrently]]): each table lands as soon as the tables
  * it reads have landed, so the institutions/users chain and the
  * observations chain run side by side until `observations` joins them.
  * [[run]] is the one EP1+EP2 entry point: it extends the same DAG with the
  * star dimensions and facts. [[cleanup]] releases it all (A10).
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

  /** The pins taken since the latest run began; [[cleanup]]
    * releases them. A run started before the previous run's cleanup
    * leaves that run's tables pinned for the rest of the session. */
  private var pins: Option[Land.CacheScope] = None

  /** A10: drop every table the run landed — staging, intermediates and the
    * returned tables alike (02_ETL1_part1.sql:81, 04_ETL1_part3.sql:457-458)
    * — with [[graft.Land.CacheScope]]'s sweep, which takes everything
    * pinned since the latest run began. Call once the outputs are written:
    * the returned frames must not be read after it. */
  def cleanup(spark: SparkSession): Unit = synchronized {
    pins.foreach(_.releaseAll())
    pins = None
  }

  /** Bound on one run's wait for its landings: past it the run cancels the
    * context's jobs, so one wedged job cannot hang its caller. */
  private val Limit = 10.minutes

  /** Run ETL1 end-to-end as a DAG of landings. Returns every OLTP table plus
    * the quarantine tables, keyed by reference table name, each landed; it
    * returns once all of them have landed, and on failure once every
    * landing it started has ended, rethrowing the first error.
    */
  def runEtl1(spark: SparkSession, institutionsCsv: String, usersCsv: String,
              observationsCsv: String): Map[String, DataFrame] =
    landed(spark)(etl1(spark, institutionsCsv, usersCsv, observationsCsv, _))

  /** EP1+EP2 as one DAG of landings: [[runEtl1]]'s tables, then the 10 star
    * dimensions ([[graft.olap.Dims]]) once every EP1 table has landed, then
    * the 3 facts ([[graft.olap.Facts]]) once the dimensions have. Returns
    * all 32 tables, landed, on [[runEtl1]]'s terms.
    */
  def run(spark: SparkSession, institutionsCsv: String, usersCsv: String,
          observationsCsv: String): Map[String, DataFrame] =
    landed(spark) { dag =>
      import dag.ec
      val oltp = etl1(spark, institutionsCsv, usersCsv, observationsCsv, dag)
      val dims = dag.landAll(oltp.map(Dims.build))
      val facts = dag.landAll(for (o <- oltp; d <- dims) yield Facts.build(o, d))
      for (o <- oltp; d <- dims; f <- facts) yield o ++ d ++ f
    }

  /** Open the run's pins, start its landings and wait for all of them; once
    * `concurrently` returns, every landing has succeeded. */
  private def landed(spark: SparkSession)(
      start: Land.Jobs => Future[Map[String, DataFrame]]): Map[String, DataFrame] = {
    synchronized { pins = Some(new Land.CacheScope(spark)) }
    Land.concurrently(spark, Limit)(start).value.get.get
  }

  /** EP1's landings, each started on `dag` once the tables it reads have
    * landed; the returned tables once all of them have. */
  private def etl1(spark: SparkSession, institutionsCsv: String, usersCsv: String,
                   observationsCsv: String, dag: Land.Jobs): Future[Map[String, DataFrame]] = {
    import dag.ec

    // Geography is built once per dim, from the institutions staging then
    // the users staging (02_ETL1_part1.sql:37-78, 03_ETL1_part2.sql:76-105).
    // Both stagings inject the same country, so each file's county and city
    // names resolve to the rows the institutions pass alone would build.
    def countiesIn(stg: DataFrame, countries: DataFrame) =
      stg.join(countries, stg("country") === countries("country_name"))
        .filter(col("county").isNotNull)
        .select(col("county").as("county_name"), col("country_id"))

    def citiesIn(stg: DataFrame, counties: DataFrame) =
      stg.join(counties, stg("county") === counties("county_name"))
        .filter(col("city").isNotNull)
        .select(col("city").as("city_name"), col("county_id"))

    // One row per `key`, the first in `order`. DISTINCT ON keeps an
    // arbitrary row where its ORDER BY ties and dropDuplicates any row; each
    // dedup here orders by enough columns to keep the same row every run.
    def firstPer(df: DataFrame, key: String, order: Column*): DataFrame =
      df.withColumn("rn", row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
        .filter(col("rn") === 1).drop("rn")

    // Cities are keyed (city_name, county_id) but staging rows carry only a
    // name; a name existing under two counties would fan out the join and
    // duplicate the already-deduped users/institutions. We keep the lowest
    // city_id — the reference's outcome whenever names are unique.
    def cityByName(cities: DataFrame): DataFrame = firstPer(cities, "city_name", col("city_id"))

    // SCD2 versions of one user attribute `attr` = (id, name)
    // (03_ETL1_part2.sql:136-188, :190-246): each staging row's (user, id,
    // start) version, deduped, end-dated and numbered in (user, start, id)
    // order. The version rows have this one reader, so they are not landed
    // on their own.
    def scd2Versions(uv: DataFrame, users: DataFrame, attr: DataFrame,
        nameCol: String, startCol: String, idCol: String): DataFrame = {
      val Array(attrId, attrName) = attr.columns
      val versions = uv.join(users.select(col("user_id"), col("username")), Seq("username"))
        .join(broadcast(attr), uv(nameCol) === col(attrName))
        .select(col("user_id"), col(attrId),
          to_date(col(startCol), "yyyy-MM-dd").as("start_date"))
      Normalize.numbered(
        Scd2.endDate(Scd2.dedupVersions(versions, Seq("user_id", attrId, "start_date")),
          "user_id", "start_date", Seq(attrId)),
        idCol, col("user_id"), col("start_date"), col(attrId))
    }

    // Species dim (04_ETL1_part3.sql:245-265, 295-315): one row per
    // normalized species_name, keeping the LOWEST nbn_code (nulls last).
    def speciesDim(ov: DataFrame, speciesCol: String, codeCol: String, idCol: String) =
      Normalize.buildDim(Seq(firstPer(
          ov.filter(col(speciesCol).isNotNull).select(upper(col(codeCol)).as("nbn_code"),
            Normalize.normalizedSpecies(speciesCol).as("species_name")),
          "species_name", col("nbn_code").asc_nulls_last)),
        idCol, Seq("species_name", "nbn_code"))
        .select(col(idCol), col("nbn_code"), col("species_name"))

    // ---- parts 1-2: institutions, users, SCD2 (02_ETL1_part1.sql,
    // 03_ETL1_part2.sql) ----------------------------------------------------
    val instSplit = Future(Validate.splitFirstMatch(
      Ingest.stageInstitutions(spark, institutionsCsv), Validate.institutionRules))
    val instValid = dag.land(instSplit.map(_._1)) // A3 staging materialization
    val invalidInstitutions = dag.land(instSplit.map(_._2))
    val usersSplit = Future(Validate.splitFirstMatch(
      Ingest.stageUsers(spark, usersCsv), Validate.userRules))
    val usersValid = dag.land(usersSplit.map(_._1))
    val invalidUsers = dag.land(usersSplit.map(_._2))

    // A6: the users staging adds its own geography keys too; without it the
    // user-side chain would depend on the institutions file having yielded
    // valid rows (03_ETL1_part2.sql:77-84)
    val countries = dag.land(for (iv <- instValid; uv <- usersValid) yield Normalize.buildDim(
      Seq(iv, uv).map(_.filter(col("country").isNotNull).select(col("country").as("country_name"))),
      "country_id", Seq("country_name")))
    val counties = dag.land(for (iv <- instValid; uv <- usersValid; c <- countries) yield
      Normalize.buildDim(Seq(iv, uv).map(countiesIn(_, c)),
        "county_id", Seq("county_name", "country_id")))
    val cities = dag.land(for (iv <- instValid; uv <- usersValid; c <- counties) yield
      Normalize.buildDim(Seq(iv, uv).map(citiesIn(_, c)),
        "city_id", Seq("city_name", "county_id")))

    // Part 1 runs before part 2, so an institution looks its city up only
    // among the keys the institutions file introduced. The dim keys on
    // (name, city); the reference keys on name alone, so the lowest id per
    // name is kept
    val institutions = dag.land(for (iv <- instValid; co <- counties; c <- cities) yield {
      val instCities = c.join(citiesIn(iv, co), Seq("city_name", "county_id"), "left_semi")
      firstPer(
        Normalize.buildDim(Seq(seedInstitutions(spark),
          iv.join(cityByName(instCities), iv("city") === col("city_name"), "left")
            .filter(col("institution").isNotNull)
            .select(col("institution").as("institution_name"), col("city_id"))),
          "institution_id", Seq("institution_name", "city_id")),
        "institution_name", col("institution_id"))
    })

    // DISTINCT ON (username) ORDER BY username, join_date → earliest row
    // wins; email/city complete the tiebreak so two staging rows tied on
    // (join_date, full_name) cannot flip the surviving email between runs
    val users = dag.land(for (uv <- usersValid; c <- cities) yield Normalize.numbered(
      Normalize.nameSplit(firstPer(uv, "username",
          col("join_date"), col("full_name"), col("email"), col("city")))
        .join(cityByName(c), uv("city") === col("city_name"), "left")
        .select(col("username"), col("email"), col("first_name_or_initials"),
          col("last_name"), col("city_id"),
          to_date(col("join_date"), "yyyy-MM-dd").as("join_date")),
      "user_id", col("username")))

    val subTypes = dag.land(Future(subscriptionTypes(spark)))

    val userSubscription = dag.land(for (uv <- usersValid; u <- users; st <- subTypes) yield
      scd2Versions(uv, u, st, "subscription_type", "subscription_start", "user_subscription_id"))
    val userInstitution = dag.land(for (uv <- usersValid; u <- users; inst <- institutions) yield
      scd2Versions(uv, u, inst.select(col("institution_id"), col("institution_name")),
        "institution", "affiliation_start", "user_institution_id"))

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

    val plantSpecies = dag.land(obsValid.map(
      speciesDim(_, "plant_species", "nbn_plant_code", "plant_id")))
    val pollinatorSpecies = dag.land(obsValid.map(
      speciesDim(_, "pollinator_species", "nbn_pollinator_code", "pollinator_id")))

    val castes = dag.land(obsValid.map(ov => Normalize.buildDim(
      Seq(ov.filter(col("caste").isNotNull).select(trim(col("caste")).as("caste_name"))),
      "caste_id", Seq("caste_name"))))

    val pollinatorCaste = dag.land(
      for (ov <- obsValid; ps <- pollinatorSpecies; ca <- castes) yield Normalize.numbered(ov
        .filter(col("pollinator_species").isNotNull && col("caste").isNotNull)
        .join(ps, lower(ps("species_name")) === lower(col("pollinator_species")))
        .join(broadcast(ca), ca("caste_name") === trim(col("caste")))
        .select(col("pollinator_id"), col("caste_id")).distinct(),
        "pollinator_caste_id", col("pollinator_id"), col("caste_id")))

    val locations = dag.land(obsValid.map(ov => Normalize.buildDim(
      Seq(ov.filter(col("latitude").isNotNull && col("longitude").isNotNull)
        .select(col("latitude").cast("decimal(9,6)").as("latitude"),
          col("longitude").cast("decimal(9,6)").as("longitude"))),
      "location_id", Seq("latitude", "longitude"))))

    val habitats = dag.land(obsValid.map(ov => Normalize.buildDim(
      Seq(ov.filter(col("habitat").isNotNull).select(initcap(trim(col("habitat"))).as("habitat_name"))),
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

    dag.all(Map(
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
      "invalid_stg_insect_observations" -> invalidObservations))
  }
}
