package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Land.CkptOps

/** A1/A2/A3: CSV ingestion into all-TEXT staging frames.
  *
  * Mirrors `COPY … DELIMITER ',' CSV HEADER` (02_ETL1_part1.sql:24-27,
  * 03_ETL1_part2.sql:37-51) and the Latin-1 DOPI load
  * (04_ETL1_part3.sql:43-46). Schemas are declared, never inferred — the
  * staging layer is permissive TEXT; typing happens in later validated
  * stages, exactly like the reference.
  */
object Ingest {

  /** Headered CSV → all-string DataFrame with the declared column list. */
  def readCsv(spark: SparkSession, path: String, cols: Seq[String],
              encoding: String = "UTF-8"): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", encoding)
      .schema(Schemas.allString(cols))
      .csv(path)

  /** Institutions staging with the injected country default
    * (02_ETL1_part1.sql:11). */
  def stageInstitutions(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, Schemas.institutionsCsv)
      .withColumn("country", lit("United Kingdom"))

  /** Users staging with the injected country default (03_ETL1_part2.sql:17). */
  def stageUsers(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, Schemas.usersCsv)
      .withColumn("country", lit("United Kingdom"))

  /** DOPI staging: Latin-1 30-column load (04_ETL1_part3.sql:43-46), 30→16
    * projection+rename (:79-114), and a deterministic raw_data_id surrogate
    * (SERIAL replacement, SURVEY.md §1) derived from FILE+OFFSET — ids are
    * assigned in load order exactly like `COPY` feeding a SERIAL column,
    * with NO global sort (the former full-data single-partition window was
    * the one scale-killer on EP1's 100 TB front door).
    *
    * Mechanics: `_metadata` pins each row to its (file, byte-range split);
    * `monotonically_increasing_id` preserves read order within a split
    * (splits are contiguous file ranges read sequentially). A tiny map-side
    * aggregate collects per-split (first_mid, row_count) — O(#splits) DRIVER
    * METADATA, same order as the file listing itself, never row data — from
    * which per-split base offsets in (file, offset) order are computed and
    * broadcast back. raw_data_id = rows-before-this-split + ordinal-in-split
    * + 1: deterministic for a given input (and invariant to the split
    * layout, since "rows before row r in file order" does not depend on
    * where split boundaries fall).
    *
    * NOTE (README.md:19): full-duplicate rows are LEGAL and must all
    * survive — position-derived ids give duplicates distinct ids, never
    * collapsed. The projected rows are landed before any id is derived
    * (below), so every evaluation of the returned frame — every downstream
    * branch — sees one id assignment.
    */
  def stageObservations(spark: SparkSession, path: String): DataFrame = {
    val raw = readCsv(spark, path, Schemas.dopiCsv, encoding = "ISO-8859-1")
    val projected = raw.select(
      col("authors"), col("nbn_pollinator_code"), col("pollinator_species"),
      col("caste"), col("nbn_plant_code"), col("plant_species"),
      col("interactions"),
      col("date").as("obs_date"), col("month").as("obs_month"),
      col("year").as("obs_year"),
      col("latitude"), col("longitude"), col("habitat"),
      col("pollination"), col("pollen"), col("nectar"),
      col("_metadata.file_path").as("_file"),
      col("_metadata.file_block_start").as("_bstart"))
      .withColumn("_mid", monotonically_increasing_id())
      // landed BEFORE the offset collect: both consumers (the per-split
      // metadata aggregate below and the final id join) must see ONE _mid
      // assignment structurally — re-deriving it in two jobs would bet
      // correctness on both planning identical splits and read order
      // (ADVICE r4). The landing job assigns it once; the collect and the
      // join both read the landed rows. Pipeline.cleanup (A10) releases it
      // with the other tables EP1 lands.
      .graftCheckpoint()
    val splits = projected.groupBy(col("_file"), col("_bstart"))
      .agg(min(col("_mid")).as("_mid0"), count(lit(1)).as("_n"))
      .collect()
      .sortBy(r => (r.getString(0), r.getLong(1)))
    val bases = splits.scanLeft(0L)((acc, r) => acc + r.getAs[Long]("_n")).init
    import spark.implicits._
    val offsets = splits.zip(bases).toSeq.map { case (r, base) =>
      (r.getString(0), r.getLong(1), r.getAs[Long]("_mid0"), base)
    }.toDF("_file", "_bstart", "_mid0", "_base")
    projected.join(broadcast(offsets), Seq("_file", "_bstart"))
      .withColumn("raw_data_id", col("_base") + (col("_mid") - col("_mid0")) + 1)
      .select(Schemas.obsStaging.map(col) :+ col("raw_data_id"): _*)
  }
}
