package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.SparkSpec

/** ScalaCheck pin of EP1's numbering rule (A6): for ANY list of sources,
  * `Normalize.buildDim` gives exactly the dim the reference's load order
  * gives — the first source numbered in key order, then each later source
  * inserting, after the current maximum id, the keys absent so far (NOT IN:
  * a key with a NULL column is never found, so it is inserted again).
  */
object NormalizeProps extends Properties("Normalize") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val keyCols = Seq("name", "code")

  // The insert-per-source chain that buildDim replaces, kept as the reference.
  private def first(incoming: DataFrame): DataFrame =
    incoming.select(keyCols.map(col): _*).distinct()
      .withColumn("id", row_number().over(Window.orderBy(keyCols.map(col): _*)).cast("long"))
      .select(("id" +: keyCols).map(col): _*)

  private def upsert(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val newRows = incoming.select(keyCols.map(col): _*).distinct()
      .join(existing.select(keyCols.map(col): _*), keyCols, "left_anti")
    val base = existing.agg(coalesce(max(col("id")), lit(0L)).as("max_id"))
    val appended = newRows
      .withColumn("rn", row_number().over(Window.orderBy(keyCols.map(col): _*)).cast("long"))
      .crossJoin(broadcast(base))
      .withColumn("id", col("max_id") + col("rn"))
      .select(existing.columns.toIndexedSeq.map(col): _*)
    existing.unionAll(appended)
  }

  // Small domains, so keys repeat within and across sources; NULLs in
  // either column; any source may be empty — an empty first source is an
  // institutions file that yielded no valid rows.
  private val genKey: Gen[(Option[String], Option[Int])] = for {
    name <- Gen.option(Gen.oneOf("a", "b", "c"))
    code <- Gen.frequency(3 -> Gen.choose(1, 3).map(Option(_)), 1 -> Gen.const(None))
  } yield (name, code)

  private val genSources: Gen[List[List[(Option[String], Option[Int])]]] = for {
    n <- Gen.choose(1, 4)
    sources <- Gen.listOfN(n, Gen.choose(0, 5).flatMap(Gen.listOfN(_, genKey)))
  } yield sources

  private def rows(df: DataFrame) = df.collect().toSeq
    .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getAs[Integer](2)).map(_.toInt)))
    .sorted

  property("buildDim numbers its sources as the insert-per-source chain does") =
    Prop.forAll(genSources) { keys =>
      val sources = keys.map(_.toDF(keyCols: _*))
      val built = Normalize.buildDim(sources, "id", keyCols)
      val chained = sources.tail.foldLeft(first(sources.head))(upsert)
      built.columns.toSeq == chained.columns.toSeq && rows(built) == rows(chained)
    }
}
