package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** B9/A6/D7 + §H: dimension normalization — EP1's one id-numbering rule,
  * species-name normalization, and the user name-split.
  */
object Normalize {

  /** Number `df`'s rows 1..n in `order`, appending the id as `idCol`: the
    * SERIAL column made deterministic. One unpartitioned window — valid for
    * the bounded OLTP domains EP1 numbers (countries/counties/species/users
    * /…); a high-cardinality table would switch to hash surrogate keys (see
    * CoreOps.ciJoin).
    */
  def numbered(df: DataFrame, idCol: String, order: Column*): DataFrame =
    df.withColumn(idCol, row_number().over(Window.orderBy(order: _*)).cast("long"))

  /** A dim loaded from `sources` in turn, each inserting the keys no earlier
    * source holds (ON CONFLICT DO NOTHING / NOT IN analog,
    * 02_ETL1_part1.sql:37-78 then 03_ETL1_part2.sql:76-105): each distinct
    * key is numbered by (index of the first source holding it, key order),
    * which is what appending each source's new keys after the existing
    * maximum gives. NULL never equals NULL under NOT IN, so a key with a
    * NULL column is new in every source that holds it and is numbered once
    * per such source. Returns (idCol, keyCols…).
    */
  def buildDim(sources: Seq[DataFrame], idCol: String, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val tagged = sources.zipWithIndex
      .map { case (s, i) => s.select(keys :+ lit(i).as("_src"): _*) }
      .reduce(_ unionAll _)
    // complete keys group across sources; a key with a NULL groups per source
    val group = when(keys.map(_.isNotNull).reduce(_ && _), lit(-1)).otherwise(col("_src"))
    val firsts = tagged.groupBy(keys :+ group.as("_group"): _*).agg(min("_src").as("_src"))
    numbered(firsts, idCol, col("_src") +: keys: _*).select((idCol +: keyCols).map(col): _*)
  }

  /** Species normalization (04_ETL1_part3.sql:245-265, 295-315):
    * INITCAP(first word) + ' ' + lower(rest of the string). Takes the column
    * NAME so the rest-of-string substring can reference it by position.
    */
  def normalizedSpecies(colName: String): Column =
    concat(
      initcap(split(col(colName), " ").getItem(0)),
      when(instr(col(colName), " ") > 0,
        concat(lit(" "),
          lower(expr(s"substring($colName, instr($colName, ' ') + 1)"))))
        .otherwise(lit("")))

  /** Name-split CASE (03_ETL1_part2.sql:112-121): full names matching
    * '%.% %' split into (initials, last word); otherwise the whole string is
    * the last name and initials are null.
    */
  def nameSplit(df: DataFrame, fullName: String = "full_name"): DataFrame = {
    val fn = col(fullName)
    val isSplit = fn.like("%.% %")
    df
      .withColumn("first_name_or_initials",
        when(isSplit, expr(s"left($fullName, length($fullName) - instr(reverse($fullName), ' '))"))
          .otherwise(lit(null).cast("string")))
      .withColumn("last_name",
        when(isSplit, element_at(split(fn, " "), -1)).otherwise(fn))
  }
}
