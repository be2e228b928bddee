package graft.etl

import graft.SparkSpec

/** Name-split CASE (03_ETL1_part2.sql:112-121), species normalization
  * (04_ETL1_part3.sql:245-265), and dims loaded from several sources (A6).
  */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  test("name-split: initials + last word for dotted names; whole string otherwise") {
    val out = Normalize.nameSplit(
      Seq("R. E. Chapman", "Sarah A. Corbet", "M. E. Lopezaraiza-Mikel",
        "The North London Natural History Society").toDF("full_name"))
      .select("first_name_or_initials", "last_name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out(0) === (("R. E.", "Chapman")))
    assert(out(1) === (("Sarah A.", "Corbet")))
    assert(out(2) === (("M. E.", "Lopezaraiza-Mikel")))
    assert(out(3) === ((null, "The North London Natural History Society")))
  }

  test("species normalization: INITCAP first word + lowered remainder") {
    val out = Seq("apis MELLIFERA", "Bombus", "prunella Vulgaris subsp. alba")
      .toDF("s").select(Normalize.normalizedSpecies("s"))
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq("Apis mellifera", "Bombus", "Prunella vulgaris subsp. alba"))
  }

  private def ids(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("buildDim: a later source adds only new keys numbered after earlier ones") {
    val out = Normalize.buildDim(
      Seq(Seq("Free", "Pro").toDF("name"), Seq("Pro", "HiveMind", "BeeWatch+").toDF("name")),
      "id", Seq("name"))
    assert(ids(out) === Set((1L, "Free"), (2L, "Pro"), (3L, "BeeWatch+"), (4L, "HiveMind")))
  }

  test("buildDim: a repeated source adds no key") {
    val sources = Seq(Seq("Free").toDF("name"), Seq("Free", "Pro").toDF("name"))
    val once = Normalize.buildDim(sources, "id", Seq("name"))
    val twice = Normalize.buildDim(sources :+ sources.last, "id", Seq("name"))
    assert(ids(once) === Set((1L, "Free"), (2L, "Pro")))
    assert(ids(twice) === ids(once))
  }
}
