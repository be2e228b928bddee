package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec

/** EP1's geography on a hand fixture: countries, counties and cities are
  * each built once from the institutions staging then the users staging,
  * with the ids the reference's part-1-then-part-2 load gives
  * (02_ETL1_part1.sql:37-78, 03_ETL1_part2.sql:76-105).
  *
  * Counties: the institutions file introduces Alpha and Beta; the users file
  * introduces Aardvark and Zulu and repeats Beta. Cities: Twin exists under
  * Alpha and Beta (institutions) and under Aardvark (users); Lonetown comes
  * with a county only from the users file.
  */
class GeographySpec extends SparkSpec {

  private lazy val tables: Map[String, Set[Seq[Any]]] = {
    val dir = Files.createTempDirectory("graft-geo")
    def write(name: String, lines: String*) = Files.write(dir.resolve(name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8)).toString
    val institutions = write("institutions.csv",
      Schemas.institutionsCsv.mkString(","),
      "Inst A,Twin,Alpha",
      "Inst B,Twin,Beta",
      "Inst NoCounty,Lonetown,")
    val users = write("users.csv",
      Schemas.usersCsv.mkString(","),
      "A. B. Smith,smith,smith@example.org,Inst A,2020-01-01,Twin,Aardvark,Free,2020-01-01,2020-01-01",
      "C. D. Jones,jones,jones@example.org,Inst B,2020-01-01,Lonetown,Zulu,Pro,2020-01-01,2020-01-01",
      "E. F. Brown,brown,brown@example.org,Inst B,2020-01-01,Twin,Beta,Free,2020-01-01,2020-01-01")
    val out = Pipeline.runEtl1(spark, institutions, users, DopiFixture.write(dir))
    try Seq("counties", "cities", "institutions")
      .map(t => t -> out(t).collect().map(_.toSeq).toSet).toMap
    finally Pipeline.cleanup(spark)
  }

  test("a county both files introduce keeps its institutions-pass id; users-only keys follow in key order") {
    assert(tables("counties") === Set(
      Seq(1L, "Alpha", 1L), Seq(2L, "Beta", 1L), Seq(3L, "Aardvark", 1L), Seq(4L, "Zulu", 1L)))
    assert(tables("cities") === Set(
      Seq(1L, "Twin", 1L), Seq(2L, "Twin", 2L), Seq(3L, "Lonetown", 4L), Seq(4L, "Twin", 3L)))
  }

  test("a city name under two counties gives its institutions the lower id") {
    val cityOf = tables("institutions").map(r => r(1) -> r(2)).toMap
    assert(cityOf("Inst A") === 1L)
    assert(cityOf("Inst B") === 1L)
  }

  test("an institution with a city but no county gets a NULL city_id, though a user row introduces that city") {
    assert(tables("institutions") === Set(
      Seq(1L, "Unaffiliated", null), Seq(2L, "Inst A", 1L), Seq(3L, "Inst B", 1L),
      Seq(4L, "Inst NoCounty", null)))
  }
}
