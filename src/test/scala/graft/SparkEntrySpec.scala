package graft

import org.scalatest.funsuite.AnyFunSuite

/** The entry registry is the one declaration behind both driver views. */
class SparkEntrySpec extends AnyFunSuite {

  test("registry: a repeated entry name fails the build of the registry") {
    val row = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.distinctNames(Seq(row, row.copy(oracleSql = "SELECT 1"))))
    assert(e.getMessage.contains(row.name))
  }
}
