package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TablesSpec extends AnyFunSuite {
  test("fanned names the Tables.fanKey registry for an unregistered table") {
    val e = intercept[IllegalArgumentException] {
      Tables.fanned(TestSpark.spark, "unused-sf-dir", "no_such_table")
    }
    assert(e.getMessage.contains("no_such_table"))
    assert(e.getMessage.contains("Tables.fanKey"))
  }
}
