package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TablesSpec extends AnyFunSuite {
  test("fanned on a table with no registered key names Tables.fanKey") {
    // the key is resolved before the read, so no file is needed
    val e = intercept[IllegalArgumentException] {
      Tables.fanned(TestSpark.spark, TestSpark.tempDir("fan").toString, "nation")
    }
    assert(e.getMessage.contains("Tables.fanKey"))
    assert(e.getMessage.contains("nation"))
  }
}
