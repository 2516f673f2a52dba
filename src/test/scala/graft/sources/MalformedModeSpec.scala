package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.{csvFile, tempDir}

/** Defective-row policy (R9; reference src/CSVSourceReader.cs:53-56,
  * 168-211): skip-and-continue under Drop (IgnoreDefectiveRows), abort the
  * job under Fail.
  */
class MalformedModeSpec extends AnyFunSuite {
  private val good = "id;name\n1;a\n2;b\n3;c\n"
  private val bad = "4;too;many;fields\n6\n\"5;unclosed\n"

  private def read(mode: MalformedMode): org.apache.spark.sql.DataFrame = {
    val dir = tempDir("mal")
    val f = csvFile(dir, "t.csv", good + bad)
    CsvCatalog.readTable(TestSpark.spark, f, CsvDialect(malformed = mode))
  }

  test("Drop skips malformed rows and keeps every good row") {
    val rows = read(MalformedMode.Drop).collect()
    assert(rows.map(_.getString(0)).toSet == Set("1", "2", "3"))
    // a subset read judges the whole row too, not just the read column
    val ids = read(MalformedMode.Drop).select("id").collect()
    assert(ids.map(_.getString(0)).toSet == Set("1", "2", "3"))
  }

  test("Fail aborts the action on the first malformed row") {
    assertThrows[Exception] {
      read(MalformedMode.Fail).collect()
    }
    assertThrows[Exception] {
      read(MalformedMode.Fail).select("id").collect()
    }
  }
}
