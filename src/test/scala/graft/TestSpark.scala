package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM (suites run
  * sequentially in sbt's single forked process), built by the mains'
  * factory [[Session]] at 2 threads, plus a private warehouse dir.
  */
object TestSpark {
  lazy val spark: SparkSession = Session.start(
    Session.builder(2)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-warehouse").toString),
    logLevel = "ERROR")

  /** Write `content` as `<dir>/<name>` (UTF-8 unless bytes given). */
  def csvFile(dir: Path, name: String, content: String,
              charset: String = "UTF-8"): Path =
    Files.write(dir.resolve(name), content.getBytes(charset))

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }
}
