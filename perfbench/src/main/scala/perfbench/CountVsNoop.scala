package perfbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** Times declared queries two ways: `.count()` and the noop sink. Catalyst
  * prunes every output column a count does not need, so a count can skip
  * most of a query's work; the noop sink computes every column.
  *
  * Usage: `CountVsNoop <tablesDir> <cpus> <query>...`; prints one line per
  * query with the median of 5 warm runs of each action.
  */
object CountVsNoop {
  def main(args: Array[String]): Unit = {
    val Array(tables, cpus) = args.take(2)
    val spark = Harness.session(cpus.toInt,
      java.nio.file.Paths.get(".bench_build", "perfbench", "probe").toAbsolutePath)
    def time(q: String, action: DataFrame => Unit): Double = {
      val runs = (1 to 6).map { _ =>
        val t0 = System.nanoTime()
        action(SparkEntry.queries(q)(spark, tables))
        (System.nanoTime() - t0) / 1e9
      }.drop(1).sorted
      runs(runs.size / 2)
    }
    args.drop(2).foreach { q =>
      val byCount = time(q, _.count())
      val byNoop = time(q, _.write.format("noop").mode("overwrite").save())
      println(f"$q count=$byCount%.3f s noop=$byNoop%.3f s")
    }
    spark.stop()
  }
}
