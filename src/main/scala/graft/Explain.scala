package graft

/** Plan inspector: runs each named declared query (or all of them), then
  * prints `.explain("formatted")` of the QueryExecution that ran — the
  * final adaptive plan (`isFinalPlan=true`) with AQE's runtime choices,
  * not the initial one. The review loop for shuffle counts, exchange
  * reuse, pushdown, and codegen coverage.
  *
  * Usage: tools/run_main.sh graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.start(logLevel = "ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      df.explain("formatted")
    }
    spark.stop()
  }
}
