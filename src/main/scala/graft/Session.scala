package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for the mains and the test harness:
  * `local[cpus]` with `shuffle.partitions = cpus`, UTC, the
  * `nanosAsLong` flag the events fixture needs (see `Tables.events`) and
  * no UI. `cpus` comes from SPARK_GRAFT_CPUS, default 4.
  */
object Session {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def builder(threads: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def start(b: SparkSession.Builder = builder(),
            logLevel: String = "WARN"): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The declared queries a main runs: every key of `SparkEntry.queries`,
    * or the comma-separated subset in SPARK_GRAFT_ONLY. A name that is
    * not in the registry aborts the run, so a typo cannot time or dump
    * zero queries and look like success.
    */
  def queryNames(): Seq[String] = {
    val all = SparkEntry.queries.keySet
    sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => all.toSeq.sorted
      case Some(only) =>
        val unknown = only -- all
        require(unknown.isEmpty, "SPARK_GRAFT_ONLY names queries missing " +
          s"from SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
        only.toSeq.sorted
    }
  }
}
