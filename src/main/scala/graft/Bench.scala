package graft
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import graft.operators.ModelCache

/** Benchmark main: times the declared queries at SPARK_GRAFT_SF_DIR (all
  * of them, or the SPARK_GRAFT_ONLY subset) and emits ONE JSON metric line.
  * The JSON is printed to stdout, and a fuller record is written to
  * `bench_result.json` in the cwd. One warmup action runs first so the
  * first timed query doesn't pay session/codegen startup.
  *
  * Per-query times are the MIN OF 3 passes (SPARK_GRAFT_BENCH_PASSES to
  * override): single-pass times at sf0.1 vary ±30% run-to-run (SCALE.md).
  * `value` is the sum of the per-query minima; the raw per-pass totals ride
  * along in `pass_totals` so a single-pass figure stays reconstructable.
  *
  * Each timed run is the work of `Dataset.count()` in three phases: build
  * (the query call, incl. any eager driver-side actions), plan
  * (`groupBy().count()` and its `executedPlan`) and exec (`collect()` on
  * that same QueryExecution, incl. AQE replanning and every job). Every run
  * carries its own job group, so a listener attributes jobs, stages, tasks,
  * shuffle bytes and spill to it; `bench_result.json` gets the split and
  * counts of the pass that gave each query's minimum ("profile").
  */
object Bench {
  private final case class Run(seconds: Double, phases: Option[Seq[Double]])

  /** Spark work that ran under one job group. */
  private final class Work {
    var jobs, stages, tasks = 0
    var shuffleRead, shuffleWrite, spill = 0L
    def json: String = s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""shuffle_read_bytes":$shuffleRead,"shuffle_write_bytes":$shuffleWrite,"spill_bytes":$spill"""
  }

  /** Sums Spark's events per job group. Events arrive on the listener bus
    * thread; read `work` only after `spark.stop()`, which drains the bus. */
  private final class GroupListener extends SparkListener {
    val work = mutable.Map.empty[String, Work]
    private val stageGroup = mutable.Map.empty[Int, String]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          work.getOrElseUpdate(g, new Work).jobs += 1
          j.stageIds.foreach(stageGroup(_) = g)
        }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stageGroup.get(s.stageInfo.stageId).foreach(work(_).stages += 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      stageGroup.get(t.stageId).foreach { g =>
        val w = work(g)
        w.tasks += 1
        Option(t.taskMetrics).foreach { m =>
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.diskBytesSpilled
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_COLD=1: one pass with both cache layers off
    // (ModelCache unset, which also disables StageCache) — every query
    // computes its declared result from the parquet inputs with nothing
    // amortized. Default mode is min-of-3 with caches on; per-query PASS-1
    // times land in bench_result.json ("queries_pass1") either way.
    val cold = sys.env.get("SPARK_GRAFT_BENCH_COLD").contains("1")
    require(!cold || ModelCache.root.isEmpty, "SPARK_GRAFT_BENCH_COLD=1 " +
      s"needs the model cache off, but it is set to ${ModelCache.root.get} " +
      "through -Dgraft.model.cache or GRAFT_MODEL_CACHE")
    val passes =
      if (cold) 1 else sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val names = Session.queryNames()
    // persist one-time tuning/training artifacts across bench JVMs, keyed
    // on the corpus files' fingerprint (graft.operators.ModelCache) — a
    // fresh process's pass 1 then costs near a warm pass
    if (!cold) ModelCache.enableDefaultIfUnset()
    val spark = Session.start()
    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)
    // Warmup: spin up executors + codegen + parquet footer reads once,
    // including the events nanos conversion path.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try SparkEntry.queries("b5_hash_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Fail loud: a throwing query must surface as a failure, not as a
    // suspiciously fast time — a query that failed in ANY pass reports
    // "err" instead of a number, and the summary carries a failure count.
    val runs = (1 to passes).map { pass =>
      // a full collection at the pass boundary keeps the previous pass's
      // garbage (codegen classes, broadcast blocks, shuffle buffers) out
      // of this pass's timed region
      if (pass > 1) System.gc()
      names.map { name =>
        sc.setJobGroup(s"$name#$pass", name)
        val t0 = System.nanoTime()
        val phases =
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            val t1 = System.nanoTime()
            val c = df.groupBy().count()
            c.queryExecution.executedPlan
            val t2 = System.nanoTime()
            c.collect()
            Some(Seq(t1 - t0, t2 - t1, System.nanoTime() - t2).map(_ / 1e9))
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
              None
          }
        Run(phases.fold((System.nanoTime() - t0) / 1e9)(_.sum), phases)
      }
    }
    sc.clearJobGroup()
    val failed = names.indices.filter(i => runs.exists(_(i).phases.isEmpty)).map(names)
    val best = names.indices.map(i => runs.indices.minBy(p => runs(p)(i).seconds))
    val minPer = names.indices.map(i => runs(best(i))(i).seconds)
    // The stdout reader keeps only the LAST ~2000 chars and sbt's
    // "[success] Total time" trailer eats ~85 of those, so the stdout line
    // must stay well under ~1900 chars as the query count grows. Stdout
    // gets centisecond-rounded times; bench_result.json keeps full
    // precision and the raw pass totals.
    def fmt(v: Double, dp: Int): String = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    def qsJson(keep: Set[String]): String = names.zip(minPer).collect {
      case (k, _) if failed.contains(k) => "\"" + k + "\":\"err\""
      case (k, v) if keep(k) => "\"" + k + "\":" + fmt(v, 2)
    }.mkString("{", ",", "}")
    val total = names.indices.collect { case i if !failed.contains(names(i)) => minPer(i) }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "failed" rides on stdout only when nonempty — every byte of the
    // stdout line competes with query-count growth for the tail window.
    val failedStdout =
      if (failed.isEmpty) "" else s""","failed":$failedJson"""
    def line(keep: Set[String], omitted: Int): String = {
      val om = if (omitted == 0) "" else s""","queries_omitted":$omitted"""
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":${qsJson(keep)},"sf":"$sfDir","failed_count":${failed.size}$failedStdout$om}"""
    }
    // If the full map would overflow that window, shed the CHEAPEST
    // queries from stdout first (failures always stay).
    val budget = 1890
    val byCost = names.filterNot(failed.contains).sortBy(n => minPer(names.indexOf(n)))
    var keep = names.toSet -- failed
    var out = line(keep, 0)
    var shed = 0
    while (out.length > budget && shed < byCost.length) {
      keep -= byCost(shed); shed += 1
      out = line(keep, shed)
    }
    println(out)
    spark.stop() // drains the listener bus: listener.work is complete
    def perQuery(v: Int => String): String = names.indices.map { i =>
      "\"" + names(i) + "\":" + (if (failed.contains(names(i))) "\"err\"" else v(i))
    }.mkString("{", ",", "}")
    val full = perQuery(i => minPer(i).toString)
    // per-query PASS-1 times: StageCache/ModelCache population lands in
    // pass 1, so this map includes every query's own stage builds; the
    // min-of-n map above is the steady-state number
    val pass1 = names.indices.map { i =>
      val r = runs.head(i)
      "\"" + names(i) + "\":" + (if (r.phases.isEmpty) "\"err\"" else r.seconds.toString)
    }.mkString("{", ",", "}")
    val profile = perQuery { i =>
      val Seq(build, plan, exec) = runs(best(i))(i).phases.get
      val w = listener.work.getOrElse(s"${names(i)}#${best(i) + 1}", new Work)
      s"""{"pass":${best(i) + 1},"build_s":$build,"plan_s":$plan,"exec_s":$exec,${w.json}}"""
    }
    val passTotalsFull = runs.map(_.map(_.seconds).sum).mkString("[", ",", "]")
    Files.writeString(
      Paths.get("bench_result.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$full,"queries_pass1":$pass1,"profile":$profile,"cold":$cold,"sf":"$sfDir","passes":$passes,"pass_totals":$passTotalsFull,"failed_count":${failed.size},"failed":$failedJson}""" + "\n")
  }
}
