package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span (one job group). */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var jobWallMs = 0L; var schedWaitMs = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var bytesRead = 0L; var recordsRead = 0L; var bytesWritten = 0L; var recordsWritten = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    jobWallMs += o.jobWallMs; schedWaitMs += o.schedWaitMs
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten; recordsWritten += o.recordsWritten
  }
}

/** Collects job, stage and task counters per job group. Scheduler wait is
  * the time from job start to its first stage's submission plus, per
  * stage, the time from submission to the first task launch.
  */
final class SparkCounters extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, Long]()

  private def of(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  def group(id: String): Counters = Option(byGroup.get(id)).getOrElse(new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val c = of(g)
    c.synchronized { c.jobs += 1 }
    e.stageIds.foreach(stageGroup.put(_, g))
    jobInfo.put(e.jobId, (g, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (g, start, stageIds) =>
      val c = of(g)
      val firstSubmit = stageIds.flatMap(s => Option(stageSubmitted.get(s))).minOption
      c.synchronized {
        c.jobWallMs += e.time - start
        firstSubmit.foreach(t => c.schedWaitMs += math.max(0L, t - start))
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) => math.min(a, b))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val c = of(Option(stageGroup.get(id)).getOrElse("none"))
    val wait = for {
      s <- Option(stageSubmitted.get(id)); l <- Option(stageFirstLaunch.get(id))
    } yield math.max(0L, l - s)
    c.synchronized { c.stages += 1; wait.foreach(c.schedWaitMs += _) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(Option(stageGroup.get(e.stageId)).getOrElse("none"))
    c.synchronized {
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesRead += m.inputMetrics.bytesRead; c.recordsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }
}

/** Optimizer plus physical-planning time of every successful query
  * execution, in completion order.
  */
final class PlanTimes extends QueryExecutionListener {
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    done.add(Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum / 1e3)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  /** Planning seconds recorded since the last call. */
  def take(): Double = {
    var s = 0.0
    var v = done.poll()
    while (v != null) { s += v.doubleValue; v = done.poll() }
    s
  }
}

/** One timed region. `group` is the Spark job group its jobs run under. */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Int, val iter: Int, val start: Long) {
  var end: Long = 0L
  var planS: Double = 0.0
  def group: String = s"perfbench-$id"
  def wallS: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run. Spans nest on one thread;
  * each sets its own job group so listener counters land on the innermost
  * span, and restores its parent's group on exit.
  */
final class Tracer(sc: SparkContext, val counters: SparkCounters, val plans: PlanTimes,
    val cores: Int, origin: Long) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var iter = 0

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = new Span(spans.size, name, layer, stack.headOption.fold(-1)(_.id), iter, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def counts(s: Span): Counters = counters.group(s.group)

  /** Counters of `s` and every span below it. */
  def deep(s: Span): Counters = {
    val c = new Counters
    c += counts(s)
    spans.iterator.filter(_.parent == s.id).foreach(ch => c += deep(ch))
    c
  }

  def selfS(s: Span): Double =
    s.wallS - spans.iterator.filter(_.parent == s.id).map(_.wallS).sum

  def json: String = spans.map { s =>
    val c = counts(s)
    s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}","parent":${s.parent},""" +
      s""""iter":${s.iter},"start_s":${(s.start - origin) / 1e9},"end_s":${(s.end - origin) / 1e9},""" +
      s""""plan_s":${s.planS},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      s""""job_wall_s":${c.jobWallMs / 1e3},"task_run_s":${c.runMs / 1e3}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
