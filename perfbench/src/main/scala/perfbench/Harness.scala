package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators._
import graft.sources.{CsvCatalog, CsvDialect, CsvWrite, DecimalMode, MalformedMode}

/** Bookkeeping shared by the timing loop and the workloads. */
final class Ctx(val seed: Long, val work: Path) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  val latencies = ArrayBuffer[Double]()
  val perQuery = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val checks = ArrayBuffer[(String, String)]()

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }
}

/** One benchmark workload. `iterate` runs one timed iteration and returns
  * its wall seconds; `traced` runs one iteration under a [[Tracer]] and
  * returns the wall seconds of the part that equals an untraced iteration.
  */
trait Workload {
  /** The first touch of the inputs through the program's public calls; the
    * last step of set-up.
    */
  def touch(spark: SparkSession): Unit
  /** Untimed iterations before the timed region; `seconds` is the length
    * of the timed region.
    */
  def warmup(spark: SparkSession, ctx: Ctx, seconds: Double): Unit
  def iterate(spark: SparkSession, ctx: Ctx): Double
  def traced(spark: SparkSession, ctx: Ctx, t: Tracer): Double
  /** Untimed output checks after the timed region. */
  def check(spark: SparkSession, ctx: Ctx): Unit
  def layers(t: Tracer, iter: Int): Map[String, Double]
}

object Harness {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Memoized models and shared stage frames must be off: every number this
    * benchmark reports is computed from the inputs within the run.
    */
  def requireCold(): Unit = {
    val set = Seq(
      sys.props.get("graft.model.cache").map("-Dgraft.model.cache=" + _),
      sys.env.get("GRAFT_MODEL_CACHE").map("GRAFT_MODEL_CACHE=" + _)).flatten
    if (set.nonEmpty || StageCache.enabled || ModelCache.root.nonEmpty)
      throw new IllegalStateException(
        s"the benchmark must run without ModelCache/StageCache, but ${set.mkString(", ")} is set")
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def median(v: Seq[Double]): Double =
    if (v.isEmpty) Double.NaN
    else {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val processStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val setupOnly = args.contains("--setup-only")
    val cpus = arg(args, "cpus").toInt
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val out = Paths.get(arg(args, "out"))
    Files.createDirectories(work)
    requireCold()
    val ctx = new Ctx(seed, work)

    val w: Workload = workload match {
      case "csv_import" =>
        new Etl(Paths.get(arg(args, "csv")).toAbsolutePath, work.resolve("out"),
          Manifest.load(Paths.get(arg(args, "csv")).resolve("manifest.json")))
      case "tpch_relational" =>
        new Queries(arg(args, "queries").split(",").toSeq, arg(args, "tables"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: from process start through the session to the end of the
    // first touch of the inputs through the program. A set-up-only run
    // stops here; run.py starts it in fresh processes for more samples.
    val spark = session(cpus, work)
    w.touch(spark)
    val setupS = (System.currentTimeMillis() - processStart) / 1e3
    if (setupOnly) {
      spark.stop()
      Files.writeString(out, Json.obj(Seq("setup_s" -> Json.num(setupS))) + "\n")
      return
    }

    val warm0 = System.nanoTime()
    w.warmup(spark, ctx, seconds)
    val warmupS = (System.nanoTime() - warm0) / 1e9

    // timed region (untraced); in a traced run half the time goes here
    val budget = if (trace) seconds / 2 else seconds
    val iters = ArrayBuffer[Double]()
    val start = System.nanoTime()
    // stop before an iteration that would overrun the budget
    while (iters.size < 3 || iters.sum + iters.last <= budget)
      iters += w.iterate(spark, ctx)
    // what survives a full collection after the timed region is the heap
    // the program retains: caches, memos and Spark's own bookkeeping. Spark
    // keeps the last execution's plan, and the broadcasts it holds,
    // reachable, so a fixed trivial action runs first: otherwise the figure
    // depends on which query the seeded order ran last. The second
    // collection follows Spark's asynchronous release of blocks whose
    // owners the first one collected.
    spark.range(1).write.format("noop").mode("overwrite").save()
    System.gc()
    Thread.sleep(2000)
    System.gc()
    val retainedMb =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val layerJson =
      if (!trace) "{}"
      else {
        val counters = new SparkCounters
        val plans = new PlanTimes
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(plans)
        val tracer = new Tracer(spark.sparkContext, counters, plans, cpus, start)
        val traced = ArrayBuffer[Double]()
        val perIter = ArrayBuffer[Map[String, Double]]()
        val t1 = System.nanoTime()
        def tElapsed = (System.nanoTime() - t1) / 1e9
        while (traced.size < 1 || tElapsed < budget) {
          tracer.iter = traced.size
          traced += w.traced(spark, ctx, tracer)
          org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
          val storage = spark.sparkContext.getRDDStorageInfo
          perIter += w.layers(tracer, tracer.iter) ++ Map(
            "cache.persisted_blocks" -> storage.map(_.numCachedPartitions.toDouble).sum,
            "cache.storage_mb" -> storage.map(s => (s.memSize + s.diskSize).toDouble).sum / 1048576.0)
        }
        val traceDir = Files.createDirectories(work.resolve("trace"))
        val spanFile = traceDir.resolve(s"$workload-seed$seed.spans.json")
        Files.writeString(spanFile, tracer.json)
        val untracedIter = median(iters.toSeq)
        val tracedIter = median(traced.toSeq)
        val names = perIter.flatMap(_.keys).distinct.sorted
        val m = names.map(k => k -> median(perIter.toSeq.map(_.getOrElse(k, 0.0)))) ++ Seq(
          "trace.iter_s" -> tracedIter,
          "trace.untraced_iter_s" -> untracedIter,
          "trace.overhead_s" -> (tracedIter - untracedIter))
        ctx.checks += ("span_file" -> Json.str(spanFile.toString))
        Json.obj(m.map { case (k, v) => k -> Json.num(v) })
      }

    w.check(spark, ctx)
    val rss = vmHwmMb()
    spark.stop()

    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cpus" -> cpus.toString,
      "setup_s" -> Json.num(setupS),
      "warmup_s" -> Json.num(warmupS),
      "iter_s" -> Json.arr(iters.map(Json.num)),
      "query_s" -> Json.arr(ctx.latencies.map(Json.num)),
      "per_query_s" -> Json.obj(ctx.perQuery.map { case (k, v) => k -> Json.arr(v.map(Json.num)) }),
      "peak_rss_mb" -> Json.num(rss),
      "retained_heap_mb" -> Json.num(retainedMb),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "failures" -> Json.arr(ctx.failures.map(Json.str)),
      "checks" -> Json.obj(ctx.checks),
      "per_layer" -> layerJson))
    Files.writeString(out, result + "\n")
  }
}

/** Expected values written by [[CsvGen]]. */
final case class TableExpect(name: String, lines: Long, importRows: Long, importFlag: String)

object Manifest {
  def load(p: Path): Seq[TableExpect] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    root.get("tables").fields().asScala.map { e =>
      val t = e.getValue
      TableExpect(e.getKey, t.get("lines").asLong, t.get("imported").get("rows").asLong,
        t.get("import_flag").asText)
    }.toSeq.sortBy(_.name)
  }
}

/** `csv_import`: one [[Job.run]] per iteration, one mapping per generated
  * file. Each mapping reads every column, casts most of them and keeps the
  * rows of one flag with a quantity above a threshold (~6.7%).
  */
final class Etl(csvDir: Path, outDir: Path, tables: Seq[TableExpect]) extends Workload {
  private val sourceDialect = CsvDialect(malformed = MalformedMode.Drop)
  private val destDialect = CsvDialect()

  private def src(c: String, t: Option[DataType] = None, d: DecimalMode = DecimalMode.None) =
    ColumnMapping(Some(c), c, castTo = t, decimalMode = d)

  val mappings: Seq[Mapping] = tables.map { t =>
    Mapping(t.name, s"${t.name}_import", Seq(
      src("orderkey", Some(LongType)), src("partkey", Some(IntegerType)),
      src("suppkey", Some(IntegerType)), src("linenumber", Some(IntegerType)),
      src("quantity", Some(IntegerType)),
      src("extendedprice", Some(DoubleType), DecimalMode.Comma),
      src("discount", Some(DoubleType), DecimalMode.Comma),
      src("tax", Some(DoubleType), DecimalMode.Comma), src("returnflag"), src("linestatus"),
      src("shipdate", Some(TimestampType)), src("shipmode"), src("comment")),
      conditionals = Seq(
        Conditional("returnflag", CondOp.EqualTo, t.importFlag),
        Conditional("quantity", CondOp.GreaterThan, CsvGen.ImportMinQuantity.toString)))
  }

  private val config = JobConfig(
    destFolder = outDir, sourceFolder = Some(csvDir), sourceDialect = sourceDialect,
    destDialect = destDialect, sourceStabilityCheck = false, singleFileOutput = false)

  private lazy val files = CsvCatalog.sourceFiles(csvDir).map(f => CsvCatalog.stem(f) -> f).toMap
  /** Rows each mapping wrote in the last iteration. */
  private var lastRows = Map.empty[String, Long]

  def touch(spark: SparkSession): Unit = {
    require(files.size == tables.size && tables.forall(t => files.contains(t.name)),
      s"expected the files ${tables.map(_.name).mkString(", ")} in $csvDir")
    mappings.foreach(m => m.compile(CsvCatalog.readTable(spark, files(m.sourceTable), sourceDialect)))
  }

  /** Twice the timed region: the CSV parse path keeps speeding up under the
    * JIT for ~20 s, and a shorter warm-up leaves that trend in the median.
    */
  def warmup(spark: SparkSession, ctx: Ctx, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    runJob(spark, ctx, count = false)
    while ((System.nanoTime() - t0) / 1e9 < 2 * seconds) runJob(spark, ctx, count = false)
  }

  private def runJob(spark: SparkSession, ctx: Ctx, count: Boolean): Unit = {
    val res =
      try Job.run(spark, config, mappings)
      catch { case NonFatal(_) => JobResult(ok = false, Seq.empty) }
    if (!count) {
      if (!res.ok) throw new IllegalStateException(s"warm-up job failed: ${res.errors.mkString("; ")}")
    } else {
      ctx.attempted += mappings.size
      val byTable = res.results.map(r => r.sourceTable -> r).toMap
      lastRows = byTable.map { case (k, r) => k -> r.rowsWritten }
      // the manifest counts good rows only: Drop mode must drop every defective row
      tables.foreach { t =>
        byTable.get(t.name) match {
          case Some(r) if r.ok && r.rowsWritten == t.importRows =>
          case Some(r) if r.ok => ctx.fail(s"${t.name}: rowsWritten ${r.rowsWritten} != expected ${t.importRows}")
          case Some(r) => ctx.fail(s"${t.name}: ${r.error.getOrElse("not ok")}")
          case None => ctx.fail(s"${t.name}: mapping did not run")
        }
      }
    }
  }

  def iterate(spark: SparkSession, ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    runJob(spark, ctx, count = true)
    (System.nanoTime() - t0) / 1e9
  }

  def traced(spark: SparkSession, ctx: Ctx, t: Tracer): Double = {
    val s0 = System.nanoTime()
    t.span("operators.Job.run", "operators")(runJob(spark, ctx, count = true))
    val wall = (System.nanoTime() - s0) / 1e9
    // the same work through the public calls Job.run is made of
    val stage = outDir.resolveSibling("trace-out")
    mappings.foreach { m =>
      t.span(s"mapping ${m.sourceTable}", "operators") {
        val df = t.span("sources.CsvCatalog.readTable", "sources")(
          CsvCatalog.readTable(spark, files(m.sourceTable), sourceDialect))
        t.span("sources.scan", "sources")(df.write.format("noop").mode("overwrite").save())
        val compiled = t.span("operators.Mapping.compile", "operators")(m.compile(df))
        t.span("sources.CsvWrite.writeDir", "sources")(
          CsvWrite.writeDir(compiled, stage.resolve(m.destTable).toString, destDialect))
      }
    }
    mappings.foreach { m =>
      t.span("sources.CsvCatalog.readDir", "sources")(
        CsvCatalog.readDir(spark, outDir.resolve(m.destTable), destDialect))
    }
    wall
  }

  def layers(t: Tracer, iter: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.iter == iter)
    def named(p: String) = spans.filter(_.name.startsWith(p))
    val job = named("operators.Job.run").head
    val jc = t.deep(job)
    val writes = named("sources.CsvWrite.")
    val reads = spans.filter(s => s.name == "sources.CsvCatalog.readTable" ||
      s.name == "sources.CsvCatalog.readDir")
    Map(
      "sources.header_probe_s" -> reads.map(_.wallS).sum,
      "sources.scan_s" -> named("sources.scan").map(_.wallS).sum,
      "sources.write_s" -> writes.map(_.wallS).sum,
      "sources.driver_copy_s" -> writes.map(s => s.wallS - t.counts(s).jobWallMs / 1e3).sum,
      "sources.write_tasks" -> writes.map(t.counts(_).tasks.toDouble).sum,
      "operators.job_driver_s" -> (job.wallS - jc.jobWallMs / 1e3),
      "operators.spark_jobs_per_mapping" -> jc.jobs.toDouble / mappings.size,
      "operators.mapping_selectivity" -> lastRows.values.sum.toDouble / tables.map(_.lines).sum,
    ) ++ Layers.spark(jc, job.wallS, t) ++ Layers.self(t, spans.toSeq)
  }

  def check(spark: SparkSession, ctx: Ctx): Unit =
    ctx.checks += ("etl_outputs" -> Json.obj(mappings.map { m =>
      m.sourceTable -> Json.str(outDir.resolve(m.destTable).toString)
    }))
}

object Layers {
  def spark(c: Counters, wallS: Double, t: Tracer): Map[String, Double] = {
    val cores = t.cores
    Map(
      "sources.bytes_read" -> c.bytesRead.toDouble,
      "sources.records_read" -> c.recordsRead.toDouble,
      "sources.bytes_written" -> c.bytesWritten.toDouble,
      "sources.records_written" -> c.recordsWritten.toDouble,
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.scheduler_wait_s" -> c.schedWaitMs / 1e3,
      "spark.task_run_s" -> c.runMs / 1e3, "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.core_util" -> (if (wallS > 0) c.runMs / 1e3 / (wallS * cores) else 0.0),
      "spark.shuffle_read_mb" -> c.shuffleRead / 1048576.0,
      "spark.shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
      "spark.spill_mb" -> c.spill / 1048576.0,
      "spark.failed_tasks" -> c.failedTasks.toDouble)
  }

  def self(t: Tracer, spans: Seq[Span]): Map[String, Double] =
    Seq("sources", "operators", "queries").map { l =>
      s"layer.$l.self_s" -> spans.filter(_.layer == l).map(t.selfS).sum
    }.toMap
}

/** `tpch_relational`: warm passes over relational queries in a seeded
  * order. Each query is built through [[SparkEntry.queries]] and run into
  * the noop sink, which computes every output column (`count()` would let
  * Catalyst prune them).
  */
final class Queries(names: Seq[String], tables: String) extends Workload {
  private var rng: scala.util.Random = null
  private val oracle = SparkEntry.oracleSql
  names.foreach(q => require(SparkEntry.queries.contains(q) && oracle.contains(q),
    s"$q is not a declared query with oracle SQL"))

  def touch(spark: SparkSession): Unit = names.foreach(q => SparkEntry.queries(q)(spark, tables))

  private def order(ctx: Ctx): Seq[String] = {
    if (rng == null) rng = new scala.util.Random(ctx.seed)
    rng.shuffle(names)
  }

  private def runOne(spark: SparkSession, ctx: Ctx, q: String, timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    try SparkEntry.queries(q)(spark, tables).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) => if (timed) ctx.fail(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (timed) {
      val s = (System.nanoTime() - t0) / 1e9
      ctx.attempted += 1
      ctx.latencies += s
      ctx.perQuery.getOrElseUpdate(q, ArrayBuffer()) += s
    }
  }

  /** At least two passes, until half the timed region has passed: the
    * first pass in a JVM takes about twice a warm one, the second still
    * ~30% longer.
    */
  def warmup(spark: SparkSession, ctx: Ctx, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    def pass(): Unit = order(ctx).foreach(runOne(spark, ctx, _, timed = false))
    pass()
    pass()
    while ((System.nanoTime() - t0) / 1e9 < seconds / 2) pass()
  }

  def iterate(spark: SparkSession, ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    order(ctx).foreach(runOne(spark, ctx, _, timed = true))
    (System.nanoTime() - t0) / 1e9
  }

  def traced(spark: SparkSession, ctx: Ctx, t: Tracer): Double = {
    var total = 0.0
    order(ctx).foreach { q =>
      val s0 = System.nanoTime()
      t.span(q, "queries") {
        try {
          val df = t.span("queries.build", "queries")(SparkEntry.queries(q)(spark, tables))
          t.span("queries.exec", "queries")(df.write.format("noop").mode("overwrite").save())
        } catch { case NonFatal(e) => ctx.fail(s"$q (traced): ${e.getMessage}") }
        ctx.attempted += 1
        org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
        t.spans.last.planS = t.plans.take()
      }
      total += (System.nanoTime() - s0) / 1e9
    }
    total
  }

  def layers(t: Tracer, iter: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.iter == iter)
    val roots = spans.filter(_.parent == -1)
    val builds = spans.filter(_.name == "queries.build")
    val execs = spans.filter(_.name == "queries.exec")
    val c = new Counters
    roots.foreach(r => c += t.deep(r))
    val planS = execs.map(_.planS).sum
    Map(
      "queries.build_s" -> builds.map(_.wallS).sum,
      "queries.plan_s" -> planS,
      "queries.exec_s" -> (execs.map(_.wallS).sum - planS),
      "queries.build_jobs" -> builds.map(t.counts(_).jobs.toDouble).sum,
    ) ++ Layers.spark(c, roots.map(_.wallS).sum, t) ++ Layers.self(t, spans.toSeq)
  }

  /** Each query's result is written to parquet for the oracle compare. */
  def check(spark: SparkSession, ctx: Ctx): Unit = {
    val dir = ctx.work.resolve("check")
    val written = names.sorted.flatMap { q =>
      try {
        val p = dir.resolve(q).toString
        SparkEntry.queries(q)(spark, tables).write.mode("overwrite").parquet(p)
        Some(q -> Json.obj(Seq("path" -> Json.str(p), "sql" -> Json.str(oracle(q)))))
      } catch { case NonFatal(e) => ctx.fail(s"$q (check): ${e.getMessage}"); None }
    }
    ctx.checks += ("oracle" -> Json.obj(written))
  }
}
