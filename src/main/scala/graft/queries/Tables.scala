package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{CsvCatalog, CsvDialect, CsvWrite}

/** Shared helpers for the declared query inventory (SURVEY.md §2.3). */
object Tables {
  /** Per-JVM parquet schema memo (r22, the per-query-floor fix): a bare
    * `spark.read.parquet(path)` re-infers the schema on EVERY call —
    * a footer read plus relation setup measured at ~0.08 s per call
    * (OPTIMIZATION_r22.md, "Attribution"), paid by every query
    * invocation of every bench pass. Production reads resolve the
    * schema from a catalog / metastore instead of re-inferring per
    * query; this memo is that
    * catalog: METADATA only (a StructType per path — never rows), keyed
    * by the full file path, populated from the first real inference in
    * this JVM. The fixtures are immutable within a process, and the
    * cached schema is exactly what inference under the session's
    * legacy-nanos flag produced, so `.schema(s)` reads are
    * byte-identical to inferred reads.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Load one driver-generated parquet table (TESTDATA.md). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val cached = schemaMemo.get(path)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaMemo.putIfAbsent(path, df.schema)
      df
    }
  }

  /** Scan-parallelism memo for [[fanned]]: planned scan partition count
    * per path, so the under-parallelization probe (one `df.rdd`
    * planning pass, no jobs) runs once per (JVM, file). */
  private val scanPartsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Load a table and FAN IT OUT to the cluster's parallelism when the
    * file layout under-parallelizes the scan (r22, guide §2.5 "input
    * skew: repartition immediately after the read"): the driver
    * fixtures are single-row-group parquet files, so every scan plans
    * as ONE task and every expensive per-row kernel downstream
    * (markup strip, URL canonicalization, shingle/variant explode,
    * embedding math) runs serially on one core regardless of
    * `local[N]`. A hash repartition on the table's key costs one tiny
    * exchange of the narrow scan rows and unlocks N-way kernel
    * execution. Scale-adaptive by construction: when the scan already
    * plans >= defaultParallelism partitions (any real corpus — row
    * groups give natural parallelism at 100 TB) this is a NO-OP, so
    * the exchange never touches a big scan. Deterministic: hash on a
    * stable unique key (no round-robin), and every declared query's
    * output rides its own ORDER BY, so results are partitioning-
    * independent.
    */
  /** Stable unique-ish hash keys for [[fanned]], per fixture table. */
  private val fanKey = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "customer" -> "c_custkey", "lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey", "events" -> "event_id",
    "part" -> "p_partkey", "supplier" -> "s_suppkey")

  /** Fixtures big enough that a serial format/encode of the whole table
    * dominates a round-trip (>= 100k rows at sf0.1; measured win on the
    * lineitem/orders/events writers, measured loss on the small ones). */
  private[queries] val fanBigTables = Set("lineitem", "orders", "events")

  /** [[fanned]] with the table's registered key. */
  def fanned(spark: SparkSession, sfDir: String, name: String): DataFrame =
    fanned(spark, sfDir, name, fanKey.getOrElse(name,
      throw new IllegalArgumentException(
        s"table '$name' has no key in Tables.fanKey; register one there")))

  def fanned(spark: SparkSession, sfDir: String, name: String,
             key: String): DataFrame = {
    val df = apply(spark, sfDir, name)
    val p = spark.sparkContext.defaultParallelism
    val path = s"$sfDir/$name.parquet"
    var parts = scanPartsMemo.get(path)
    if (parts == null) {
      parts = df.rdd.getNumPartitions
      scanPartsMemo.putIfAbsent(path, parts)
    }
    if (parts >= p) df
    else df.repartition(p, org.apache.spark.sql.functions.col(key))
  }

  /** Load `events`, normalizing `ts` to session-TZ TIMESTAMP across the
    * generator's storage choices (both observed across driver rounds):
    *
    *  - parquet TIMESTAMP(NANOS) — a type Spark's vectorized reader
    *    rejects outright; requires `spark.sql.legacy.parquet.nanosAsLong=
    *    true` (set ONCE at session build by Verify/Bench and the test
    *    harness — a query function must not silently mutate session
    *    conf), read as a nanos BIGINT and converted with integer division
    *    (ns values exceed 2^53, so a double-typed divide would lose
    *    micros);
    *  - parquet TIMESTAMP(MICROS) without isAdjustedToUTC — arrives as
    *    TIMESTAMP_NTZ, cast straight to TIMESTAMP (identical instants
    *    under the UTC session both mains pin).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw =
      try apply(spark, sfDir, "events")
      catch {
        // keep the actionable message the old require() gave: Spark's raw
        // "Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))" names the
        // problem but not the one-line fix
        case e: Exception if e.getMessage != null &&
            e.getMessage.contains("TIMESTAMP(NANOS") =>
          throw new IllegalStateException(
            "set spark.sql.legacy.parquet.nanosAsLong=true at session " +
              "build to read nanos-typed events", e)
      }
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Staging dir for round-trip fixtures: derived from (sf, tag) so
    * repeated calls in one process overwrite rather than accumulate, and
    * from the pid so concurrent runs of the same SF don't collide.
    * `kind` separates format families (csv, jsonl) — every round-trip
    * fixture shares this one scheme so staging hygiene changes in one
    * place.
    */
  private[queries] def stagingDir(sfDir: String, tag: String,
                                  kind: String = "csv"): Path = {
    val sf = Paths.get(sfDir).getFileName.toString
    val pid = ProcessHandle.current().pid()
    val dir = Paths.get(sys.props("java.io.tmpdir"), s"graft-$kind-$pid", sf, tag)
    Files.createDirectories(dir)
    dir
  }

  /** Group-A fixture: round-trip a parquet table through our CSV sink and
    * source (write with reference dialect, read back all-string), so each
    * Group-A query exercises the real CSV semantics layer end-to-end.
    * Uses the PARTITIONED write + directory read — the 100 TB path; no
    * single-partition coalesce anywhere in the benched round trip.
    */
  def csvRoundTrip(spark: SparkSession, sfDir: String, table: String,
                   tag: String, dialect: CsvDialect = CsvDialect(),
                   prepare: DataFrame => DataFrame = identity): DataFrame = {
    val dir = stagingDir(sfDir, tag).resolve(table)
    // r22: fan the write side out for the BIG fixtures — a
    // single-row-group fixture otherwise CSV-formats the whole table in
    // ONE write task (and reads one file back); the partitioned write
    // is the declared 100 TB contract either way. Small tables skip the
    // fan (A/B'd: the exchange + 32-task scheduling eats the gain).
    val src =
      if (fanBigTables.contains(table)) fanned(spark, sfDir, table)
      else apply(spark, sfDir, table)
    CsvWrite.writeDir(prepare(src), dir.toString, dialect)
    CsvCatalog.readDir(spark, dir, dialect)
  }

  /** Single-file round-trip variant for fixtures that genuinely need one
    * file on disk (a5 appends raw bad bytes; a6 pins the no-header naming
    * of a single reference-style `<table>.csv`). Never used on big tables.
    */
  def csvRoundTripSingle(spark: SparkSession, sfDir: String, table: String,
                         tag: String, dialect: CsvDialect = CsvDialect(),
                         prepare: DataFrame => DataFrame = identity): Path = {
    val dir = stagingDir(sfDir, tag)
    CsvWrite.writeSingleFile(prepare(apply(spark, sfDir, table)),
      dir.toString, table, dialect)
  }
}
