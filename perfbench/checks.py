"""Output checks of the benchmark, run after the timed region.

ETL workloads: the files a run wrote are read back with DuckDB and their
row count and column aggregates compared with the values the generator
computed from the rows it wrote (manifest.json). Query workloads: each
query's result, written to parquet by the harness, is compared row by row
with its oracle SQL run in DuckDB over the same parquet tables.
"""
import glob
import os
from dataclasses import dataclass

import duckdb

# The per-layer metrics of a traced run and their units.
PER_LAYER_UNITS = [
    ("sources.header_probe_s", "s"), ("sources.scan_s", "s"), ("sources.write_s", "s"),
    ("sources.driver_copy_s", "s"), ("sources.write_tasks", "count"),
    ("sources.bytes_read", "bytes"), ("sources.records_read", "count"),
    ("sources.bytes_written", "bytes"), ("sources.records_written", "count"),
    ("operators.job_driver_s", "s"), ("operators.spark_jobs_per_mapping", "count"),
    ("operators.mapping_selectivity", "ratio"),
    ("queries.build_s", "s"), ("queries.plan_s", "s"), ("queries.exec_s", "s"),
    ("queries.build_jobs", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.scheduler_wait_s", "s"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.core_util", "ratio"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.failed_tasks", "count"),
    ("cache.persisted_blocks", "count"), ("cache.storage_mb", "MB"),
    ("layer.sources.self_s", "s"), ("layer.operators.self_s", "s"),
    ("layer.queries.self_s", "s"),
    ("trace.iter_s", "s"), ("trace.untraced_iter_s", "s"), ("trace.overhead_s", "s"),
]


@dataclass
class Verdict:
    name: str
    ok: bool
    detail: str = ""


def _etl_aggregates(con, files):
    file_list = "[" + ",".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
    sql = f"""
      WITH t AS (SELECT * FROM read_csv({file_list}, delim=';', quote='"', escape='"',
                 header=true, all_varchar=true, nullstr='NULL'))
      SELECT
        count(*),
        coalesce(sum(orderkey::BIGINT), 0),
        coalesce(sum(partkey::BIGINT), 0),
        coalesce(sum(quantity::BIGINT), 0),
        coalesce(sum(round(extendedprice::DOUBLE * 100)::BIGINT), 0),
        coalesce(sum(round(discount::DOUBLE * 100)::BIGINT), 0),
        count(*) FILTER (WHERE shipmode IS NULL),
        count(*) FILTER (WHERE shipdate LIKE '01-01-0001 %'),
        coalesce(sum(length(comment)), 0)
      FROM t"""
    return con.execute(sql).fetchone()


def check_etl(harness_checks, manifest):
    """One verdict per mapping output."""
    con = duckdb.connect()
    out = []
    for table, path in sorted(harness_checks["etl_outputs"].items()):
        want = manifest["tables"][table]["imported"]
        files = sorted(f for f in glob.glob(os.path.join(path, "part-*"))
                       if os.path.getsize(f) > 0)
        if not files:
            out.append(Verdict(table, False, f"no output at {path}"))
            continue
        try:
            got = _etl_aggregates(con, files)
        except duckdb.Error as e:
            out.append(Verdict(table, False, f"unreadable output: {e}"))
            continue
        keys = ["rows", "sum_orderkey", "sum_partkey", "sum_quantity", "sum_price_cents",
                "sum_discount_cents", "null_shipmode", "bad_dates", "sum_comment_len"]
        diff = [f"{k} {g} != {want[k]}" for k, g in zip(keys, got) if g != want[k]]
        out.append(Verdict(table, not diff, "; ".join(diff)))
    return out


def check_queries(harness_checks, tables):
    """One verdict per query: its parquet result against the oracle SQL."""
    con = duckdb.connect()
    for t in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    out = []
    for name, entry in sorted(harness_checks.get("oracle", {}).items()):
        try:
            mine = con.execute(
                f"SELECT * FROM read_parquet('{entry['path']}/*.parquet')").fetch_arrow_table()
            want = con.execute(entry["sql"]).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any read or SQL error is a mismatch
            out.append(Verdict(name, False, f"error: {e}"))
            continue
        mine = mine.select(sorted(mine.column_names))
        want = want.select(sorted(want.column_names))
        if mine.column_names != want.column_names:
            out.append(Verdict(name, False,
                               f"columns {mine.column_names} != {want.column_names}"))
        elif mine.num_rows != want.num_rows:
            out.append(Verdict(name, False, f"rows {mine.num_rows} != {want.num_rows}"))
        else:
            bad = [i for i, (x, y) in enumerate(zip(mine.to_pylist(), want.to_pylist()))
                   if x != y]
            out.append(Verdict(name, not bad, f"{len(bad)} rows differ, first at {bad[:1]}"))
    return out
