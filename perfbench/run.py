#!/usr/bin/env python3
"""Benchmark of the CSV job path and the query engine.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (sbt, offline) on first use,
generates the seeded inputs, runs one workload in a fresh JVM, checks the
program's outputs outside the timed region, and prints one JSON line as the
last line of stdout. `--trace 1` reports the per-layer metrics instead of
the end-to-end ones and writes a span file. Build products, inputs, outputs
and logs go under `.bench_build/perfbench/`. See perfbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import checks  # noqa: E402

# The query workload's tables: copies of the query fixtures at scale 0.01.
# Only the query order follows --seed.
TABLES = os.path.join(HERE, "tables")
# CSV inputs of csv_import.
CSV_FILES = 4
CSV_ROWS = 100000
# The relational queries timed by tpch_relational: TPC-H shapes plus window
# ranking, top-k per group (plans), set operations, a weighted-median UDAF
# (functions) and sessionization, each at the per-query floor.
TPCH_QUERIES = [
    "b43_tpch_q1", "b40_tpch_q3", "b30_tpch_q5", "b44_tpch_q6", "b57_tpch_q9",
    "b42_tpch_q18", "b5_hash_agg", "b8_window_rank", "b10_topk_per_group",
    "b12_set_ops", "b27_udaf_wmedian", "b32_sessionize",
]
WORKLOADS = ["csv_import", "tpch_relational"]
END_TO_END = {"iter_s": "s", "setup_s": "s", "retained_heap_mb": "MB"}
HEAP = "2g"
RUN_LIMIT_S = 170
# set-ups per run, each in a fresh process; the median is setup_s
SETUPS = 3
CSV_KEEP = 6


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def add_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += glob.glob(os.path.join(ROOT, "*.sbt")) + glob.glob(os.path.join(ROOT, "project", "*.*"))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_proc(cmd, cwd, log_path, timeout, env=None):
    """Run to completion in its own process group; kill the group on timeout."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building program and harness with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    build_log = os.path.join(WORK, "build.log")
    if os.path.exists(build_log):
        os.remove(build_log)
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], HERE, build_log, 840, env)
    lines = open(build_log, errors="replace").read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and "perfbench" in ln.split(":")[0]]
    if rc != 0 or not cps:
        die(f"build failed (exit {rc}); see {build_log}", 3)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


def java_cmd(cp, main, args):
    return (["java"] + add_opens() + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-cp", cp, main] + args)


def csv_dir(cp, seed, logs):
    root = os.path.join(WORK, "data")
    with open(os.path.join(HERE, "src", "main", "scala", "perfbench", "CsvGen.scala"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(root, f"csv-{gen}-{CSV_FILES}x{CSV_ROWS}-seed{seed}")
    if not os.path.isfile(os.path.join(d, "manifest.json")):
        old = sorted(glob.glob(os.path.join(root, "csv-*")), key=os.path.getmtime)
        for o in old[:max(0, len(old) - CSV_KEEP)]:
            shutil.rmtree(o, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        rc = run_proc(java_cmd(cp, "perfbench.CsvGen",
                               [str(seed), d, str(CSV_FILES), str(CSV_ROWS)]),
                      ROOT, logs, 120)
        if rc != 0:
            die(f"CSV generation failed; see {logs}", 3)
    return d


def percentile_note(values):
    """Median, the highest percentile with >= 10 samples beyond it, count."""
    n = len(values)
    s = sorted(values)
    med = statistics.median(s)
    p = int((1 - 10 / n) * 100) if n > 10 else None
    if p is None or p <= 50:
        return f"median={med:.4f} n={n}"
    v = s[min(n - 1, int(round(p / 100 * (n - 1))))]
    return f"median={med:.4f} p{p}={v:.4f} n={n}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the program's sources (build.sbt, src/main/scala) are not in this directory")
    for sub in ("tmp", "logs", "data"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    cp = build()
    logs = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    if os.path.exists(logs):
        os.remove(logs)

    g0 = time.monotonic()
    harness_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cpus", str(len(os.sched_getaffinity(0)))]
    manifest = None
    if a.workload == "csv_import":
        d = csv_dir(cp, a.seed, logs)
        harness_args += ["--csv", d]
        with open(os.path.join(d, "manifest.json")) as f:
            manifest = json.load(f)
    else:
        harness_args += ["--tables", TABLES, "--queries", ",".join(TPCH_QUERIES)]
    gen_s = time.monotonic() - g0

    work = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    result_file = os.path.join(WORK, "run", f"{a.workload}.result.json")

    def harness(extra):
        if os.path.exists(result_file):
            os.remove(result_file)
        limit = RUN_LIMIT_S - (time.monotonic() - t_start)
        rc = run_proc(java_cmd(cp, "perfbench.Harness",
                               harness_args + ["--work", work, "--out", result_file] + extra),
                      ROOT, logs, limit)
        if rc != 0 or not os.path.isfile(result_file):
            die(f"harness failed (exit {rc}); see {logs}", 1)
        with open(result_file) as f:
            return json.load(f)

    # set-ups in fresh processes first; the full run adds the last one
    setups = [harness(["--setup-only"])["setup_s"] for _ in range(SETUPS - 1)]
    r = harness([])
    setups.append(r["setup_s"])

    # output checks, outside the timed region
    c0 = time.monotonic()
    if manifest is not None:
        verdicts = checks.check_etl(r["checks"], manifest)
    else:
        verdicts = checks.check_queries(r["checks"], TABLES)
    check_s = time.monotonic() - c0
    bad = [v for v in verdicts if not v.ok]
    for v in bad:
        log(f"MISMATCH {v.name}: {v.detail}")
    for f in r["failures"]:
        log(f"FAILED {f}")
    attempted = int(r["attempted"]) + len(verdicts)
    failed = int(r["failed"]) + len(bad)

    log(f"{a.workload} seed={a.seed} inputs={gen_s:.2f}s checks={check_s:.2f}s "
        f"warmup={r['warmup_s']:.3f}s")
    log(f"setup_s {percentile_note(setups)} values={['%.3f' % s for s in setups]}")
    log(f"iter_s {percentile_note(r['iter_s'])} values={['%.3f' % s for s in r['iter_s']]}")
    if r["query_s"]:
        log(f"query_s {percentile_note(r['query_s'])}")
    log(f"peak_rss_mb {r['peak_rss_mb']:.1f} retained_heap_mb {r['retained_heap_mb']:.1f}")
    log(f"fail_ratio {failed / attempted:.4f} ({failed}/{attempted})")

    if a.trace:
        # a layer the workload does not reach reports 0
        metrics = dict(r["per_layer"])
        units = dict(checks.PER_LAYER_UNITS)
        unknown = sorted(set(metrics) - set(units))
        if unknown:
            die(f"harness emitted unlisted per-layer metrics {unknown}", 1)
        out = {k: {"value": metrics.get(k, 0.0), "unit": units[k]} for k in units}
        log(f"span file: {r['checks'].get('span_file')}")
    else:
        values = {
            "iter_s": statistics.median(r["iter_s"]),
            "setup_s": statistics.median(setups),
            "retained_heap_mb": r["retained_heap_mb"],
        }
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
