#!/usr/bin/env python3
"""Self-check of the benchmark.

Usage, from the root of the repository:

    python3 perfbench/selfcheck.py [--print-digests] [result-line-file ...]

Fails (exit 1) when
- the workloads or metrics the benchmark can emit differ from BENCHMARK.json,
  in name or unit;
- a result line in one of the given files (the last stdout line of
  run.py) names a metric missing from BENCHMARK.json;
- the CSV generator drifts: a fixed seed must give the same bytes twice
  and the digests pinned below. `--print-digests` prints the current ones
  (to re-pin after a deliberate change of the generator).
"""
import hashlib
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402

# CsvGen seed 5, 2 files x 15000 rows (three defective rows each): sha256 of each file.
CSV_DIGESTS = {
    "lineitem_0.csv": "809d5d5b9f704d8fab7a3e8a792f720d52594300a60809230b98b91009334c6d",
    "lineitem_1.csv": "81e803056e518d932570bc6f5e655f1dc21cf1ed6a0ddbb283a6adaf786b5b57",
    "manifest.json": "19d13e056dad8da90fd9cd8c03b5838a190d9e00a7da4ae478c3cd6395734c5e",
}


def sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def csv_digests(cp, d):
    shutil.rmtree(d, ignore_errors=True)
    log = d + ".log"
    rc = run.run_proc(run.java_cmd(cp, "perfbench.CsvGen", ["5", d, "2", "15000"]),
                      run.ROOT, log, 120)
    if rc != 0:
        raise RuntimeError(f"CsvGen failed; see {log}")
    return {n: sha(os.path.join(d, n)) for n in sorted(os.listdir(d))}


def main(argv):
    printing = "--print-digests" in argv
    files = [a for a in argv if not a.startswith("--")]
    errors = []
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_pl = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if declared_e2e != run.END_TO_END:
        errors.append(f"end_to_end {declared_e2e} != emitted {run.END_TO_END}")
    if declared_pl != dict(checks.PER_LAYER_UNITS):
        errors.append(f"per_layer differs: BENCHMARK.json only "
                      f"{sorted(set(declared_pl.items()) - set(checks.PER_LAYER_UNITS))}, "
                      f"emitted only {sorted(set(checks.PER_LAYER_UNITS) - set(declared_pl.items()))}")
    if sorted(w["name"] for w in bench["workloads"]) != sorted(run.WORKLOADS):
        errors.append(f"workloads {[w['name'] for w in bench['workloads']]} != {run.WORKLOADS}")
    for path in files:
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        line = json.loads(lines[-1])
        extra = sorted(set(line["metrics"]) - set(declared_e2e) - set(declared_pl))
        if extra:
            errors.append(f"{path}: metrics missing from BENCHMARK.json: {extra}")

    cp = run.build()
    scratch = os.path.join(run.WORK, "selfcheck")
    os.makedirs(scratch, exist_ok=True)
    a = csv_digests(cp, os.path.join(scratch, "csv-a"))
    b = csv_digests(cp, os.path.join(scratch, "csv-b"))
    if a != b:
        errors.append("CsvGen is not deterministic for a fixed seed")
    if printing:
        print(json.dumps(a, indent=2))
    elif a != CSV_DIGESTS:
        errors.append(f"CsvGen output drifted: {a}")
    shutil.rmtree(scratch, ignore_errors=True)

    for e in errors:
        print(f"selfcheck FAILED: {e}", file=sys.stderr)
    if not errors:
        print("selfcheck ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
