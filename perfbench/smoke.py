"""Smoke test of the benchmark itself, at scale factor 0.001.

    python3 perfbench/smoke.py

Runs every workload untraced and traced, and checks that each prints
every metric it names with its unit, that no operation failed, and that
the benchmark refuses to run (non-zero exit, no result line) in a
directory holding only BENCHMARK.json and perfbench/. Takes several
minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the end-to-end metrics each workload's report names
NAMED = {
    "spatial_read": ("setup_s", "error_rate", "range_small_p50_ms", "range_large_p50_ms",
                     "point_get_p50_ms", "knn_p50_ms", "read_tail_ms", "reads_per_s"),
    "spatial_ingest": ("setup_s", "error_rate", "ingest_rows_per_s", "batch_p50_ms",
                       "batch_tail_ms", "range_small_p50_ms", "knn_p50_ms"),
    "corpus_ingest": ("setup_s", "error_rate", "ingest_rows_per_s", "batch_p50_ms",
                      "batch_tail_ms", "search_p50_ms", "dedup_s"),
}
SPATIAL_READ_RESULT = {"setup_s": "s", "reads_per_s": "1/s"}


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_metrics(where: str, got: dict, want: dict, errors: list) -> None:
    if set(got) != set(want):
        errors.append(f"{where}: metrics {sorted(set(got) ^ set(want))} missing or extra")
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            errors.append(f"{where}: {name} has unit {m.get('unit')!r}, want {unit!r}")
        if not isinstance(m.get("value"), (int, float)):
            errors.append(f"{where}: {name} value is not a number")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    listed = [w["name"] for w in bench["workloads"]]
    errors: list[str] = []

    for workload in NAMED:
        for trace in (0, 1) if workload in listed else (1,):
            where = f"{workload} --trace {trace}"
            p = run(workload, trace)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                errors.append(f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            result, report = json.loads(lines[-1]), json.loads(lines[-2])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{where}: result keys {sorted(result)}")
            if result["failed"] != 0 or not result["correct"] or result["attempted"] < 1:
                errors.append(f"{where}: {result['failed']} of {result['attempted']} failed")
            if report["report"]["error_rate"]["value"] != 0:
                errors.append(f"{where}: error_rate is not 0")
            for name in NAMED[workload]:
                m = report["report"].get(name)
                if m is None or "unit" not in m:
                    errors.append(f"{where}: report lacks {name} with a unit")
            if trace:
                want = per_layer
            else:
                want = e2e if workload in listed else SPATIAL_READ_RESULT
            check_metrics(where, result["metrics"], want, errors)
            if not trace:
                for name, m in result["metrics"].items():
                    if not m["value"] > 0:
                        errors.append(f"{where}: {name} is {m['value']}, never 0 expected")
            print(f"ok: {where}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(listed[0], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        errors.append("without the package the benchmark must fail and print nothing")
    else:
        print("ok: refuses to run without the package")

    for e in errors:
        print("FAIL:", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
