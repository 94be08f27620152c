#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

Usage (from the root of a checkout):  python3 perfbench/selftest.py

Checks, on small inputs (a tiny migrate, a six-table wide) and a short
curate:
  * every run is correct; the tiny wide includes DECIMAL(12,2) columns, so
    its runs fail while the converter's Derby DDL drops the scale (the known
    defect in README.md);
  * every metric BENCHMARK.json names is printed, with its unit, by the
    untraced (end-to-end) and the traced (per-layer) run of each workload;
  * every per-layer metric is above 0 on the workload README.md maps it to;
  * a corrupted destination row (migrate, wide) and a wrong stored query
    hash (curate) each make the run report correct=false, exit non-zero and
    name the corrupted column or query;
  * run from a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result.
Exit code 0 means all checks passed.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
failures = []

# The workload on which each per-layer metric must read above 0 (the "on"
# column of README.md; curate also covers every operators.<query>.cold_s and
# .warm_s). Left out: operators.spill_mb, which is 0 whenever
# the queries fit in memory; operators.gc_s, which is 0 when no collection
# falls inside a task (the task metrics it reads also give operators.tasks,
# which is checked); and trace.overhead_s, a difference of round times that
# may be negative.
MAPPED = {
    "migrate": ["app.table_span_max_s", "sources.read_partitions", "sources.fetch_s",
                "copy.rows_per_commit", "copy.commits", "copy.batches", "copy.connections",
                "copy.insert_s", "copy.commit_s", "copy.tasks", "copy.task_s",
                "copy.task_cpu_s", "copy.task_max_s", "delete.plan_s", "delete.exec_s",
                "delete.statements", "delete.rows"],
    "wide": ["app.table_concurrency", "catalog.introspect_s", "catalog.metadata_calls",
             "ddl.statements", "ddl.exec_s", "sources.probe_queries", "sources.probe_s",
             "copy.tasks", "copy.task_s", "copy.task_cpu_s", "copy.task_max_s"],
    "curate": ["operators.plan_s", "operators.jobs", "operators.stages", "operators.tasks",
               "operators.cpu_over_wall", "operators.shuffle_mb",
               "operators.retained_blocks", "functions.minhash_ns_per_row",
               "functions.md5_prefix_ns_per_row", "operators.jpeg_decode_ms_per_image",
               "operators.png_decode_ms_per_image"],
}


def run(args, cwd=ROOT):
    p = subprocess.run(RUN + args, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result, p.stderr


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        failures.append(msg)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    base = ["--seconds", "2", "--scale", "tiny"]

    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            code, res, err = run(["--workload", w, "--seed", "7", "--trace", str(trace)] + base)
            tag = f"{w} trace={trace}"
            check(code == 0 and res is not None and res.get("correct") is True,
                  f"{tag}: exit 0 and correct")
            if w == "wide":
                check("column checksum differs" not in err,
                      f"{tag}: DECIMAL(12,2) and every other column survive the conversion")
            if res is None:
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: result has exactly correct/attempted/failed/metrics")
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            check(got == want[trace], f"{tag}: every metric printed once with its unit")
            check(all(isinstance(v.get("value"), (int, float))
                      for v in res["metrics"].values()), f"{tag}: every value is a number")
            check(res["attempted"] >= 1 and res["failed"] == 0,
                  f"{tag}: attempted >= 1, failed == 0")
            if trace == 1:
                mapped = MAPPED[w] + ([n for n in want[1] if n.endswith((".cold_s", ".warm_s"))]
                                      if w == "curate" else [])
                zero = [n for n in mapped if not res["metrics"].get(n, {}).get("value", 0) > 0]
                check(not zero, f"{tag}: per-layer metrics mapped to {w} are above 0"
                                + (f" (zero: {', '.join(zero)})" if zero else ""))

    for w, fault in (("migrate", "dest-row"), ("wide", "dest-row"), ("curate", "query-hash")):
        code, res, err = run(["--workload", w, "--seed", "7", "--trace", "0",
                              "--inject", fault] + base)
        marker = "[perfbench] injected fault: "
        target = next((ln[len(marker):].strip() for ln in err.splitlines()
                       if ln.startswith(marker)), None)
        check(code != 0 and res is not None and res.get("correct") is False
              and target is not None and f"[perfbench] MISMATCH {target}" in err,
              f"{w}: injected {fault} trips the gate on {target} (exit {code})")

    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project/project"))
        code, res, _ = run(["--workload", "migrate", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=d)
        check(code != 0 and res is None,
              f"bare benchmark directory: exit non-zero without a result (exit {code})")

    print(f"{len(failures)} check(s) failed" if failures else "all checks passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
