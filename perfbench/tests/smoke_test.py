#!/usr/bin/env python3
"""Smoke test of the benchmark at fixture scale sf0.001 (1,500 orders).

    python3 perfbench/tests/smoke_test.py [workload ...]

Runs every workload briefly, untraced and traced, through run.py, and
checks that each run passes its output checks and emits every metric it
names, with its unit: the end-to-end and per-layer metrics listed in
BENCHMARK.json, and the workload's own detail figures. Takes a few
minutes; the first run builds.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
ORDERS = 1500

# workload → detail figures every run must print, and those only a traced run prints
DETAIL = {
    "batch_refresh": (
        ["refresh_s", "Medallion.bronze_s", "Medallion.silver_s", "Medallion.gold_s",
         "RevenueModel.train_s", "CorpusPipeline.run_s"], []),
    "table_churn": (
        ["ops_per_s", "append_p50_ms", "merge_p50_ms", "delete_p50_ms", "read_p50_ms",
         "lookup_p50_ms", "time_travel_p50_ms"],
        [f"spark.jobs_per_{k}" for k in
         ("append", "merge", "delete", "read", "lookup", "time_travel")] +
        [f"spark.{m}_ms_per_{k}" for m in ("executor_run", "driver_gap")
         for k in ("append", "merge", "delete")] +
        [f"fs.{c}_per_{k}" for c in ("list", "stat", "open", "rename", "delete")
         for k in ("append", "merge", "delete")] +
        [f"fs.{c}_per_{k}" for c in ("list", "stat", "open")
         for k in ("read", "lookup", "time_travel")] +
        [f"fs.{c}_per_commit" for c in ("list", "stat", "open", "rename", "delete")] +
        ["LogStore.publishes_per_commit",
         "spark.input_mb_per_merge", "ManifestTable.checkpoint_commits",
         "ManifestTable.optimize_ms", "ManifestTable.optimize_rewrites",
         "storage.write_amp", "storage.space_amp"]),
    "cdc_stream": (
        ["freshness_p50_ms", "stream.backlog_end", "generator.late_ms_max"],
        ["stream.trigger_ms", "ApplyChanges.apply_ms", "TableFeedSource.offset_ms",
         "TableFeedSource.get_batch_ms", "stream.planning_ms", "stream.wal_ms",
         "spark.jobs_per_batch", "fs.calls_per_batch"]),
}


# checks each workload must report as passed
CHECKS = {
    "batch_refresh": ["batch_refresh.outputs repeat across refreshes"],
    "table_churn": ["table_churn final state matches the model"],
    "cdc_stream": ["cdc_stream.stream kept up (stream.backlog_end = 0)",
                   "cdc_stream target = last writer by sequence"],
}


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--orders", str(ORDERS)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr}"
    return p.stdout.splitlines()


def printed(lines, name, unit=None):
    """True when the report lists `name` with a number (and `unit`)."""
    for l in lines:
        f = l.split()
        if len(f) >= 3 and f[0] == name and (unit is None or f[2] == unit):
            try:
                float(f[1])
                return True
            except ValueError:
                pass
    return False


def listed_at_least(lines, name, least):
    for l in lines:
        f = l.split()
        if len(f) >= 2 and f[0] == name:
            try:
                return float(f[1]) >= least
            except ValueError:
                return False
    return False


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = sys.argv[1:] or list(DETAIL)
    failures = []
    for w in workloads:
        for trace in (0, 1):
            lines = run(w, trace)
            out = json.loads(lines[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            tag = f"{w} trace={trace}"
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                failures.append(f"{tag}: correct={out['correct']} failed={out['failed']} "
                                f"attempted={out['attempted']}")
            listed = bench["per_layer"] if trace else bench["end_to_end"]
            for m in listed:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] \
                        or not isinstance(got["value"], (int, float)):
                    failures.append(f"{tag}: metric {m['name']} [{m['unit']}] missing or wrong: {got}")
            if set(out["metrics"]) != {m["name"] for m in listed}:
                failures.append(f"{tag}: unlisted metrics "
                                f"{sorted(set(out['metrics']) - {m['name'] for m in listed})}")
            always, traced = DETAIL[w]
            for name in always + (traced if trace else []):
                if not printed(lines, name):
                    failures.append(f"{tag}: detail {name} not printed")
            if not printed(lines, "failed_frac", "ratio"):
                failures.append(f"{tag}: failed_frac not printed")
            if not any(l.startswith("workload ") and " seed 7 " in l for l in lines):
                failures.append(f"{tag}: seed not printed")
            # every check named here must have run and passed: the
            # filesystem probe's own check (each call kind, listFiles and
            # listLocatedStatus included, counted once) and the stream's
            # backlog check
            for check in CHECKS[w] + (["fs probe counts every call once"] if trace else []):
                if not any(l.split(None, 1) == ["ok", check] for l in lines):
                    failures.append(f"{tag}: check '{check}' did not run or failed")
            # a write lists at least its staging directory and the log
            if trace and w == "table_churn" and not listed_at_least(lines, "fs.list_per_append", 2):
                failures.append(f"{tag}: fs.list_per_append below 2")
            print(f"{tag}: {len(out['metrics'])} metrics, correct={out['correct']}")
    for f in failures:
        print("FAIL", f)
    print("smoke test", "FAILED" if failures else "passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
