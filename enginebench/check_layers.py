#!/usr/bin/env python3
"""Layer-prediction self-check.

    python3 enginebench/check_layers.py [--seed 1] [--seconds N]

Makes one traced run per workload (``run.py --trace 1``) and checks every
row of ``PREDICTIONS``: each metric is non-zero on every workload
where it should move, and on each workload with little or no such work
it is a smaller share of ``pass_s`` (for times) or a smaller value (for
counts, bytes and ratios) than on every workload where it should move.
Prints one line per check, the tracing overhead as a share of untraced
``pass_s``, and exits non-zero if any check fails.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

ALL = ("mr_jobs", "dedup_ingest")

#: (metrics, end-to-end metric they should move, workloads where they
#: should move, workloads with little or no such work).
PREDICTIONS = [
    (("session.boot_s",), "setup_s", ALL, ()),
    # configure_session runs per Tables() and per load_table
    (("session.configure_calls", "session.configure_s"), "job_s.p50",
     ("mr_jobs",), ("dedup_ingest",)),
    # one catalog load, with its footer job, per query; the stream and
    # the band index are read without the catalog
    (("catalog.load_calls", "catalog.load_s", "catalog.jobs"), "job_s.p50",
     ("mr_jobs",), ("dedup_ingest",)),
    # the DataFrame-to-RDD bridge runs the scan and repartition while the
    # query is being built; a stream's build is only its start
    (("build.s", "build.jobs", "build.job_share"), "pass_s",
     ("mr_jobs",), ("dedup_ingest",)),
    (("exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
      "exec.cpu_s", "exec.core_util"), "pass_s", ALL, ()),
    # exec.shuffle_write_bytes was predicted here too and failed: at
    # sf0.01 both workloads write ~115 KB of shuffle per pass
    (("exec.shuffle_read_bytes",), "job_s.tail", ("mr_jobs",), ("dedup_ingest",)),
    (("exec.input_bytes", "exec.input_rows"), "job_s.p50",
     ("dedup_ingest",), ("mr_jobs",)),
    (("operators.calls", "operators.dedup.s"), "job_s.p50",
     ("dedup_ingest",), ("mr_jobs",)),
    (("operators.partitioning.s",), "pass_s", ALL, ()),
    (("py.stage_run_s",), "pass_s", ("mr_jobs",), ("dedup_ingest",)),
    (("dataflow.runner_calls", "dataflow.runner_s", "dataflow.steps",
      "dataflow.shuffle_bytes", "dataflow.combine_ratio", "dataflow.spawns"),
     "pass_s", ("mr_jobs",), ("dedup_ingest",)),
    (("stream.batches", "stream.batch_s", "stream.batch_jobs", "stream.plan_s",
      "stream.offset_s", "stream.commit_s", "stream.add_batch_s",
      "stream.index_bytes_per_doc", "stream.index_files"),
     "job_s.p50", ("dedup_ingest",), ("mr_jobs",)),
    (("cache.persisted_bytes_peak",), "pass_s", ALL, ()),
    (("jvm.rss_peak_mb", "jvm.gc_s", "py.driver_rss_peak_mb"), "job_s.tail",
     ALL, ()),
]


def traced_record(workload: str, seed: int, seconds: int) -> dict:
    before = set(glob.glob(os.path.join(ROOT, ".bench_out", "*.json")))
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    pattern = os.path.join(ROOT, ".bench_out", f"{workload}-seed{seed}-trace1-*.json")
    new = [p for p in glob.glob(pattern)
           if p not in before and not p.endswith(".spans.json")]
    with open(max(new, key=os.path.getmtime)) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args(argv)
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    records = {w["name"]: traced_record(w["name"], args.seed, args.seconds)
               for w in bench["workloads"]}
    ok = True

    def report(passed: bool, text: str) -> None:
        nonlocal ok
        ok &= passed
        print(f"{'ok  ' if passed else 'FAIL'} {text}")

    for metrics, moves, should, little in PREDICTIONS:
        for name in metrics:
            def weight(w):
                value = records[w]["per_layer"][name]
                if units[name] == "s":
                    return value / records[w]["end_to_end"]["pass_s"]
                return value

            kind = "share of pass_s" if units[name] == "s" else units[name]
            for w in should:
                report(weight(w) > 0, f"{name} non-zero on {w} ({kind} "
                       f"{weight(w):.4g}; should move {moves})")
            for w in little:
                floor = min(weight(s) for s in should)
                report(weight(w) < floor, f"{name} on {w}: {kind} "
                       f"{weight(w):.4g} < {floor:.4g} where it should move")
    for w, rec in records.items():
        share = rec["per_layer"]["trace.overhead_share"]
        print(f"info tracing overhead on {w}: {share:+.1%} of untraced pass_s "
              f"({rec['per_layer']['trace.overhead_s']:+.3f} s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
