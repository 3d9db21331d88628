#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 enginebench/run.py --workload mr_jobs --seed 1 --seconds 24 --trace 0

Run from the root of a source checkout. The run

1. generates the seeded inputs (cached under ``.bench_cache/``), outside
   every timed region;
2. starts ``enginebench/worker.py`` in a fresh process and session with a
   private ``TMPDIR``, ``SPARK_LOCAL_DIRS``, JVM temp dir, warehouse and
   streaming checkpoint root, all under ``.bench_runs/``;
3. after the worker exits, counts the scratch entries the engine left in
   its ``TMPDIR`` and the processes still alive, kills the survivors and
   removes the run directory;
4. writes the full record (per-pass series, host context, failures) to
   ``.bench_out/`` and prints one JSON line: ``correct``, ``attempted``,
   ``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
   metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("mr_jobs", "dedup_ingest")
WORKER_TIMEOUT_S = 150


def _cpu_times() -> list[int]:
    """Machine-wide jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _session_procs(sid: int) -> dict[int, int]:
    """pid -> utime+stime jiffies of every process in session ``sid``."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state (field 3 of stat); session is field 6
        if int(fields[3]) == sid and fields[0] != "Z":
            procs[int(name)] = int(fields[11]) + int(fields[12])
    return procs


def _stop_session(sid: int) -> None:
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 10
    while _session_procs(sid) and time.monotonic() < deadline:
        time.sleep(0.05)


def _run_worker(args, inputs: str, run_dir: str, result: str, spans: str):
    """Run the worker. Returns its exit code (None on timeout), the CPU
    jiffies of its process tree, the processes left after it exited and
    the entries left in its TMPDIR."""
    slots = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "jvm-tmp", "local", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(slots),
        # the JVM keeps its perf counters in memory, not under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:+PerfDisableSharedMem",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    cmd = [
        sys.executable, "-m", "enginebench.worker",
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--inputs", inputs, "--run-dir", run_dir,
        "--slots", str(slots), "--result", result, "--spans", spans,
    ]
    cpu: dict[int, int] = {}
    spawned_at = time.monotonic()
    proc = subprocess.Popen(
        cmd + ["--spawned-at", repr(spawned_at)], cwd=dirs["cwd"], env=env,
        stdout=sys.stderr, start_new_session=True)
    code = None
    try:
        while code is None and time.monotonic() - spawned_at < WORKER_TIMEOUT_S:
            cpu.update(_session_procs(proc.pid))
            try:
                code = proc.wait(timeout=0.5)
            except subprocess.TimeoutExpired:
                pass
        exited_at = time.monotonic()
        # the JVM and Python workers exit once the worker has; give them a
        # moment before counting survivors
        deadline = time.monotonic() + 5
        while (left := _session_procs(proc.pid)) and time.monotonic() < deadline:
            cpu.update(left)
            time.sleep(0.1)
        print(f"enginebench: worker exit {exited_at - spawned_at:.1f}s, "
              f"{len(left)} left after {time.monotonic() - exited_at:.1f}s",
              file=sys.stderr)
    finally:
        _stop_session(proc.pid)
        if proc.poll() is None:
            proc.wait()
    return code, sum(cpu.values()), len(left), len(os.listdir(dirs["tmp"]))


def _median(values):
    return statistics.median(values) if values else 0.0


def _p90(values):
    """90th percentile, interpolated between the two order statistics
    around it (``statistics.quantiles``, inclusive method). Every run
    has at least two steady job samples."""
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _summarise(w: dict, layer_names) -> tuple[dict, dict]:
    """End-to-end metrics and the per-layer metrics of one worker record."""
    untraced = [p for p in w["steady"] if not p["traced"]]
    traced = [p for p in w["steady"] if p["traced"]]
    job_s = [j["seconds"] for p in untraced for j in p["jobs"]]
    e2e = {
        "setup_s": w["setup_s"],
        "cold_pass_s": w["cold"]["seconds"],
        "pass_s": _median([p["seconds"] for p in untraced]),
        "job_s.p50": _median(job_s),
        "job_s.tail": _p90(job_s),
    }
    layers: dict[str, float] = {}
    if traced:
        for key in traced[0]["layers"]:
            layers[key] = statistics.fmean(p["layers"][key] for p in traced)
        t_s = _median([p["seconds"] for p in traced])
        u_s = _median([p["seconds"] for p in untraced])
        layers["trace.overhead_s"] = t_s - u_s
        layers["trace.overhead_share"] = (t_s - u_s) / u_s if u_s else 0.0
    for key in layer_names:  # layers a workload never enters read zero
        layers.setdefault(key, 0.0)
    layers["session.boot_s"] = w["boot_s"]
    layers["jvm.rss_peak_mb"] = w["jvm_rss_peak_mb"]
    layers["py.driver_rss_peak_mb"] = w["driver_rss_peak_mb"]
    return e2e, layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("mrjob_spark", os.path.join("tools", "gen_sf.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"enginebench: {need} not found under {ROOT}; run from a "
                  "source checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from enginebench.inputs import ensure_inputs

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    load_avg = os.getloadavg()
    cpu0 = _cpu_times()
    t0 = time.monotonic()
    inputs, gen_s, cached = ensure_inputs(ROOT, os.path.join(ROOT, ".bench_cache"), args.seed)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".bench_runs", tag)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(out_dir, f"{tag}.spans.json")
    try:
        code, own_jiffies, children_left, tmp_leaked = _run_worker(
            args, inputs, run_dir, result_path, spans_path)
        worker = None
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as fh:
                worker = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu1 = _cpu_times()
    if worker is None:
        print(f"enginebench: worker failed (exit {code})", file=sys.stderr)
        return 1

    delta = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(delta) or 1
    busy = total - delta[3] - delta[4]
    e2e, layers = _summarise(worker, [m["name"] for m in spec["per_layer"]])
    layers["proc.children_left"] = children_left
    layers["dataflow.tmp_leaked"] = tmp_leaked
    passes = [worker["cold"]] + worker["warmup"] + worker["steady"]
    jobs = [j for p in passes for j in p["jobs"]]
    failures = [j for j in jobs if j["error"]]
    n_samples = sum(len(p["jobs"]) for p in worker["steady"] if not p["traced"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "inputs": {"dir": inputs, "generation_s": gen_s, "cached": cached},
        "host": {
            "slots": len(os.sched_getaffinity(0)),
            "load_avg_at_start": load_avg,
            "steal_share": delta[7] / total,
            "other_cpu_share": max(0, busy - own_jiffies) / total,
            "wall_s": time.monotonic() - t0,
        },
        "warmup_discarded": {
            "cold_pass_s": worker["cold"]["seconds"],
            "warmup_pass_s": [p["seconds"] for p in worker["warmup"]],
        },
        "job_s.tail": {"percentile": 90, "samples": n_samples},
        "phases_s": {k: worker[k] for k in
                     ("setup_s", "window_s", "check_s", "stop_s")},
        "passes": passes,
        "failures": [f"{j['name']}: {j['error']}" for j in failures],
        "end_to_end": e2e,
        "per_layer": layers,
    }
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in record["failures"]:
        print(f"enginebench: FAILED {f}", file=sys.stderr)

    values = layers if args.trace else e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": not failures,
        "attempted": len(jobs),
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
