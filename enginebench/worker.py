"""One benchmark run in a fresh process; started by ``run.py``.

Boots the engine's session, runs one cold pass, the warm-up passes and
then the measured steady passes, checks every job's output, and writes the measurements as JSON
to ``--result``. In a traced run the steady passes alternate traced and
untraced, starting traced, and the spans go to ``--spans``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time
from dataclasses import asdict


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--slots", type=int, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args(argv)

    from enginebench import trace
    from enginebench.workloads import WORKLOADS

    tracer = trace.Tracer()
    if args.trace:
        trace.install(tracer)
        tracer.active = True
    from mrjob_spark import session

    spark = session.get_spark(
        app_name=f"enginebench-{args.workload}",
        master=f"local[{args.slots}]",
        shuffle_partitions=args.slots,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(args.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    setup_s = time.monotonic() - args.spawned_at
    boot_s = sum(sp.dur for sp in tracer.spans if sp.name == "session.get_spark")
    spans = [dict(asdict(sp), steady_pass=None) for sp in tracer.spans]
    tracer.active = False
    tracer.reset_pass()
    tracer.spark, tracer.sc = spark, spark.sparkContext
    spark.sparkContext.setLogLevel("ERROR")

    wl = WORKLOADS[args.workload](spark, args.inputs, args.run_dir, tracer)
    window0 = time.monotonic()
    cold = wl.run_pass()
    warmup = [wl.run_pass() for _ in range(wl.warmup_passes)]
    n_steady = wl.measured_passes(args.seconds)
    if args.trace:
        n_steady = max(2, n_steady)
    steady, traced_flags = [], []
    for i in range(n_steady):
        tracer.active = bool(args.trace) and i % 2 == 0
        tracer.reset_pass()
        steady.append(wl.run_pass())
        traced_flags.append(tracer.active)
        if tracer.active:
            spans += [dict(asdict(sp), steady_pass=i) for sp in tracer.spans]
        tracer.active = False
    window_s = time.monotonic() - window0
    wl.check([cold] + warmup + steady)
    check_s = time.monotonic() - window0 - window_s

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_rss_mb = _vm_hwm_mb(jvm_pid)
    t_stop = time.monotonic()
    spark.stop()
    stop_s = time.monotonic() - t_stop

    def pass_dict(p, traced):
        return {"seconds": p.seconds, "traced": traced, "layers": p.layers,
                "jobs": [asdict(j) for j in p.jobs]}

    result = {
        "setup_s": setup_s,
        "boot_s": boot_s,
        "window_s": window_s,
        "check_s": check_s,
        "stop_s": stop_s,
        "cold": pass_dict(cold, False),
        "warmup": [pass_dict(p, False) for p in warmup],
        "steady": [pass_dict(p, t) for p, t in zip(steady, traced_flags)],
        "jvm_rss_peak_mb": jvm_rss_mb,
        "driver_rss_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    if args.trace:
        with open(args.spans, "w") as fh:
            json.dump(spans, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
