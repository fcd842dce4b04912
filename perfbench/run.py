"""Benchmark entry point.

    python3 perfbench/run.py --workload {flow_pull,near_dup}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs come from ``--seed``. With
``--trace 0`` the last stdout line carries the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` it carries the per-layer metrics
(layers a workload does not reach report 0). Detail goes to stderr; spans
of a traced run are written to ``.perfbench_trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback


def _process_age_s() -> float:
    """Seconds since this process started (so set-up time includes the
    interpreter and imports)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import runtime  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("flow_pull", "near_dup")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    trace = bool(args.trace)

    # fails here, before any process starts, when the program is absent
    mod = __import__(args.workload)
    runtime.prepare_environment()
    proc = runtime.SparkProcess(f"perfbench-{args.workload}", event_log=trace)
    runtime.note(f"{args.workload}: seed {args.seed}, {runtime.cores()} cores, "
                 f"driver heap {runtime.DRIVER_MEM}")
    try:
        w, metrics = mod.run(proc, args.seed, args.seconds, trace, T_START)
    finally:
        proc.stop()
    if trace:
        layers = mod.layer_metrics(
            w, metrics, stats.read_event_log(os.path.join(runtime.WORK, "events"))
        )
        if hasattr(w, "tracer"):
            os.makedirs(os.path.join(ROOT, ".perfbench_trace"), exist_ok=True)
            w.tracer.write(os.path.join(
                ROOT, ".perfbench_trace", f"{args.workload}-seed{args.seed}.json"
            ))
        metrics = {
            m["name"]: (float(layers.get(m["name"], 0)), m["unit"]) for m in spec["per_layer"]
        }
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: (float(v), units[k]) for k, (v, _) in metrics.items()}
    for k, (v, u) in metrics.items():
        runtime.note(f"  {k} = {v:.6g} {u}")
    for f in w.failures:
        runtime.note(f"  FAILED: {f}")
    runtime.note(f"  error_rate = {w.failed}/{w.attempted}")
    runtime.emit(w.failed == 0, w.attempted, w.failed, metrics)
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM (SystemExit unwinds through
    # the ``finally`` that stops the session)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        code = main()
    except Exception:
        traceback.print_exc()
        code = 1
    finally:
        shutil.rmtree(runtime.WORK, ignore_errors=True)
    sys.exit(code)
