"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  Starts one worker process in a
fresh directory under ``.bench_runs/`` (its own temp, warehouse, Spark
scratch and output dirs), samples the peak resident memory of the
worker's whole process tree, stops every process the run started, and
prints the result as the last line of standard output.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, and the spans are kept in
``.bench_runs/spans-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.pools import WORKLOADS  # noqa: E402
from perfbench.procs import stop_session, tree_rss_mb  # noqa: E402

# Time the worker may take beyond --seconds: JVM start, the set-up
# restarts, input generation, verification, warm-up and the last
# operation of the window.
SETUP_ALLOWANCE_S = 150
WARMUP_TREND_LIMIT = 0.10
# The JVM heap is committed and touched in full at start, so that peak
# memory does not depend on when the garbage collector grows the heap.
# The JIT compiler threads live as long as the JVM, so that the CPU time
# the worker subtracts for them is never folded into the process total
# by a retiring thread.
HEAP_MB = 2048
JVM_OPTIONS = f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
POLL_S = 0.5  # reading smaps_rollup walks page tables under the mmap lock
E2E_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "records_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("run.task_util", "annotate.records_per_input"):
        return "ratio"
    if name == "plain.records_per_s":
        return "1/s"
    if name == "sources.bytes_written":
        return "bytes"
    return "count"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "debias_spark", "pipeline.py")):
        print(f"no debias_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".bench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{HEAP_MB}m",
        DEBIAS_WAREHOUSE_DIR=os.path.join(run_dir, "warehouse"),
        DEBIAS_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "{JVM_OPTIONS}" pyspark-shell',
        PYTHONHASHSEED="0",
    )
    env.pop("OMP_NUM_THREADS", None)
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", ROOT, "--result", result_path,
    ]
    log_path = os.path.join(run_dir, "worker.log")
    peak = 0.0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        deadline = time.monotonic() + args.seconds + SETUP_ALLOWANCE_S
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                peak = max(peak, tree_rss_mb(proc.pid))
                time.sleep(POLL_S)
        finally:
            timed_out = proc.poll() is None
            stop_session(proc.pid)
            proc.wait()
    if timed_out or proc.returncode != 0 or not os.path.isfile(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        if timed_out:
            print(f"worker stopped: still running {args.seconds + SETUP_ALLOWANCE_S:.0f} s "
                  f"after start (--seconds plus {SETUP_ALLOWANCE_S} s for set-up)",
                  file=sys.stderr)
        else:
            print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)
    if args.trace:
        spans = os.path.join(runs, f"spans-{args.workload}-s{args.seed}.json")
        os.replace(os.path.join(run_dir, "spans.json"), spans)
        metrics = {name: {"value": v, "unit": layer_unit(name)}
                   for name, v in res["per_layer"].items()}
    else:
        values = dict(res["e2e"], peak_rss_mb=peak)
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in E2E_UNITS.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    trend = res["detail"]["warmup_trend"]
    if trend is not None and abs(trend) >= WARMUP_TREND_LIMIT:
        print(f"warning: warm-up trend {trend:+.1%}: the CPU time of the first half "
              "of each key's operations differs from the second half by more than "
              f"{WARMUP_TREND_LIMIT:.0%}, so the run may still be warming up",
              file=sys.stderr)
    print(json.dumps({"detail": res["detail"], "peak_rss_mb": peak}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
