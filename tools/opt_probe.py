"""Optimization probe (r13, reused r14): isolate one or more keys, time
them with the noop sink (guide §1.4) in a fresh tuned session, and dump
their .explain("formatted") plans to plans/<round>/<key>_<tag>.txt.

Usage:
    python tools/opt_probe.py key1,key2 [--tag before|after] [--reps 3]
        [--sf /root/testdata/sf0.1] [--round r14] [--no-plan]

Prints one line per key: min/median of reps after one warmup run.
"""

from __future__ import annotations

import pathlib
import statistics
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def main() -> None:
    keys = sys.argv[1].split(",")
    tag = sys.argv[sys.argv.index("--tag") + 1] if "--tag" in sys.argv else None
    reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 3
    sf = sys.argv[sys.argv.index("--sf") + 1] if "--sf" in sys.argv else "/root/testdata/sf0.1"
    rnd = sys.argv[sys.argv.index("--round") + 1] if "--round" in sys.argv else "r14"

    from debias_spark.registry import load_all_queries
    from debias_spark.session import get_spark

    spark = get_spark("opt-probe")
    specs = load_all_queries()
    plan_dir = pathlib.Path(__file__).resolve().parent.parent / "plans" / rnd
    plan_dir.mkdir(parents=True, exist_ok=True)

    for key in keys:
        spec = specs[key]
        spark.sparkContext.setJobDescription(f"opt-probe:{key}")
        times = []
        for i in range(reps + 1):  # rep 0 = warmup (codegen + page cache)
            t0 = time.perf_counter()
            df = spec.fn(spark, sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i > 0:
                times.append(dt)
        if tag:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (plan_dir / f"{key}_{tag}.txt").write_text(plan)
        print(
            f"{key}: min={min(times):.3f}s med={statistics.median(times):.3f}s "
            f"reps={times}",
            flush=True,
        )


if __name__ == "__main__":
    main()
