"""Round-14 tail fixed-cost profile (r13 verdict item 3): for a sample of
bench keys, split warm per-key wall time into

  build    spec.fn() — Python expression construction + analysis work done
           eagerly inside fn (catalog scans, schema reads)
  compile  queryExecution().executedPlan() — analysis + optimization +
           physical planning of the returned frame (pre-AQE)
  run      noop write — job execution including AQE re-planning

Usage: python tools/tail_profile.py key1,key2,... [--reps 3] [--sf DIR]
Prints one JSON line per key: {"key":..., "build":..., "compile":..., "run":...}
(each = min over reps, seconds, after one warmup).
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def main() -> None:
    keys = sys.argv[1].split(",")
    reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 3
    sf = sys.argv[sys.argv.index("--sf") + 1] if "--sf" in sys.argv else "/root/testdata/sf0.1"

    from debias_spark.registry import load_all_queries
    from debias_spark.session import get_spark

    spark = get_spark("tail-profile")
    specs = load_all_queries()

    for key in keys:
        spec = specs[key]
        spark.sparkContext.setJobDescription(f"tail-profile:{key}")
        builds, compiles, runs = [], [], []
        for i in range(reps + 1):  # rep 0 = warmup
            t0 = time.perf_counter()
            df = spec.fn(spark, sf)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            if i > 0:
                builds.append(t1 - t0)
                compiles.append(t2 - t1)
                runs.append(t3 - t2)
        print(
            json.dumps(
                {
                    "key": key,
                    "build": round(min(builds), 4),
                    "compile": round(min(compiles), 4),
                    "run": round(min(runs), 4),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
