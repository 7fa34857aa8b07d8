"""One benchmark run in a fresh process: set up, generate the seeded
inputs, verify every operation kind once, then measure a closed loop of
operations from one client for the requested number of seconds.

Started by ``perfbench/run.py`` with the run's own working directory and
temp dirs; writes its result as JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

import pyspark
from pyspark.sql import functions as F

from perfbench import corpus, pools, tables
from perfbench.procs import cpu_jiffies, tree_cpu_s
from perfbench.stats import timing_summary, warmup_trend
from perfbench.trace import (
    CountingClient,
    Tracer,
    TriggerListener,
    annotate_accumulator,
    drain_listener_bus,
    stage_metrics,
)

SETUP_REPS = 5
PIPELINE_WARMUP_OPS = 3
QUERY_WARMUP_PASSES = 4
CHECK_LANGUAGE = "en"  # the one-language issue distribution

# (wall s, CPU s outside the JIT compiler threads, JIT compiler CPU s)
Cost = tuple[float, float, float]

PER_LAYER = [
    "trace.ops", "trace.overhead_s",
    "session.start_s", "registry.load_s",
    "catalog.table_calls", "catalog.table_s",
    "queries.build_s", "queries.build_jobs", "compile.plan_s", "run.execute_s",
    "run.jobs", "run.stages", "run.tasks", "run.driver_overhead_s",
    "run.task_s", "run.task_cpu_s", "run.task_util",
    "run.shuffle_read_mb", "run.shuffle_write_mb", "run.spill_mb",
    "streaming.triggers", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.get_batch_s", "streaming.wal_commit_s",
    "annotate.batches", "annotate.records", "annotate.input_records",
    "annotate.records_per_input", "annotate.client_s", "annotate.retries",
    "pipeline.run_s", "sources.sink_s", "sources.files_written",
    "sources.bytes_written", "pipeline.summary_s", "report.render_s",
    "report.rows", "pipeline.analytics_s",
    "plain.wall_s", "plain.op_p50_s", "plain.records_per_s", "jvm.jit_cpu_s",
]

# per-layer metric -> span whose self time it reports
SPAN_METRICS = {
    "catalog.table_s": "catalog.table",
    "queries.build_s": "queries.build",
    "compile.plan_s": "compile.plan",
    "run.execute_s": "run.execute",
    "pipeline.run_s": "pipeline.run_pipeline",
    "sources.sink_s": "sources.sink",
    "pipeline.summary_s": "pipeline.summary",
    "report.render_s": "report.render",
    "pipeline.analytics_s": "pipeline.analytics",
}


def calibrate() -> float:
    """Host-speed calibration: best of three runs of a fixed pure-Python
    loop, in seconds."""
    best = float("inf")
    for _ in range(3):
        start, acc = time.perf_counter(), 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - start)
    return best


def source_identity(root: str) -> dict:
    """The program's git commit when the checkout has one, and a digest of
    its source files either way."""
    commit = None
    head = os.path.join(root, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(root, ".git", ref[5:])
            if os.path.isfile(ref_path):
                with open(ref_path) as fh:
                    commit = fh.read().strip()
        else:
            commit = ref
    digest = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(root, "debias_spark"))):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    digest.update(fh.read())
    return {"commit": commit, "source_sha256": digest.hexdigest()[:16]}


def cli_summary(annotated):
    """The CLI's per-file summary frame (``debias_spark.cli.main``)."""
    return (
        annotated.groupBy("src_file", "language")
        .agg(
            F.count("*").alias("records"),
            F.sum((F.size("tags") > 0).cast("int")).alias("flagged"),
            F.sum(F.when(F.col("_error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
        .orderBy("src_file")
    )


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.tables_read: list[str] | None = None
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.sid = os.getsid(0)  # the session of the run's processes
        self.problems: list[str] = []
        self.layer: Counter = Counter()  # summed over traced operations
        self.attempted = self.failed = 0
        self.listener: TriggerListener | None = None
        self.acc = None
        self._install_wrappers()

    # -- layer boundaries -------------------------------------------------

    def _install_wrappers(self) -> None:
        """Wrap ``catalog.table`` (before any query module imports it by
        name) and the per-file sink that ``run_pipeline`` calls."""
        import debias_spark.catalog as catalog
        import debias_spark.pipeline as pipeline

        tracer, orig_table = self.tracer, catalog.table

        @functools.wraps(orig_table)
        def table(spark, sf_dir, name):
            tracer.count("catalog.table_calls")
            if self.tables_read is not None:
                self.tables_read.append(name)
            with tracer.span("catalog.table"):
                return orig_table(spark, sf_dir, name)

        orig_sink = pipeline.write_outputs_per_file

        @functools.wraps(orig_sink)
        def sink(annotated, output_dir):
            with tracer.span("sources.sink"):
                names = orig_sink(annotated, output_dir)
            tracer.count("sources.files_written", len(names))
            return names

        catalog.table = table
        pipeline.write_outputs_per_file = sink

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Cold start once, then SETUP_REPS restarts of the session plus a
        fresh import of every query module; set-up time is their median."""
        import debias_spark.registry as registry
        from debias_spark.session import get_spark

        reps = []
        for rep in range(SETUP_REPS + 1):
            if rep:
                self.spark.stop()
                for mod in [m for m in sys.modules if m.startswith("debias_spark.queries")]:
                    del sys.modules[mod]
                registry.QUERIES.clear()
                registry.ORACLES.clear()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            t1 = time.perf_counter()
            self.specs = registry.load_all_queries()
            reps.append((t1 - t0, time.perf_counter() - t1))
        self.cold_setup = reps[0]
        warm = reps[1:]
        self.setup_s = statistics.median(a + b for a, b in warm)
        self.layer_setup = {
            "session.start_s": statistics.median(a for a, _ in warm),
            "registry.load_s": statistics.median(b for _, b in warm),
        }
        self.sc = self.spark.sparkContext
        if self.args.trace:
            self.listener = TriggerListener()
            self.spark.streams.addListener(self.listener)
            self.acc = annotate_accumulator(self.sc)

    # -- operations -------------------------------------------------------

    def _clock(self) -> Cost:
        """Wall time, the run's process-tree CPU time outside the JVM's JIT
        compiler threads, and the CPU time of those threads."""
        total, jit = tree_cpu_s(self.sid)
        return time.perf_counter(), total - jit, jit

    def _since(self, start: Cost) -> Cost:
        wall = time.perf_counter() - start[0]
        total, jit = tree_cpu_s(self.sid)
        return wall, total - jit - start[1], jit - start[2]

    def query_op(self, key: str) -> Cost:
        spec, span = self.specs[key], self.tracer.span
        start = self._clock()
        with span("op"):
            with span("queries.build"):
                df = spec.fn(self.spark, self.sf_dir)
            self.build_end = time.time()
            if df.isStreaming:
                with span("run.execute"):
                    df.count()
            else:
                with span("compile.plan"):
                    df._jdf.queryExecution().executedPlan()
                with span("run.execute"):
                    df.write.format("noop").mode("overwrite").save()
        return self._since(start)

    def pipeline_op(self, out_dir: str) -> tuple[Cost, dict]:
        from debias_spark.pipeline import (
            PipelineConfig,
            analytics_view,
            issue_distribution,
            record_distribution,
            report_rows,
            run_pipeline,
        )
        from debias_spark.report import render_reports

        span = self.tracer.span
        cfg = PipelineConfig(self.input_dir, out_dir)
        factory = functools.partial(CountingClient, self.acc) if self.tracer.enabled else None
        start = self._clock()
        with span("op"):
            with span("pipeline.run_pipeline"):
                annotated = run_pipeline(self.spark, cfg, client_factory=factory)
            self.build_end = time.time()
            with span("pipeline.summary"):
                summary = [tuple(r) for r in cli_summary(annotated).toLocalIterator()]
            with span("report.render"):
                reports = render_reports(report_rows(annotated), out_dir, fmt="text")
            with span("pipeline.analytics"):
                frame = analytics_view(self.spark, out_dir)
                got = {
                    "summary": summary,
                    "reports": sorted(reports),
                    "analytics_rows": frame.count(),
                    "issue_all": [tuple(r) for r in issue_distribution(frame).collect()],
                    "issue_lang": [
                        tuple(r) for r in issue_distribution(frame, CHECK_LANGUAGE).collect()
                    ],
                    "record_dist": [tuple(r) for r in record_distribution(frame).collect()],
                }
        return self._since(start), got

    def check_pipeline(self, got: dict, out_dir: str) -> list[str]:
        want = self.want
        problems = corpus.check_output_dir(out_dir, want)
        expect = {
            "summary": want["summary"],
            "reports": sorted(want["reports"]),
            "analytics_rows": want["analytics_rows"],
            "issue_all": want["issue_all"],
            "issue_lang": want["issue_by_lang"].get(CHECK_LANGUAGE, []),
            "record_dist": want["record_dist"],
        }
        for name, value in expect.items():
            if got[name] != value:
                problems.append(f"{name}: got {str(got[name])[:120]}, want {str(value)[:120]}")
        return problems

    # -- tracing bookkeeping ----------------------------------------------

    def collect_traced(self, group: str, op_s: float, out_dir: str | None) -> None:
        """Fold one traced operation's Spark-side counters into the layer
        totals.  Runs after the operation's timer has stopped."""
        drain_listener_bus(self.sc)
        lst, lay = self.listener, self.layer
        m = stage_metrics(self.sc, [group] + lst.run_ids, self.build_end)
        lay["trace.ops"] += 1
        lay["op_s"] += op_s
        for k in ("jobs", "stages", "tasks", "task_s", "task_cpu_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            lay[f"run.{k}"] += m.get(k, 0)
        lay["queries.build_jobs"] += m["build_jobs"]
        lay["run.driver_overhead_s"] += max(op_s - m["stage_wall_s"], 0.0)
        lay["streaming.triggers"] += lst.triggers
        for phase, name in (("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                            ("getBatch", "get_batch_s"), ("walCommit", "wal_commit_s")):
            lay[f"streaming.{name}"] += lst.phase_ms[phase] / 1e3
        lst.run_ids.clear()
        lst.triggers = 0
        lst.phase_ms.clear()
        if out_dir is None:
            return
        calls, records, client_s, failed = self.acc.value
        self.acc.value = (0, 0, 0.0, 0)
        lay["annotate.batches"] += calls
        lay["annotate.records"] += records
        lay["annotate.client_s"] += client_s
        lay["annotate.retries"] += failed
        lay["annotate.input_records"] += self.want["records"]
        for name in os.listdir(out_dir):
            path = os.path.join(out_dir, name)
            if name.endswith("-output.json"):
                lay["sources.bytes_written"] += os.path.getsize(path)
            elif name.endswith(".txt"):
                with open(path, encoding="utf-8") as fh:
                    lay["report.rows"] += sum(1 for _ in fh) - 4  # minus the header

    def per_layer(self, traced_passes: list[float], plain_passes: list[float]) -> dict:
        """Per-operation averages over the traced operations (``trace.ops``
        is their count); set-up metrics are medians over the restarts."""
        lay, ops = self.layer, max(self.layer["trace.ops"], 1)
        out = {name: value / ops for name, value in lay.items()}
        out.update({name: value / ops for name, value in self.tracer.counts.items()})
        self_s = self.tracer.self_times()
        out.update({m: self_s.get(span, 0.0) / ops for m, span in SPAN_METRICS.items()})
        out.update(self.layer_setup)
        out.update(self.plain)
        out["trace.ops"] = lay["trace.ops"]
        out["run.task_util"] = lay["run.task_s"] / max(lay["op_s"] * self.cpus, 1e-9)
        inputs = lay["annotate.input_records"]
        out["annotate.records_per_input"] = lay["annotate.records"] / inputs if inputs else 0.0
        out["trace.overhead_s"] = statistics.median(traced_passes) - statistics.median(plain_passes)
        return {name: out.get(name, 0.0) for name in PER_LAYER}

    # -- workloads ----------------------------------------------------------

    def prepare(self) -> tuple[list[str], dict[str, int], float | None]:
        """Generate the seeded inputs and verify each operation kind once
        (the first warm-up), then run untimed warm-up operations: passes
        over the query keys, or one more pipeline operation.  Returns the
        operation keys, input records per operation and the table scale
        factor."""
        a = self.args
        if a.workload == "reference_pipeline":
            self.input_dir = os.path.abspath("input")
            files = corpus.generate(a.seed, pools.CORPUS_FILES, pools.CORPUS_LINES)
            corpus.write(self.input_dir, files)
            self.want = corpus.expected(files)
            for n in range(PIPELINE_WARMUP_OPS):
                self._pipeline_step("pipeline", f"warmup{n}")
            return ["pipeline"], {"pipeline": self.want["records"]}, None
        pool = pools.QUERY_POOLS[a.workload]
        keys, sf = list(pool.keys), pool.sf
        self.sf_dir = os.path.abspath("tables")
        rows = tables.write_tables(self.sf_dir, a.seed, sf)
        records = {}
        for key in keys:
            self.tables_read = []
            self._verify_query(key)
            records[key] = sum(rows[t] for t in set(self.tables_read))
            self.tables_read = None
        for _ in range(QUERY_WARMUP_PASSES):
            for key in keys:
                self._query_step(key, f"warmup-{key}")
        return keys, records, sf

    def run(self) -> dict:
        a = self.args
        t0 = time.perf_counter()
        self.setup()
        t1 = time.perf_counter()
        keys, records, sf = self.prepare()
        phases = {"setup_all_s": t1 - t0, "prepare_s": time.perf_counter() - t1}
        step = self._pipeline_step if a.workload == "reference_pipeline" else self._query_step
        # A pass runs every key once in a seeded order; its wall time covers
        # the operations and the checks and clean-up between them, its CPU
        # time only the operations.  CPU time is the end-to-end cost: on a
        # shared virtual machine it moves less with the other guests' load
        # than wall time does.
        samples, cpu_samples = defaultdict(list), defaultdict(list)
        plain_passes, traced_passes, plain_cpu, plain_jit, plain_steal = [], [], [], [], []
        steal0, total0 = cpu_jiffies()
        start, n_pass = time.perf_counter(), 0
        min_passes = 2 if a.trace else 1  # a traced run needs a plain and a traced pass
        while n_pass < min_passes or time.perf_counter() - start < a.seconds:
            order = keys[:]
            self.rng.shuffle(order)
            traced = bool(a.trace) and n_pass % 2 == 1
            self.tracer.enabled = traced
            pass_start, cpu, jit = time.perf_counter(), 0.0, 0.0
            ps0, pt0 = cpu_jiffies()
            for key in order:
                cost = step(key, f"p{n_pass}-{key}")
                if cost is not None and not traced:
                    samples[key].append(cost[0])
                    cpu_samples[key].append(cost[1])
                    cpu += cost[1]
                    jit += cost[2]
            pass_s = time.perf_counter() - pass_start
            if traced:
                traced_passes.append(pass_s)
            else:
                plain_passes.append(pass_s)
                plain_cpu.append(cpu)
                plain_jit.append(jit)
                ps1, pt1 = cpu_jiffies()
                plain_steal.append((ps1 - ps0) / max(pt1 - pt0, 1))
            n_pass += 1
        self.tracer.enabled = False
        window_s = time.perf_counter() - start
        steal1, total1 = cpu_jiffies()
        timing = timing_summary([t for ts in samples.values() for t in ts])
        pass_records = sum(records.values())
        pass_cpu_s = statistics.fmean(plain_cpu)
        self.plain = {
            "plain.wall_s": statistics.median(plain_passes),
            "plain.op_p50_s": timing["p50"],
            "plain.records_per_s": pass_records / statistics.median(plain_passes),
            "jvm.jit_cpu_s": statistics.fmean(plain_jit),
        }
        result = {
            "correct": not self.problems and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "e2e": {
                "setup_s": self.setup_s,
                "pass_cpu_s": pass_cpu_s,
                "records_per_cpu_s": pass_records / pass_cpu_s,
            },
            "detail": {
                "env": {
                    "workload": a.workload,
                    "seed": a.seed,
                    "cpus": self.cpus,
                    "sf": sf,
                    **source_identity(a.root),
                    "spark": self.spark.version,
                    "pyspark": pyspark.__version__,
                    "java": self.sc._jvm.java.lang.System.getProperty("java.version"),
                    "python": platform.python_version(),
                    "calibration_s": self.calibration_s,
                    # share of CPU time the hypervisor gave to other guests
                    # during the window
                    "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
                },
                "cold_setup_s": {"session": self.cold_setup[0], "registry": self.cold_setup[1]},
                "phases_s": dict(phases, window=window_s),
                "passes": {"plain": plain_passes, "traced": traced_passes,
                           "plain_cpu": plain_cpu, "plain_jit_cpu": plain_jit,
                           "plain_steal": plain_steal},
                "wall": self.plain,
                "op_timing": timing,
                "op_fail_ratio": self.failed / max(self.attempted, 1),
                "warmup_trend": warmup_trend(cpu_samples),
                "key_p50_s": {k: statistics.median(v) for k, v in samples.items()},
                "records_per_op": records,
                "problems": self.problems[:10],
            },
        }
        if a.trace:
            result["per_layer"] = self.per_layer(traced_passes, plain_passes)
            self.tracer.dump(os.path.abspath("spans.json"))
        self.spark.stop()
        return result

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def _verify_query(self, key: str) -> None:
        from debias_spark.testing import compare_to_oracle

        self.attempted += 1
        spec = self.specs[key]
        try:
            df = spec.fn(self.spark, self.sf_dir)
            if spec.oracle is not None:
                compare_to_oracle(df, spec.oracle, self.sf_dir)
            elif df.count() == 0:
                self._fail(f"{key}: no rows")
        except Exception:
            self._fail(f"{key}: verify raised {traceback.format_exc(limit=1)[-300:]}")

    def _query_step(self, key: str, group: str) -> Cost | None:
        self.attempted += 1
        self.sc.setJobGroup(group, key)
        self.tracer.op_id = group
        try:
            cost = self.query_op(key)
        except Exception:
            self._fail(f"{key}: raised {traceback.format_exc(limit=1)[-300:]}")
            return None
        if self.tracer.enabled:
            self.collect_traced(group, cost[0], None)
        return cost

    def _pipeline_step(self, key: str, group: str) -> Cost | None:
        self.attempted += 1
        out_dir = os.path.abspath(os.path.join("out", group))
        self.sc.setJobGroup(group, key)
        self.tracer.op_id = group
        try:
            cost, got = self.pipeline_op(out_dir)
            problems = self.check_pipeline(got, out_dir)
        except Exception:
            self._fail(f"{group}: raised {traceback.format_exc(limit=1)[-300:]}")
            return None
        if problems:
            self._fail(f"{group}: " + "; ".join(problems[:3]))
            return None
        if self.tracer.enabled:
            self.collect_traced(group, cost[0], out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        return cost


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=pools.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--root", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()
    run = Run(args)
    run.calibration_s = calibrate()
    result = run.run()
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
