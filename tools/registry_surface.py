"""Print the registry's driver-visible surface, one line per key, so two
trees can be diffed to prove a refactor moved nothing.

For every key in ``registry.KEY_MODULES`` order the line holds:

    key  module  section  bench  oracle-sha  plan-sha  jobs

``plan-sha`` hashes the key's optimized logical plan with expression ids,
lambda-variable numbers, application ids, uuids and the warehouse path
masked; ``jobs`` counts the Spark jobs that building the frame and
planning it run under the key's own job group.  Every query module is
imported first, and each key starts its expression ids at a fixed
offset: some optimizer rules order by expression id, so a plan's text
would otherwise depend on what ran before it.  Two closing lines hash
``list(priority_ordered())`` and ``__spark_entry__.oracle_sql()``.  Run
it twice on one tree first: the outputs must be identical, or the
masking missed something.

Usage: python tools/registry_surface.py [sf_dir] [--only k1,k2]
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import re
import sys
import traceback

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

_MASKS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b(lambda \w+?)_\d+#"), r"\1#"),  # lambda variables draw on a global counter
    (re.compile(r"(?<![A-Za-z])(?:local|app)[-_]\d+(?:[-_]\d+)?"), "<app>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
]


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def masked_plan(df) -> str:
    from debias_spark.warehouse import warehouse_root

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = plan.replace(warehouse_root(), "<warehouse>")  # differs per checkout
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def _expr_id_floor(spark):
    """A function that moves the JVM's expression-id counter forward to a
    given value (never back, so no id is handed out twice)."""
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    field = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.NamedExpression$"
    ).getDeclaredField("curId")
    field.setAccessible(True)
    handles = jvm.java.lang.invoke.MethodHandles
    lookup = handles.lookup()
    params = gateway.new_array(jvm.java.lang.Class, 1)
    params[0] = jvm.java.lang.Long.TYPE
    setter = jvm.java.lang.Class.forName("java.util.concurrent.atomic.AtomicLong").getMethod(
        "set", params
    )
    set_counter = handles.collectArguments(lookup.unreflect(setter), 0, lookup.unreflectGetter(field))

    def raise_to(floor: int) -> None:
        if field.get(None) < floor:
            args = gateway.new_array(jvm.java.lang.Object, 1)
            args[0] = jvm.java.lang.Long.valueOf(floor)
            set_counter.invokeWithArguments(args)

    return raise_to


def surface_rows(spark, sf_dir: str, keys=None) -> list[str]:
    """One tab-separated line per key (all keys, in table order, by
    default)."""
    from debias_spark.registry import KEY_MODULES, load_all_queries

    specs = load_all_queries()
    list(specs.values())  # import every module before any key runs
    position = {k: i for i, k in enumerate(KEY_MODULES)}
    raise_to = _expr_id_floor(spark)
    sc = spark.sparkContext
    rows = []
    for key in keys or KEY_MODULES:
        spec = specs[key]
        raise_to(10**10 + position[key] * 10**7)
        group = f"surface-{key}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            plan = _sha(masked_plan(spec.fn(spark, sf_dir)))
        except Exception as exc:  # a broken key is a surface difference too
            traceback.print_exc()
            plan = f"error:{type(exc).__name__}"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        oracle = _sha(spec.oracle) if spec.oracle is not None else "-"
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        rows.append("\t".join([key, module, spec.section, str(spec.bench), oracle, plan, str(jobs)]))
    return rows


def order_rows() -> list[str]:
    import __spark_entry__ as entrymod
    from debias_spark.registry import priority_ordered

    return [
        f"priority_ordered\t{_sha(json.dumps(list(priority_ordered())))}",
        f"oracle_sql\t{_sha(json.dumps(list(entrymod.oracle_sql().items())))}",
    ]


def main() -> None:
    args = sys.argv[1:]
    keys = None
    if "--only" in args:
        i = args.index("--only")
        keys = args[i + 1].split(",")
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    from debias_spark.session import get_spark

    spark = get_spark("registry-surface")
    for row in surface_rows(spark, sf_dir, keys) + order_rows():
        print(row, flush=True)


if __name__ == "__main__":
    main()
