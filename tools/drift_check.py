"""Schema-drift resilience sweep.

The round driver REGENERATES the testdata parquet between rounds, and the
physical types have drifted before (TIMESTAMP(NANOS) vs TIMESTAMP(MICROS)
events.ts — the round-2 ADVICE flagged a µs-vs-ns ORDER BY tie-break as a
latent cross-engine mismatch).  This harness manufactures the drift
classes deliberately and re-runs the FULL oracle-parity sweep against
them:

  * events.ts written as parquet TIMESTAMP(NANOS) with (event_id%3)*333 ns
    jitter — rows that differ ONLY below 1 µs, so every ORDER BY ts
    tie-break is exercised across the truncation;
  * documents.n_chars narrowed to INT32;
  * lineitem.l_linenumber narrowed to SMALLINT.

Usage:
    python tools/drift_check.py [src_sf_dir] [dst_dir]

Round-3 result: 185/185 keys green against the drifted copy.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def build_drift_copy(src: str, dst: str) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")

    t = pq.read_table(f"{src}/events.parquet")
    ev = pc.cast(t.column("event_id"), pa.int64())
    three = pa.scalar(3, pa.int64())
    mod = pc.subtract(ev, pc.multiply(pc.divide(ev, three), three))
    jit = pc.multiply(mod, pa.scalar(333, pa.int64()))
    ts_int = pc.cast(pc.cast(t.column("ts"), pa.timestamp("ns")), pa.int64())
    ts_new = pc.cast(pc.add(ts_int, jit), pa.timestamp("ns"))
    cols = {name: t.column(name) for name in t.column_names}
    cols["ts"] = ts_new
    pq.write_table(pa.table(cols), f"{dst}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT doc_id, text, lang, source,
                         CAST(n_chars AS INTEGER) AS n_chars
                  FROM '{src}/documents.parquet')
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT l_orderkey, l_partkey, l_suppkey,
                         CAST(l_linenumber AS SMALLINT) AS l_linenumber,
                         l_quantity, l_extendedprice, l_discount, l_tax,
                         l_returnflag, l_linestatus, l_shipdate
                  FROM '{src}/lineitem.parquet')
            TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )


def main() -> int:
    from debias_spark.registry import load_all_queries
    from debias_spark.session import get_spark
    from debias_spark.testing import compare_to_oracle

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/drift_check"
    build_drift_copy(src, dst)
    spark = get_spark("drift-check")
    fails = []
    specs = load_all_queries()
    for name, spec in sorted(specs.items()):
        try:
            df = spec.fn(spark, dst)
            if spec.oracle is None:
                df.count()
            else:
                compare_to_oracle(df, spec.oracle, dst)
        except BaseException as e:  # noqa: BLE001 - report, don't abort
            fails.append((name, f"{type(e).__name__} {str(e)[:160]}"))
    print(f"{len(specs) - len(fails)}/{len(specs)} keys green on drifted schema")
    for n, m in fails:
        print(f"FAIL {n}: {m}")

    # the floor-boundary margin audit is data-dependent, so every fresh
    # data draw is new evidence — run it against the drifted copy too
    # (round-6 tool; see tools/float_margin_audit.py for the risk class)
    from tools.float_margin_audit import audit

    fragile, ties = audit(dst)
    for k in ties:
        print(f"margin audit tie-class (benign): {k}")
    if fragile:
        print(f"margin audit BOUNDARY-FRAGILE on drifted data: {fragile}")
    else:
        print("margin audit: no transcendental oracle near a floor boundary")
    return 1 if (fails or fragile) else 0


if __name__ == "__main__":
    sys.exit(main())
