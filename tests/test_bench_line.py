"""The driver records only the last ~2000 chars of bench stdout
(BENCH_r01.json: tail len 2000, parsed null when the line overflowed).
render_line must ALWAYS produce one parseable JSON line under that window,
never dropping failures, preferring the slowest (highest-signal) queries,
and summarizing what it omits.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from bench import LINE_BUDGET, render_line  # noqa: E402


def _mk(n: int, base: float = 0.05) -> dict[str, float]:
    return {f"operator_key_number_{i:03d}_long_name": base + i * 0.013 for i in range(n)}


def test_fits_driver_window_at_full_registry_size():
    pq = _mk(130)
    line = render_line(pq, 43.2, 0.1)
    assert len(line) <= LINE_BUDGET <= 1950  # driver tail window is 2000
    d = json.loads(line)
    assert d["metric"] == "headline_queries_total_wall"
    assert d["queries_n"] == 130
    assert d["queries_omitted"] == 130 - len(d["queries"])


def test_failures_always_shown_and_slowest_preferred():
    pq = _mk(130)
    pq["zz_broken_query"] = -1.0
    d = json.loads(render_line(pq, 43.2, 0.1))
    assert d["queries"]["zz_broken_query"] == -1.0
    shown_ok = [v for k, v in d["queries"].items() if v >= 0]
    omitted = [v for k, v in pq.items() if k not in d["queries"]]
    assert min(shown_ok) >= max(omitted)


def test_omitted_total_accounts_for_everything():
    pq = _mk(130)
    d = json.loads(render_line(pq, 99.9, 0.01))
    recon = sum(d["queries"].values()) + d["omitted_sec"]
    assert abs(recon - sum(pq.values())) < 0.5  # rounding slack only


def test_small_registry_shows_everything():
    pq = _mk(10)
    d = json.loads(render_line(pq, 1.0, 0.001))
    assert d["queries_omitted"] == 0
    assert len(d["queries"]) == 10


def test_merge_bench_band(tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from merge_bench_band import merge

    # 6 stable filler keys keep the one suspect key at 1/8 = 12.5% of the
    # sweep, below the contended-run gate's 15% drop threshold (the gate
    # itself is spec'd by tests/test_merge_bench_band.py).
    fill = {f"q_fill_{i}": 0.5 for i in range(6)}
    runs = []
    for i, (qa, qb) in enumerate([(1.0, 2.0), (1.2, 1.8), (1.1, -1.0)]):
        p = tmp_path / f"b{i}.json"
        p.write_text(
            json.dumps(
                {
                    "metric": "headline_queries_total_wall",
                    "unit": "sec",
                    "reps": 3,
                    "sf": 0.1,
                    "value": qa + max(qb, 0) + sum(fill.values()),
                    "queries": {"qa": qa, "qb": qb, **fill},
                    "suspect_contention": ["qa"] if i == 1 else [],
                }
            )
        )
        runs.append(str(p))
    merged = merge(runs)
    # anchor = max across runs (conservative slow-band anchor)
    assert merged["queries"]["qa"] == 1.2
    assert merged["band"]["qa"] == [1.0, 1.2]
    # any failed run keeps the key visibly failed, no band
    assert merged["queries"]["qb"] == -1.0
    assert "qb" not in merged["band"]
    assert merged["runs_n"] == 3
    assert merged["suspect_contention"] == ["qa"]
    assert merged["value_band"][0] <= merged["value_band"][1]


def test_contention_context_fields_in_line(tmp_path, monkeypatch):
    """The snapshot line must carry suspect_share and (when a band
    artifact exists) floor_ratio_prev so a contended-host run can't read
    as a code regression (r11 verdict item 6)."""
    import bench

    artifact = {
        "queries": {"qa": 2.0, "qb": 2.0},
        "band": {"qa": [1.0, 2.0], "qb": [2.0, 2.0]},
    }
    (tmp_path / "BENCH_full_r98.json").write_text(json.dumps(artifact))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _p: str(tmp_path / "bench.py")
    )
    pq = {"qa": 1.5, "qb": 3.0, "qc": 0.2}  # qc has no prior floor
    ctx = bench.contention_context(pq, suspects=["qb"])
    assert ctx["suspect_share"] == round(1 / 3, 4)
    # floors are the band MINs: (1.5 + 3.0) / (1.0 + 2.0)
    assert ctx["floor_ratio_prev"] == 1.5
    assert ctx["floor_shared_n"] == 2
    d = json.loads(bench.render_line(pq, 4.7, 0.1, ["qb"], ctx))
    assert d["suspect_share"] == ctx["suspect_share"]
    assert d["floor_ratio_prev"] == 1.5


def test_contention_context_without_prior_band(tmp_path, monkeypatch):
    import bench

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _p: str(tmp_path / "bench.py")
    )
    ctx = bench.contention_context({"qa": 1.0}, suspects=[])
    assert ctx == {"suspect_share": 0.0}


def test_load_prev_bench_uses_band_max(tmp_path, monkeypatch):
    import bench

    artifact = {
        "queries": {"qa": 1.0, "qb": 2.0},
        "band": {"qa": [0.9, 1.4]},
    }
    (tmp_path / "BENCH_full_r99.json").write_text(json.dumps(artifact))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _p: str(tmp_path / "bench.py")
    )
    base = bench.load_prev_bench()
    assert base["qa"] == 1.4  # band max, not anchor
    assert base["qb"] == 2.0  # no band entry -> anchor


def test_prev_round_readers_order_by_round_number(tmp_path, monkeypatch):
    """r100 is newer than r99 although it sorts before it by filename:
    both the tripwire baseline and the floor read the r100 artifact."""
    import bench

    for rnd, val in ((99, 9.0), (100, 1.0)):
        artifact = {"queries": {"qa": val}, "band": {"qa": [val / 2, val]}}
        (tmp_path / f"BENCH_full_r{rnd}.json").write_text(json.dumps(artifact))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _p: str(tmp_path / "bench.py")
    )
    assert bench.load_prev_bench() == {"qa": 1.0}
    assert bench.load_prev_floor() == {"qa": 0.5}
