"""merge_bench_band contracts: timestamp-ordered headline (r9 advice),
failed-newest fallback, and the r10 mechanical contended-run gate."""

from __future__ import annotations

import json
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from tools.merge_bench_band import merge  # noqa: E402


def _run(tmp_path, name, ts, total, queries, suspects=()):
    p = tmp_path / name
    p.write_text(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "reps": 3,
                "sf": 0.1,
                "ts": ts,
                "queries": queries,
                "queries_n": len(queries),
                "suspect_contention": list(suspects),
            }
        )
    )
    return str(p)


Q = {f"k{i}": 0.5 + i * 0.01 for i in range(20)}


def test_headline_is_newest_by_timestamp_not_cli_order(tmp_path):
    newest = _run(tmp_path, "a.json", ts=300, total=111.0, queries=Q)
    oldest = _run(tmp_path, "b.json", ts=100, total=999.0, queries=Q)
    # newest passed FIRST on the CLI: the old code would publish 999.0
    out = merge([newest, oldest])
    assert out["value"] == 111.0
    assert out["value_band"] == [111.0, 999.0]


def test_failed_newest_falls_back_to_band_max(tmp_path):
    ok = _run(tmp_path, "a.json", ts=100, total=120.0, queries=Q)
    failed = _run(tmp_path, "b.json", ts=200, total=-1, queries=Q)
    out = merge([ok, failed])
    assert out["value"] == 120.0  # never a negative headline
    assert out["value_band"] == [120.0, 120.0]


def test_all_failed_refuses(tmp_path):
    failed = _run(tmp_path, "a.json", ts=100, total=-1, queries=Q)
    with pytest.raises(SystemExit):
        merge([failed, failed])


def test_contended_run_dropped_when_two_clean_remain(tmp_path, capsys):
    clean1 = _run(tmp_path, "a.json", ts=100, total=100.0, queries=Q)
    clean2 = _run(tmp_path, "b.json", ts=200, total=105.0, queries=Q)
    hot = _run(
        tmp_path, "c.json", ts=300, total=160.0, queries=Q,
        suspects=[f"k{i}" for i in range(4)],  # 4/20 = 20% > 15%
    )
    out = merge([clean1, clean2, hot])
    assert out["runs_n"] == 2
    assert out["value_band"] == [100.0, 105.0]
    assert out["value"] == 105.0  # newest CLEAN run
    assert "dropping contended run" in capsys.readouterr().out


def test_contended_runs_kept_when_too_few_clean(tmp_path):
    clean = _run(tmp_path, "a.json", ts=100, total=100.0, queries=Q)
    hot = _run(
        tmp_path, "b.json", ts=200, total=160.0, queries=Q,
        suspects=[f"k{i}" for i in range(4)],
    )
    # only one clean run: a band from one run is worse than a wide band
    out = merge([clean, hot])
    assert out["runs_n"] == 2
    assert out["value_band"] == [100.0, 160.0]

def test_refuses_merged_artifact_as_input(tmp_path):
    raw = _run(tmp_path, "a.json", ts=100, total=100.0, queries=Q)
    merged_art = tmp_path / "merged.json"
    merged_art.write_text(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": 105.0,
                "unit": "sec",
                "reps": 3,
                "sf": 0.1,
                "ts": 200,
                "queries": Q,
                "runs_n": 3,
                "value_band": [100.0, 110.0],
                "suspect_contention": list(Q)[:5],
            }
        )
    )
    with pytest.raises(SystemExit, match="already a merged band artifact"):
        merge([raw, str(merged_art)])


def test_compare_prev_symmetric_floor_ratios(tmp_path):
    from tools.merge_bench_band import compare_prev

    prev = {
        "queries": {"qa": 1.2, "qb": 2.4, "q_gone": 5.0, "q_fail": -1.0},
        "band": {"qa": [1.0, 1.2], "qb": [2.0, 2.4]},
    }
    merged = {
        "queries": {"qa": 1.3, "qb": 2.2, "q_new": 0.5, "q_fail": 1.0},
        "band": {"qa": [1.1, 1.3], "qb": [1.8, 2.2], "q_new": [0.5, 0.5]},
    }
    cmpd = compare_prev(prev, merged)
    # shared = qa, qb only (q_gone absent new side, q_fail failed prev side)
    assert cmpd["shared_keys_n"] == 2
    assert cmpd["floor_total_prev"] == 3.0  # 1.0 + 2.0 (band FLOORS)
    assert cmpd["floor_total_new"] == 2.9  # 1.1 + 1.8
    assert abs(cmpd["floor_vs_floor_ratio"] - 2.9 / 3.0) < 1e-3
    # per-key floor ratios: 1.1/1.0=1.1, 1.8/2.0=0.9 -> median 1.0
    assert abs(cmpd["median_key_floor_ratio"] - 1.0) < 1e-6


def test_compare_prev_no_shared_keys():
    from tools.merge_bench_band import compare_prev

    assert compare_prev({"queries": {"x": 1.0}}, {"queries": {"y": 1.0}}) == {
        "shared_keys_n": 0
    }


def test_compare_prev_all_zero_prev_floors():
    """Degenerate prev (every shared floor 0) must report, not crash with
    IndexError/ZeroDivisionError (r11 advice)."""
    from tools.merge_bench_band import compare_prev

    prev = {"queries": {"qa": 0.0, "qb": 0.0}, "band": {"qa": [0.0, 0.0]}}
    merged = {"queries": {"qa": 1.0, "qb": 2.0}}
    cmpd = compare_prev(prev, merged)
    assert cmpd["shared_keys_n"] == 2
    assert "note" in cmpd
    assert "floor_vs_floor_ratio" not in cmpd


def test_main_trailing_prev_prints_usage(tmp_path, monkeypatch, capsys):
    """`--prev` as the last CLI arg is a usage error, not an IndexError
    (r11 advice)."""
    import sys

    import pytest

    from tools.merge_bench_band import main

    monkeypatch.setattr(
        sys, "argv", ["merge_bench_band.py", "out.json", "in.json", "--prev"]
    )
    with pytest.raises(SystemExit) as exc:
        main()
    assert "IndexError" not in str(exc.value)
    assert "merge" in str(exc.value).lower() or "bench" in str(exc.value).lower()
