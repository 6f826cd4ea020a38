"""The benchmark's own tests: a tiny run of every workload through the
real command, and each output check shown a deliberately wrong result.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402

TRAILING_US = 10 * 60 * 1_000_000
GAP_S = 30 * 60.0


def _run(*args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload,trace", [
    ("serve_mixed", 0), ("serve_mixed", 1), ("feature_log", 0), ("pit_skewed", 0), ("pit_skewed", 1),
])
def test_tiny_run_reports_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.01")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
    elif workload == "pit_skewed":
        for k in ("windows.task_s", "asof.cogroup_task_s", "asof.carry_task_s", "asof.width_stats_s",
                  "checkpoint.write_task_s", "checkpoint.manifest_s", "io.files_written",
                  "asof.python_mb_sent"):
            assert values[k] > 0, k
        assert values["serving.get_features.server_ms"] == 0  # no server on a Spark workload
    else:
        for k in ("serving.get_features_at.server_ms", "serving.ingest.server_ms",
                  "serving.fragments_per_lookup", "serving.ingest_set_files"):
            assert values[k] > 0, k
    assert json.loads(p.stdout.strip().splitlines()[-2])["diagnostics"]["phases_s"]


def test_fails_without_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve_mixed", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# -- the checks reject wrong results ------------------------------------------


def _transcripts():
    t0 = datetime(2026, 1, 1)
    recs = []
    for c, gaps in (("a", [0, 30, 30, 3600, 0, 60]), ("b", [0, 700, 5])):
        ts = t0
        for i, g in enumerate(gaps):
            ts += timedelta(seconds=g)
            recs.append((c, i, "user" if i % 2 == 0 else "assistant", "x" * (i + 1),
                         "search" if i == 1 else None, ts))
    return pd.DataFrame(recs, columns=list(checks.BASE_COLS))


def test_feature_log_check_rejects_a_wrong_feature():
    t = _transcripts()
    good = checks.feature_log_pd(t, TRAILING_US, GAP_S)
    assert list(good["session_id"]) == [0, 0, 0, 1, 1, 1, 0, 0, 0]
    assert checks.check_feature_log(good, t, TRAILING_US, GAP_S) == []
    bad = good.copy()
    bad.loc[4, "w_turns"] += 1
    assert checks.check_feature_log(bad, t, TRAILING_US, GAP_S)


def _pit_rows():
    t = _transcripts()
    spine = pd.DataFrame({"conv_id": ["a", "a", "b", "zz"],
                          "ts": [t.ts[1] + timedelta(seconds=1), t.ts[0] - timedelta(seconds=1), t.ts[8], t.ts[0]]})
    feats = checks.feature_log_pd(t, TRAILING_US, GAP_S)[["conv_id", "ts", "turn_idx", *checks.FEATURE_COLS]]
    return t, spine, checks.asof_join_pd(spine, feats, tiebreaks=("turn_idx",))


def test_pit_check_rejects_a_leaked_future_feature():
    t, spine, good = _pit_rows()
    assert checks.check_pit(good, spine, t, TRAILING_US, GAP_S) == []
    assert checks.check_no_leakage(good) == []
    leaked = good.copy()
    leaked.loc[0, "f_ts"] = t.ts[2]  # the row after the spine point
    assert checks.check_no_leakage(leaked)
    assert checks.check_pit(leaked, spine, t, TRAILING_US, GAP_S)


def test_count_hash_and_ack_checks():
    assert checks.check_row_count("x", 5, 5) == [] and checks.check_row_count("x", 4, 5)
    assert checks.check_content_hashes([{"0": 1}, {"0": 1}]) == []
    assert checks.check_content_hashes([{"0": 1}, {"0": 2}])
    assert checks.check_ingest_ack(16, 16) == [] and checks.check_ingest_ack(15, 16)


def _served_table():
    t = pd.DataFrame({"conv_id": ["a", "a", "a", "b"],
                      "ts": pd.to_datetime(["2026-01-01 00:00", "2026-01-01 00:05", "2026-01-01 00:05",
                                            "2026-01-01 00:01"]),
                      "turn_idx": [0, 1, 2, 0], "v": [1.0, 2.0, 3.0, 4.0]})
    table = pa.Table.from_pandas(t, preserve_index=False)
    return table, checks.ServedTable(table.column_names, "conv_id", "ts", ["turn_idx"]).add(table)


def test_serving_checks_reject_a_wrong_served_row():
    table, ref = _served_table()
    latest = table.slice(2, 1)  # the (ts, turn_idx) winner for "a"
    assert checks.check_latest(latest, ref, ["a", "ghost"]) == []
    assert checks.check_latest(table.slice(1, 1), ref, ["a"])  # tied ts, lower turn_idx
    at = pd.Timestamp("2026-01-01 00:03")
    good = pa.table({"req_idx": pa.array([0, 1], pa.int64()), "conv_id": ["a", "b"],
                     "ts": pa.array([at, at], pa.timestamp("ns")),
                     "f_ts": pa.array([pd.Timestamp("2026-01-01 00:00"), pd.Timestamp("2026-01-01 00:01")],
                                      pa.timestamp("ns")),
                     "f_turn_idx": [0, 0], "f_v": [1.0, 4.0]})
    assert checks.check_points(good, ref, [("a", at), ("b", at)]) == []
    future = good.set_column(5, "f_v", pa.array([2.0, 4.0]))  # a value from after the point
    assert checks.check_points(future, ref, [("a", at), ("b", at)])
    hist = table.slice(0, 3).sort_by([("ts", "descending"), ("turn_idx", "descending")])
    lo, hi = pd.Timestamp("2026-01-01"), pd.Timestamp("2026-01-01 01:00")
    assert checks.check_history(hist, ref, "a", lo, hi) == []
    assert checks.check_history(hist.slice(0, 2), ref, "a", lo, hi)
    assert checks.check_history(hist.sort_by("ts"), ref, "a", lo, hi)
    assert checks.check_same_rows("s", table, table) == []
    assert checks.check_same_rows("s", table.slice(1), table)
