"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gates  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _write(tables, d):
    gen.write_tables(tables, str(d))
    return gen.digest(str(d))


@pytest.mark.parametrize(
    "make",
    [
        lambda s: {"events": gen.cdc_log(s, 5_000, 2_000)},
        lambda s: {"events": gen.cdc_log(s, 5_000, 100, skew=3.0)},
        lambda s: gen.fixture(s, 0.001),
    ],
    ids=["wide_log", "skewed_log", "fixture"],
)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make):
    a = _write(make(7), tmp_path / "a")
    b = _write(make(7), tmp_path / "b")
    c = _write(make(8), tmp_path / "c")
    assert a == b
    assert a != c


def test_fixture_matches_the_engine_schemas(tmp_path):
    tables = gen.fixture(1, 0.001)
    assert sorted(tables) == sorted(
        ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]
    )
    ev = tables["events"]
    assert [f.name for f in ev.schema] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]
    # (ts, event_id) is the offset order: ts never falls as event_id rises
    ts = ev.column("ts").to_numpy()
    assert (ts[1:] >= ts[:-1]).all()


def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


@pytest.fixture
def log_and_state(tmp_path):
    """A small changelog and its correct latest-state table, computed in
    pandas (independently of the gate's SQL)."""
    log = gen.cdc_log(3, 2_000, 300)
    log_path = str(tmp_path / "log.parquet")
    pq.write_table(log, log_path)
    df = log.to_pandas().sort_values(["ts", "event_id"])
    last = df.groupby("user_id").tail(1)
    state = last[last.event_type != "error"][["user_id", "value", "props", "event_id"]]
    return log_path, state


def _state_dir(tmp_path, state: pd.DataFrame, name: str) -> str:
    d = tmp_path / name
    d.mkdir()
    state.to_parquet(d / "part-0.parquet", index=False)
    return str(d)


def test_latest_state_gate_passes_correct_output(tmp_path, log_and_state):
    log_path, state = log_and_state
    assert gates.latest_state_mismatches(log_path, _state_dir(tmp_path, state, "ok")) == 0


@pytest.mark.parametrize("corruption", ["drop_row", "stale_value", "resurrect_delete"])
def test_latest_state_gate_trips_on_corrupted_output(tmp_path, log_and_state, corruption):
    log_path, state = log_and_state
    bad = state.copy()
    if corruption == "drop_row":  # a tail event that never arrived
        bad = bad.iloc[1:]
    elif corruption == "stale_value":
        bad.iloc[0, bad.columns.get_loc("value")] += 1.0
    else:  # a deleted key still present
        con = duckdb.connect()
        gone = con.execute(
            f"SELECT user_id, value, props, event_id FROM read_parquet('{log_path}') "
            "WHERE event_type = 'error' AND user_id NOT IN "
            f"(SELECT user_id FROM ({gates.LATEST_STATE_SQL.format(log=log_path)})) LIMIT 1"
        ).fetchdf()
        bad = pd.concat([bad, gone])
    assert gates.latest_state_mismatches(log_path, _state_dir(tmp_path, bad, "bad")) > 0


def test_frame_gate_is_order_insensitive_and_trips_on_corruption():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})
    got = want.iloc[::-1][["s", "v", "k"]].reset_index(drop=True)
    assert gates.frame_mismatches(got, want) == 0
    wrong = got.copy()
    wrong.loc[0, "v"] = 9.0
    assert gates.frame_mismatches(wrong, want) == 1
    assert gates.frame_mismatches(got.iloc[1:], want) > 0
    assert gates.frame_mismatches(got.rename(columns={"v": "w"}), want) > 0
