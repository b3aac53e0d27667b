"""Tests of the benchmark's own expected-state computation.

    python3 -m pytest perfbench/test_gen.py -q

The CDC replay in ``gen`` is checked against a DuckDB window query over the
same change records, the split tallies against a DuckDB aggregate, and the
analytics inputs are checked to be a seeded sample of the fixture rows.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _files(seed: int, ops: int):
    state, expect, lines = gen.CdcState(), gen.SplitExpect(), []
    for k in range(-1, ops):
        lines += gen.pipeline_file(seed, k, state, expect)
    return state, expect, lines


def _records(lines: list[str]) -> pd.DataFrame:
    rows = []
    for line in lines:
        try:
            env = json.loads(line)
        except json.JSONDecodeError:
            continue
        meta, data = env["metadata"], env["data"]
        if meta["record-type"] != "data":
            continue
        table = meta["table-name"]
        key, value = gen.SPLIT_TABLES[table]
        rows.append({
            "tbl": table, "op": meta["operation"], "ts": meta["timestamp"],
            "k": data[key], "cents": round(data[value] * 100),
            "c_name": data.get("c_name"), "c_nationkey": data.get("c_nationkey"),
            "c_mktsegment": data.get("c_mktsegment"),
        })
    return pd.DataFrame(rows)


def test_cdc_replay_equals_duckdb_window():
    state, _, lines = _files(seed=3, ops=4)
    recs = _records(lines)  # noqa: F841 (read by DuckDB)
    got = duckdb.sql("""
        SELECT k, c_name, c_nationkey, cents, c_mktsegment FROM (
          SELECT *, row_number() OVER (
            PARTITION BY k ORDER BY ts DESC,
              CASE op WHEN 'delete' THEN 3 WHEN 'update' THEN 2
                      WHEN 'insert' THEN 1 ELSE 0 END DESC) AS rn
          FROM recs WHERE tbl = 'customer')
        WHERE rn = 1 AND op <> 'delete' ORDER BY k
    """).fetchall()
    want = sorted((k, r["c_name"], r["c_nationkey"], c, r["c_mktsegment"])
                  for k, (r, c) in state.rows.items())
    assert got == want
    assert len(want) == gen.CDC_INITIAL + 4 * (gen.CDC_MIX["insert"] - gen.CDC_MIX["delete"])


def test_expected_queries_equal_duckdb_on_replayed_state():
    state, _, _ = _files(seed=4, ops=2)
    state_rows = pd.DataFrame(  # noqa: F841 (read by DuckDB)
        [{"k": k, "seg": r["c_mktsegment"], "cents": c, "name": r["c_name"]}
         for k, (r, c) in state.rows.items()])
    key = sorted(state.rows)[17]
    want = gen.cdc_expected_queries(state, key)
    seg = duckdb.sql("SELECT seg, count(*), sum(cents) FROM state_rows GROUP BY seg "
                     "ORDER BY seg").fetchall()
    assert want["by_segment"] == {s: (n, int(c)) for s, n, c in seg}
    assert want["count"] == duckdb.sql("SELECT count(*) FROM state_rows").fetchone()[0]
    assert want["lookup"] == duckdb.sql(
        f"SELECT name, cents FROM state_rows WHERE k = {key}").fetchone()
    assert gen.cdc_expected_queries(state, -1)["lookup"] is None


def test_split_tallies_equal_duckdb_aggregate():
    _, expect, lines = _files(seed=5, ops=2)
    recs = _records(lines)  # noqa: F841 (read by DuckDB)
    got = {t: (n, int(ks), int(cs)) for t, n, ks, cs in duckdb.sql(
        "SELECT tbl, count(*), sum(k), sum(cents) FROM recs GROUP BY tbl").fetchall()}
    assert got == {t: (x.rows, x.key_sum, x.cents_sum) for t, x in expect.tables.items()}
    assert len(expect.corrupt_lines) == 3
    for bad in expect.corrupt_lines:
        try:
            json.loads(bad)
        except json.JSONDecodeError:
            continue
        raise AssertionError(f"corrupt line parses: {bad}")


def test_same_seed_same_inputs():
    assert _files(seed=6, ops=1)[2] == _files(seed=6, ops=1)[2]
    assert _files(seed=6, ops=1)[2] != _files(seed=7, ops=1)[2]


def test_analytics_sample_is_a_seeded_subset_of_the_fixtures():
    import pyarrow.parquet as pq

    for name, n in gen.ANALYTICS_SAMPLE.items():
        key = "doc_id" if name == "documents" else "vec_id"
        pool = {r[key]: r for r in
                pq.read_table(os.path.join(gen.FIXTURES, f"{name}.parquet")).to_pylist()}
        one, again, other = (gen.analytics_tables(seed)[name].to_pylist()
                             for seed in (8, 8, 9))
        assert len(one) == n and one == again and one != other
        ids = [r[key] for r in one]
        assert ids == sorted(set(ids))  # original order, no row twice
        assert all(pool[r[key]] == r for r in one)  # rows unchanged
