"""Checks of the program's outputs, made with DuckDB reading the files the
program wrote, against what ``gen`` tallied while writing the inputs."""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb

import gen


class CheckFailed(Exception):
    """The program's output differs from the independent computation."""


def _parquet_glob(path: str) -> str:
    return f"{path}/**/*.parquet"


def check_split(out_dir: str, dlq_dir: str, expect: gen.SplitExpect) -> None:
    """Per-table row count, key sum, value checksum in cents; no record
    twice (same key and event timestamp); no control record (they carry
    no key); the DLQ holds exactly the injected corrupt lines."""
    con = duckdb.connect()
    for table, (key, value) in gen.SPLIT_TABLES.items():
        path = f"{out_dir}/{gen.SCHEMA_NAME}/{table}"
        got = con.execute(
            f"""SELECT count(*), sum({key}), sum(CAST(round({value} * 100) AS BIGINT)),
                       count(DISTINCT ({key}, timestamp)), count({key})
                FROM read_parquet('{_parquet_glob(path)}')"""
        ).fetchone()
        want = expect.tables[table]
        rows, key_sum, cents, distinct, keyed = got
        if (rows, key_sum, cents) != (want.rows, want.key_sum, want.cents_sum):
            raise CheckFailed(
                f"split {table}: (rows, key sum, cents) {(rows, key_sum, cents)} "
                f"!= {(want.rows, want.key_sum, want.cents_sum)}"
            )
        if distinct != rows or keyed != rows:
            raise CheckFailed(
                f"split {table}: {rows} rows, {distinct} distinct, {keyed} keyed"
            )
    dlq_files = [
        os.path.join(d, f) for d, _, names in os.walk(dlq_dir)
        for f in names if not f.startswith(("_", "."))
    ]
    got = sorted(
        r[0] for r in con.execute(
            "SELECT _corrupt_record FROM read_json(?, format='newline_delimited', "
            "columns={'_corrupt_record': 'VARCHAR'})",
            [dlq_files],
        ).fetchall()
    ) if dlq_files else []
    if got != sorted(expect.corrupt_lines):
        raise CheckFailed(f"DLQ holds {len(got)} lines, expected "
                          f"{len(expect.corrupt_lines)} injected corrupt lines")


def check_cdc_table(path: str, state: gen.CdcState) -> None:
    """The materialized table equals the Python replay, row for row."""
    con = duckdb.connect()
    got = sorted(con.execute(
        f"""SELECT c_custkey, c_name, c_nationkey,
                   CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
            FROM read_parquet('{_parquet_glob(path)}', hive_partitioning = true)"""
    ).fetchall())
    want = sorted(
        (k, r["c_name"], r["c_nationkey"], cents, r["c_mktsegment"])
        for k, (r, cents) in state.rows.items()
    )
    if got != want:
        raise CheckFailed(
            f"cdc table: {len(got)} rows, replay has {len(want)}; "
            f"first difference {next((a, b) for a, b in zip(got, want) if a != b) if len(got) == len(want) else None}"
        )


def norm(v):
    """Engine-neutral value: floats to 6 places with one zero, timestamps
    naive ISO, arrays as tuples."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 6)
        return 0.0 if r == 0.0 else r
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def canonical(cols: list[str], rows) -> list[tuple]:
    """Rows as tuples over the sorted column names, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def oracle_rows(name: str, sql: str, fixtures: str) -> tuple[list[str], list[tuple]]:
    """Columns and canonical rows of a registered oracle over the fixtures."""
    con = duckdb.connect()
    for f in os.listdir(fixtures):
        table = f.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{fixtures}/{f}')"
        )
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, canonical(cols, res.fetchall())


def check_query(name: str, cols: list[str], rows, want) -> None:
    """A registered query's rows equal its oracle's, order-insensitive,
    columns matched by name."""
    ocols, orows = want
    if sorted(ocols) != sorted(cols):
        raise CheckFailed(f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}")
    got = canonical(list(cols), [tuple(r) for r in rows])
    if got != orows:
        raise CheckFailed(f"{name}: {len(got)} rows differ from the oracle's {len(orows)}")
