"""Seeded input generators and expected outputs, written apart from the
program under test: plain Python (plus pyarrow to write Parquet fixtures).

Every input of a run is a pure function of ``(seed, op index)`` (and, for
analytics_mix, of the fixture rows copied into ``fixtures/``), so the same
seed lands the same files, and the expected state is tallied here while the
inputs are written, never read back from the program.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

SCHEMA_NAME = "dms_sample"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
FLAGS = ["A", "N", "R"]

#: control (DDL) records per table per file; they must never reach an output
CONTROLS_PER_TABLE = 2
#: the split tables' (key column, value column whose cents are checksummed)
SPLIT_TABLES = {
    "customer": ("c_custkey", "c_acctbal"),
    "orders": ("o_orderkey", "o_totalprice"),
    "lineitem": ("l_orderkey", "l_extendedprice"),
    "part": ("p_partkey", "p_retailprice"),
}
#: key stride per op, so keys never collide across ops
KEY_STRIDE = 10_000_000
EPOCH = dt.datetime(2020, 1, 1)


def _ts(second: int, micro: int) -> str:
    """ISO-8601 microsecond timestamp, ``second`` seconds after 2020-01-01."""
    t = EPOCH + dt.timedelta(seconds=second, microseconds=micro)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _envelope(table: str, op: str, ts: str, data: dict | None,
              record_type: str = "data") -> str:
    return json.dumps(
        {
            "data": data,
            "metadata": {
                "timestamp": ts,
                "record-type": record_type,
                "operation": op,
                "partition-key-type": "primary-key",
                "schema-name": SCHEMA_NAME,
                "table-name": table,
            },
        },
        separators=(",", ":"),
    )


def _row(table: str, key: int, rng: random.Random) -> tuple[dict, int]:
    """One payload row and its checksummed value in integer cents."""
    if table == "customer":
        c = rng.randrange(-99_999, 999_999)
        return {
            "c_custkey": key,
            "c_name": f"Customer#{key:012d}",
            "c_nationkey": rng.randrange(25),
            "c_acctbal": c / 100,
            "c_mktsegment": rng.choice(SEGMENTS),
        }, c
    if table == "orders":
        c = rng.randrange(100_000, 50_000_000)
        # whole prices go out as JSON integers: the int/double "choice"
        # conflict of the reference's crawler, which inference widens
        price = c // 100 if c % 100 == 0 else c / 100
        return {
            "o_orderkey": key,
            "o_custkey": rng.randrange(1, 1_000_000),
            "o_orderstatus": rng.choice(STATUSES),
            "o_totalprice": price,
            "o_orderdate": _ts(rng.randrange(0, 86400 * 300), 0),
        }, c
    if table == "lineitem":
        c = rng.randrange(100_000, 10_000_000)
        return {
            "l_orderkey": key,
            "l_partkey": rng.randrange(1, 200_000),
            "l_quantity": rng.randrange(1, 51),
            "l_extendedprice": c / 100,
            "l_discount": rng.randrange(0, 11) / 100,
            "l_returnflag": rng.choice(FLAGS),
        }, c
    if table == "part":
        c = rng.randrange(90_000, 210_000)
        return {
            "p_partkey": key,
            "p_name": " ".join(rng.choice(["azure", "blush", "coral", "khaki", "lace"])
                               for _ in range(3)),
            "p_size": rng.randrange(1, 51),
            "p_retailprice": c / 100,
        }, c
    raise ValueError(table)


@dataclass
class Tally:
    """Expected contents of one split output table."""

    rows: int = 0
    key_sum: int = 0
    cents_sum: int = 0

    def add(self, key: int, cents: int) -> None:
        self.rows += 1
        self.key_sum += key
        self.cents_sum += cents


@dataclass
class SplitExpect:
    """What the split outputs must hold after every landed file."""

    tables: dict[str, Tally] = field(
        default_factory=lambda: {t: Tally() for t in SPLIT_TABLES}
    )
    corrupt_lines: list[str] = field(default_factory=list)


# ------------------------------------------------------------ pipeline files

#: customer rows of the initial full load, loaded during set-up
CDC_INITIAL = 4_000
#: one op's customer changes
CDC_MIX = {"update": 200, "insert": 100, "delete": 100}
#: one op's insert-only records of the other tables (the full load has the
#: same number of load records)
APPEND_MIX = {"orders": 500, "lineitem": 900, "part": 300}
CDC_KEY = "c_custkey"


@dataclass
class CdcState:
    """Python replay of the customer table: key -> (row, acctbal cents)."""

    rows: dict[int, tuple[dict, int]] = field(default_factory=dict)
    next_key: int = 0
    changed: list[int] = field(default_factory=list)  # keys of the last file

    def live_keys(self) -> list[int]:
        return sorted(self.rows)


def _customer_changes(rng: random.Random, op: int, state: CdcState):
    """(operation, key, row, cents) of op ``op``'s customer changes, applied
    to ``state``; op < 0 is the initial full load. Each key changes at most
    once per file."""
    if op < 0:
        plan = [("load", None)] * CDC_INITIAL
    else:
        touched = rng.sample(state.live_keys(), CDC_MIX["update"] + CDC_MIX["delete"])
        plan = (
            [("update", k) for k in touched[: CDC_MIX["update"]]]
            + [("delete", k) for k in touched[CDC_MIX["update"]:]]
            + [("insert", None)] * CDC_MIX["insert"]
        )
    for name, key in plan:
        if key is None:
            key = state.next_key
            state.next_key += 1
        if name == "delete":
            row, cents = state.rows.pop(key)  # DMS sends the before-image
        else:
            row, cents = _row("customer", key, rng)
            state.rows[key] = (row, cents)
        yield name, key, row, cents


def pipeline_file(seed: int, op: int, state: CdcState, expect: SplitExpect) -> list[str]:
    """Lines of op ``op``'s mixed envelope file (op < 0: the initial full
    load): customer changes, inserts of three append-only tables,
    CONTROLS_PER_TABLE control records per table and one corrupt line, in a
    seeded order with distinct event timestamps. Replays the customer
    changes into ``state`` and tallies every table into ``expect``."""
    rng = random.Random(f"pipeline:{seed}:{op}")
    second = 86400 + (op + 1) * 600
    records = [("customer", name, key, row, cents)  # (table, operation, ...)
               for name, key, row, cents in _customer_changes(rng, op, state)]
    state.changed = [r[2] for r in records]
    for table, count in APPEND_MIX.items():
        for i in range(count):
            key = (op + 1) * KEY_STRIDE + i
            row, cents = _row(table, key, rng)
            records.append((table, "load" if op < 0 else "insert", key, row, cents))
    rng.shuffle(records)
    lines = []
    for n, (table, name, key, row, cents) in enumerate(records):
        lines.append(_envelope(table, name, _ts(second, n), row))
        expect.tables[table].add(key, cents)
    for table in SPLIT_TABLES:
        for j in range(CONTROLS_PER_TABLE):
            lines.insert(rng.randrange(len(lines) + 1),
                         _envelope(table, "create-table", _ts(second, 0), None,
                                   record_type="control"))
    bad = '{"data": {"c_custkey": %d, "c_name": "torn' % rng.randrange(10**9)
    lines.insert(rng.randrange(len(lines) + 1), bad)
    expect.corrupt_lines.append(bad)
    return lines


def cdc_expected_queries(state: CdcState, lookup_key: int) -> dict:
    """The ad-hoc queries of one cdc_pipeline op, answered from the replay."""
    seg: dict[str, list[int]] = {}
    for row, cents in state.rows.values():
        acc = seg.setdefault(row["c_mktsegment"], [0, 0])
        acc[0] += 1
        acc[1] += cents
    hit = state.rows.get(lookup_key)
    return {
        "lookup": None if hit is None else (hit[0]["c_name"], hit[1]),
        "by_segment": {k: tuple(v) for k, v in sorted(seg.items())},
        "count": len(state.rows),
    }


# --------------------------------------------------------- analytics fixtures

#: the repository's sf0.1 ``documents`` and ``embeddings`` fixtures, copied
#: unchanged (see TESTDATA.md), from which each run draws its seeded sample
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
#: rows of each fixture table in one run's sample
ANALYTICS_SAMPLE = {"documents": 1_000, "embeddings": 1_000}


def analytics_tables(seed: int) -> dict[str, "pyarrow.Table"]:  # noqa: F821
    """The fixture tables the analytics_mix queries read: a seeded sample of
    the sf0.1 rows, in their original order, every column unchanged."""
    import pyarrow.parquet as pq

    out = {}
    for name, n in ANALYTICS_SAMPLE.items():
        table = pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))
        rows = random.Random(f"analytics:{seed}:{name}").sample(range(table.num_rows), n)
        out[name] = table.take(sorted(rows)).replace_schema_metadata(None)
    return out
