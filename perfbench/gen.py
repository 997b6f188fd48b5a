"""Seeded input generators for the benchmark.

Every input is made with NumPy/pyarrow in the benchmark process and
handed to the engine only as files: the same seed gives byte-identical
inputs, and the engine never sees the seed.

The properties each workload varies are listed in BENCHMARK.json:
row width and null share (snapshot), hot-key share, delete share and
replayed duplicates (CDC).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_2020_US = 1_577_836_800 * 1_000_000
_YEAR_US = 365 * 86_400 * 1_000_000


def _varchar(rng: np.random.Generator, n: int, max_len: int,
             null_share: float) -> pa.Array:
    """Variable-length ASCII strings, lengths uniform in [1, max_len],
    with ``null_share`` of them NULL."""
    lens = rng.integers(1, max_len + 1, n)
    letters = rng.integers(97, 123, int(lens.sum()), dtype=np.uint8)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    mask = rng.random(n) < null_share
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(letters.tobytes()),
        pa.array(~mask).buffers()[1] if mask.any() else None,
        int(mask.sum()),
    )


def _nullable(values: np.ndarray, rng: np.random.Generator,
              null_share: float, type_: pa.DataType) -> pa.Array:
    mask = rng.random(len(values)) < null_share
    return pa.array(values, type=type_, mask=mask)


# -- snapshot_copy -----------------------------------------------------

@dataclass(frozen=True)
class SnapTable:
    """One MySQL-shaped source table: ``extra`` pairs of (varchar,
    nullable int) columns widen the row; ``null_share`` applies to
    every nullable column."""

    name: str
    rows: int
    extra: int
    varchar_len: int
    null_share: float


#: TPC-H names, so the registry's ``segment_order_stats`` can query
#: the copy; ``orders`` is narrow and dense, ``customer`` wide and sparse
SNAP_TABLES = (
    SnapTable("orders", 40_000, 0, 12, 0.05),
    SnapTable("customer", 8_000, 3, 48, 0.30),
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

_COLUMNS = {
    "orders": [
        ("o_orderkey", "bigint", False),
        ("o_custkey", "bigint", False),
        ("o_orderstatus", "char", False),
        ("o_totalprice", "double", False),
        ("o_orderdate", "datetime", False),
        ("o_shippriority", "tinyint", False),
        ("o_comment", "varchar", True),
    ],
    "customer": [
        ("c_custkey", "bigint", False),
        ("c_nationkey", "int", False),
        ("c_acctbal", "double", True),
        ("c_mktsegment", "varchar", False),
        ("c_comment", "varchar", True),
    ],
}


def snapshot_columns(t: SnapTable) -> list[tuple[str, str, bool]]:
    """(name, MySQL type, nullable) in declared order; the first
    column is the PK."""
    cols = list(_COLUMNS[t.name])
    for i in range(t.extra):
        cols += [(f"attr_{i}", "varchar", True), (f"score_{i}", "int", True)]
    return cols


def snapshot_table(t: SnapTable, seed: int) -> pa.Table:
    """Rows as a JDBC read of MySQL would deliver them: TINYINT arrives
    as a 32-bit int, so the replicator's cast narrows it.  Order keys
    are a seeded permutation, so the sort by PK does real work."""
    rng = np.random.default_rng([seed, 1, len(t.name), t.rows])
    n = t.rows
    n_cust = next(x.rows for x in SNAP_TABLES if x.name == "customer")
    if t.name == "orders":
        data = {
            "o_orderkey": pa.array(
                rng.permutation(np.arange(1, n + 1, dtype=np.int64) * 4)),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, n)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
                rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(
                rng.integers(100, 50_000_000, n) / 100.0),
            "o_orderdate": pa.array(
                _EPOCH_2020_US + rng.integers(0, _YEAR_US, n),
                pa.timestamp("us")),
            "o_shippriority": pa.array(rng.integers(0, 5, n,
                                                    dtype=np.int32)),
            "o_comment": _varchar(rng, n, t.varchar_len, t.null_share),
        }
    else:
        data = {
            "c_custkey": pa.array(rng.permutation(
                np.arange(1, n + 1, dtype=np.int64))),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": _nullable(rng.integers(-99_999, 999_999, n) / 100.0,
                                   rng, t.null_share, pa.float64()),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[
                rng.integers(0, len(SEGMENTS), n)]),
            "c_comment": _varchar(rng, n, t.varchar_len, t.null_share),
        }
    for i in range(t.extra):
        data[f"attr_{i}"] = _varchar(rng, n, t.varchar_len, t.null_share)
        data[f"score_{i}"] = _nullable(
            rng.integers(-1000, 1000, n, dtype=np.int32), rng,
            t.null_share, pa.int32(),
        )
    return pa.table(data)


def write_snapshot_source(src_dir: str, seed: int) -> dict[str, pa.Table]:
    """One parquet directory per table under ``src_dir/<table>/``, in
    four files so the scan has one split per core."""
    out = {}
    for t in SNAP_TABLES:
        table = snapshot_table(t, seed)
        d = os.path.join(src_dir, t.name)
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // 4)
        for i in range(4):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(d, f"part-{i}.parquet"))
        out[t.name] = table
    return out


# -- cdc_live ----------------------------------------------------------

CDC_BASE_ROWS = 50_000
CDC_HOT_KEYS = 1_000
CDC_HOT_SHARE = 0.5
CDC_DELETE_SHARE = 0.1
CDC_INSERT_SHARE = 0.1
#: sentinel keys live far above any generated insert key
SENTINEL_BASE = 1 << 40


def cdc_base(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = CDC_BASE_ROWS
    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "status": pa.array(rng.integers(0, 5, n, dtype=np.int32)),
        "balance": pa.array(np.round(rng.normal(500.0, 150.0, n), 2)),
        "note": _varchar(rng, n, 16, 0.2),
    })


class ChangelogGen:
    """Seeded stream of changelog files (``stream`` tells apart the
    streams of one seed).  ``seq`` is global and
    increasing, so it is the version; each file holds one replayed
    duplicate of an earlier event in the same file (at-least-once
    redelivery) and, for trickle files, one sentinel upsert on a
    fresh key."""

    def __init__(self, seed: int, stream: int = 0) -> None:
        self.rng = np.random.default_rng([seed, 3, stream])
        self.seq = 0
        self.next_insert = CDC_BASE_ROWS
        # Zipf-hot keys: a fixed random subset of the base, drawn with
        # Zipf weights, takes CDC_HOT_SHARE of the events
        self.hot = self.rng.choice(CDC_BASE_ROWS, CDC_HOT_KEYS, replace=False)
        w = 1.0 / np.arange(1, CDC_HOT_KEYS + 1)
        self.hot_p = w / w.sum()

    def events(self, n: int) -> list[dict]:
        rng = self.rng
        u = rng.random(n)
        ops = np.where(u < CDC_DELETE_SHARE, "D",
                       np.where(u < CDC_DELETE_SHARE + CDC_INSERT_SHARE,
                                "I", "U"))
        hot = rng.random(n) < CDC_HOT_SHARE
        keys = np.where(
            hot,
            rng.choice(self.hot, n, p=self.hot_p),
            rng.integers(0, self.next_insert, n),
        )
        n_ins = int((ops == "I").sum())
        keys[ops == "I"] = np.arange(self.next_insert,
                                     self.next_insert + n_ins)
        self.next_insert += n_ins
        status = rng.integers(0, 5, n)
        balance = np.round(rng.normal(500.0, 150.0, n), 2)
        note_len = rng.integers(0, 17, n)
        out = []
        for i in range(n):
            self.seq += 1
            ev = {"op": str(ops[i]), "seq": self.seq, "id": int(keys[i])}
            if ops[i] != "D":
                ev["status"] = int(status[i])
                ev["balance"] = float(balance[i])
                if note_len[i]:
                    ev["note"] = "n" * int(note_len[i])
            out.append(ev)
        dup = out[int(rng.integers(0, n))]
        out.append(dict(dup))
        return out

    def sentinel(self, cycle: int) -> dict:
        self.seq += 1
        return {"op": "I", "seq": self.seq, "id": SENTINEL_BASE + cycle,
                "status": cycle % 5, "balance": float(cycle) + 0.25,
                "note": f"sentinel-{cycle}"}


def write_changelog(path: str, events: list[dict]) -> None:
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev, separators=(",", ":")))
            f.write("\n")
