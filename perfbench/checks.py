"""Correctness checks that do not use the engine.

Each check reads the engine's output files with pyarrow, or takes the
rows a query returned, and compares them with what NumPy/pandas
compute from the generated inputs.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


# -- snapshot --------------------------------------------------------------

def by_key(table: pa.Table) -> pa.Table:
    """The table in primary-key (first column) order: two tables with
    the same rows are then equal whatever order they were written in."""
    return table.sort_by(table.column_names[0]).combine_chunks()


def read_parquet_dir(path: str, schema: pa.Schema) -> pa.Table:
    """Every data file Spark committed under ``path``, cast to
    ``schema`` (the generated source's types: TINYINT widens back to
    int32, timestamps drop the UTC zone Spark stamps on them)."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return schema.empty_table()
    parts = []
    for f in files:
        t = pq.read_table(f)
        cols = []
        for field in schema:
            col = t.column(field.name)
            if pa.types.is_timestamp(col.type) and col.type.tz:
                col = col.cast(pa.timestamp(col.type.unit))
            cols.append(col.cast(field.type))
        parts.append(pa.Table.from_arrays(cols, schema=schema))
    return pa.concat_tables(parts)


def snapshot_matches(target_dir: str,
                     expected: dict[str, pa.Table]) -> bool:
    """Every copied table holds exactly the source's rows; ``expected``
    maps each table name to its source rows in key order."""
    return all(
        by_key(read_parquet_dir(os.path.join(target_dir, name), t.schema))
        .equals(t)
        for name, t in expected.items()
    )


def segment_order_stats(orders: pa.Table, customer: pa.Table) -> dict:
    """``segment_order_stats`` computed with pandas: per market segment,
    orders, distinct customers, and the total and mean order value
    summed exactly in cents."""
    o = orders.select(["o_custkey", "o_totalprice"]).to_pandas()
    c = customer.select(["c_custkey", "c_mktsegment"]).to_pandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["cents"] = np.round(j["o_totalprice"] * 100).astype(np.int64)
    out = {}
    for seg, g in j.groupby("c_mktsegment"):
        total = int(g["cents"].sum()) / 100
        out[seg] = (len(g), g["c_custkey"].nunique(), total, total / len(g))
    return out


def stats_match(rows: list, want: dict) -> bool:
    got = {r["c_mktsegment"]: (r["n_orders"], r["n_customers"],
                               r["total_value"], r["avg_value"])
           for r in rows}
    if set(got) != set(want):
        return False
    return all(
        g[:2] == w[:2] and all(abs(a - b) <= 1e-12 * abs(b)
                               for a, b in zip(g[2:], w[2:]))
        for g, w in ((got[k], want[k]) for k in want))


# -- CDC -------------------------------------------------------------------

class LiveState:
    """The live state the changelog implies, kept with pandas: per id,
    the row of the highest seq (the base snapshot is seq 0), tombstones
    dropped.  Files are applied in landing order and seq grows across
    files; a replayed duplicate carries an identical row, so either
    copy wins."""

    def __init__(self, base: pd.DataFrame) -> None:
        self.cols = list(base.columns)
        self.df = base.set_index("id")

    def apply(self, events: list[dict]) -> None:
        ev = pd.DataFrame(events).sort_values("seq", kind="stable")
        ev = ev.drop_duplicates("id", keep="last").set_index("id")
        keep = self.df.drop(ev.index, errors="ignore")
        ups = ev.loc[ev["op"] != "D", self.cols[1:]]
        self.df = pd.concat([keep, ups.astype(keep.dtypes.to_dict())])

    def frame(self) -> pd.DataFrame:
        return self.df.reset_index()[self.cols]

    def aggregate_matches(self, rows: list) -> bool:
        """``count`` and ``sum(balance)`` per status, as the ``_live``
        scan returns them."""
        g = self.df.groupby("status")["balance"].agg(["count", "sum"])
        got = {int(r["status"]): (int(r["n"]), float(r["b"])) for r in rows}
        if set(got) != {int(s) for s in g.index}:
            return False
        return all(
            got[int(s)][0] == int(row["count"])
            and abs(got[int(s)][1] - float(row["sum"]))
            <= 1e-9 * max(1.0, abs(float(row["sum"])))
            for s, row in g.iterrows())


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, key: str) -> bool:
    """Same rows regardless of order; doubles compared exactly (both
    sides hold the generated values unchanged)."""
    if len(got) != len(want) or set(got.columns) != set(want.columns):
        return False
    cols = list(want.columns)
    g = got[cols].sort_values(key).reset_index(drop=True)
    w = want[cols].sort_values(key).reset_index(drop=True)
    for c in cols:
        a, b = g[c], w[c]
        if not (a.isna().to_numpy() == b.isna().to_numpy()).all():
            return False
        m = ~a.isna().to_numpy()
        if not (a.to_numpy()[m] == b.to_numpy()[m]).all():
            return False
    return True


def sentinel_matches(rows: list, sentinel: dict) -> bool:
    if len(rows) != 1:
        return False
    r = rows[0]
    return (r["id"] == sentinel["id"] and r["status"] == sentinel["status"]
            and r["balance"] == sentinel["balance"]
            and r["note"] == sentinel["note"])
