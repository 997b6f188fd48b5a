"""Tests of the benchmark itself: seeded inputs and the engine-free
correctness checks.  They need no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def _changelog(seed: int) -> list[dict]:
    g = gen.ChangelogGen(seed)
    return g.events(200) + [g.sentinel(0)] + g.events(50)


# -- seeded inputs ---------------------------------------------------------

def test_snapshot_source_is_seeded(tmp_path):
    a = gen.write_snapshot_source(str(tmp_path / "a"), 7)
    b = gen.write_snapshot_source(str(tmp_path / "b"), 7)
    c = gen.write_snapshot_source(str(tmp_path / "c"), 8)
    for name in a:
        assert a[name].equals(b[name])
        assert not a[name].equals(c[name])
        for f in os.listdir(tmp_path / "a" / name):
            assert (tmp_path / "a" / name / f).read_bytes() == \
                (tmp_path / "b" / name / f).read_bytes()


@pytest.mark.parametrize("make", [
    gen.cdc_base,
    lambda s: pa.table({"events": _changelog(s)}),
])
def test_inputs_are_seeded(make):
    assert make(7).equals(make(7))
    assert not make(7).equals(make(8))


def test_changelog_shape():
    g = gen.ChangelogGen(3)
    evs = g.events(1000)
    assert len(evs) == 1001                     # one replayed duplicate
    assert evs[-1] in evs[:-1]
    ops = pd.Series([e["op"] for e in evs]).value_counts(normalize=True)
    assert 0.05 < ops["D"] < 0.15 and 0.05 < ops["I"] < 0.15
    seqs = [e["seq"] for e in evs[:-1]]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


# -- snapshot checks -------------------------------------------------------

def _spark_like_copy(table: pa.Table, path, drop_row: int | None = None):
    """What the replicator leaves: part files, TINYINT narrowed,
    timestamps zoned UTC, rows in PK order."""
    os.makedirs(path)
    if drop_row is not None:
        table = pa.concat_tables([table.slice(0, drop_row),
                                  table.slice(drop_row + 1)])
    cols = []
    for f in table.schema:
        col = table.column(f.name)
        if f.name == "o_shippriority":
            col = col.cast(pa.int8())
        elif pa.types.is_timestamp(f.type):
            col = col.cast(pa.timestamp("us", tz="UTC"))
        cols.append(col)
    out = pa.table(dict(zip(table.column_names, cols)))
    out = out.sort_by(table.column_names[0])
    half = out.num_rows // 2
    pq.write_table(out.slice(0, half), os.path.join(path, "part-0.parquet"))
    pq.write_table(out.slice(half), os.path.join(path, "part-1.parquet"))


@pytest.fixture(scope="module")
def snap_source(tmp_path_factory):
    d = tmp_path_factory.mktemp("src")
    return gen.write_snapshot_source(str(d), 5)


def test_snapshot_check_accepts_exact_copy(snap_source, tmp_path):
    expected = {n: checks.by_key(t) for n, t in snap_source.items()}
    for n, t in snap_source.items():
        _spark_like_copy(t, tmp_path / n)
    assert checks.snapshot_matches(str(tmp_path), expected)


def test_snapshot_check_fails_on_dropped_row(snap_source, tmp_path):
    expected = {n: checks.by_key(t) for n, t in snap_source.items()}
    for n, t in snap_source.items():
        _spark_like_copy(t, tmp_path / n,
                         drop_row=17 if n == "orders" else None)
    assert not checks.snapshot_matches(str(tmp_path), expected)


def test_snapshot_check_fails_on_changed_value(snap_source, tmp_path):
    expected = {n: checks.by_key(t) for n, t in snap_source.items()}
    for n, t in snap_source.items():
        if n == "customer":
            bal = t.column("c_acctbal").to_pylist()
            bal[3] = (bal[3] or 0.0) + 0.01
            t = t.set_column(t.column_names.index("c_acctbal"), "c_acctbal",
                             pa.array(bal, pa.float64()))
        _spark_like_copy(t, tmp_path / n)
    assert not checks.snapshot_matches(str(tmp_path), expected)


def test_segment_stats_check(snap_source):
    want = checks.segment_order_stats(snap_source["orders"],
                                      snap_source["customer"])
    rows = [{"c_mktsegment": k, "n_orders": v[0], "n_customers": v[1],
             "total_value": v[2], "avg_value": v[3]} for k, v in want.items()]
    assert checks.stats_match(rows, want)
    rows[0] = dict(rows[0], n_orders=rows[0]["n_orders"] - 1)
    assert not checks.stats_match(rows, want)


# -- CDC checks ------------------------------------------------------------

def _lww_by_sort(base: pd.DataFrame, events: list[dict]) -> pd.DataFrame:
    """Reference last-writer-wins: sort everything by (id, seq)."""
    allrows = pd.concat([base.assign(op="I", seq=0), pd.DataFrame(events)],
                        ignore_index=True)
    last = allrows.sort_values(["id", "seq"], kind="stable") \
        .drop_duplicates("id", keep="last")
    return last[last["op"] != "D"][list(base.columns)]


def test_live_state_matches_sort_reference():
    base = gen.cdc_base(2).to_pandas()
    g = gen.ChangelogGen(2)
    state = checks.LiveState(base)
    events = []
    for _ in range(4):
        evs = g.events(3000)
        state.apply(evs)
        events += evs
    want = _lww_by_sort(base, events)
    assert checks.frames_equal(state.frame(), want, "id")
    # a missing delete is caught
    assert not checks.frames_equal(state.frame(),
                                   want[want["id"] != want["id"].iloc[5]],
                                   "id")


def test_live_aggregate_check_fails_on_wrong_count():
    state = checks.LiveState(gen.cdc_base(2).to_pandas())
    g = state.df.groupby("status")["balance"].agg(["count", "sum"])
    rows = [{"status": int(s), "n": int(r["count"]), "b": float(r["sum"])}
            for s, r in g.iterrows()]
    assert state.aggregate_matches(rows)
    rows[1] = dict(rows[1], n=rows[1]["n"] + 1)
    assert not state.aggregate_matches(rows)


def test_sentinel_check_fails_on_wrong_value():
    s = gen.ChangelogGen(1).sentinel(4)
    row = {k: s[k] for k in ("id", "status", "balance", "note")}
    assert checks.sentinel_matches([row], s)
    assert not checks.sentinel_matches([dict(row, balance=row["balance"]
                                             + 1.0)], s)
    assert not checks.sentinel_matches([], s)
