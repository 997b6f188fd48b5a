"""The snapshot copy's verification: ``verify_diff`` counts exactly what
two ``left_anti`` joins count, a copy that loses or gains a part file
fails with its true counts (from the write's ``Observation`` and the
target's parquet footers, or the ``count()`` fallback), and one copy
of a table with primary keys stays within its job budget."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter

import mysql_clickhouse_sync_spark.pipeline.snapshot as snap_mod
from mysql_clickhouse_sync_spark.operators.verify import verify_diff
from mysql_clickhouse_sync_spark.pipeline import SnapshotReplicator
from mysql_clickhouse_sync_spark.schema import ColumnSpec, TableSpec
from mysql_clickhouse_sync_spark.sources.parquet import parquet_rows_exact

_SCHEMA = "a long, b string, v int"

#: (source rows, target rows) over composite keys (a, b)
_DIFF_CASES = {
    "equal": ([(1, "x", 1), (2, "y", 2)], [(2, "y", 9), (1, "x", 8)]),
    "null_keys": (
        [(1, None, 1), (None, "x", 2), (3, "z", 3)],
        [(1, None, 1), (None, "x", 2), (3, "z", 3), (None, None, 4)],
    ),
    "duplicates": (
        [(1, "x", 1), (1, "x", 2), (2, "y", 3), (2, "y", 4), (5, "q", 0)],
        [(1, "x", 1), (1, "x", 5), (1, "x", 6), (3, "w", 7), (3, "w", 8)],
    ),
    "composite_partial_match": (
        [(1, "x", 1), (1, "y", 2), (2, "x", 3)],
        [(1, "x", 1), (2, "y", 2), (2, "x", 3)],
    ),
    "empty_target": ([(1, "x", 1), (None, "y", 2)], []),
    "empty_source": ([], [(1, "x", 1), (1, "x", 2)]),
    "both_empty": ([], []),
}


@pytest.mark.parametrize("case", sorted(_DIFF_CASES))
def test_verify_diff_equals_two_left_anti_joins(spark, case):
    src_rows, tgt_rows = _DIFF_CASES[case]
    src = spark.createDataFrame(src_rows, _SCHEMA)
    tgt = spark.createDataFrame(tgt_rows, _SCHEMA)
    keys = ["a", "b"]
    missing = src.join(tgt, on=keys, how="left_anti").count()
    extra = tgt.join(src, on=keys, how="left_anti").count()
    assert verify_diff(src, tgt, keys) == {
        "missing_in_target": missing,
        "extra_in_target": extra,
        "success": missing == 0 and extra == 0,
    }


_ROWS = 2000
_SPEC = TableSpec(
    "t",
    (
        ColumnSpec("id", "bigint", is_nullable=False, column_key="PRI"),
        ColumnSpec("v", "varchar", is_nullable=True),
    ),
    primary_keys=("id",),
)


def _replicator(spark, tmp_path):
    """A replicator over a 4-file source of ``_ROWS`` rows, so the copy
    writes several part files."""
    src_dir = str(tmp_path / "src" / "t")
    spark.range(_ROWS).selectExpr("id", "cast(id * 7 as string) as v") \
        .repartition(4).write.parquet(src_dir)
    return SnapshotReplicator(
        spark,
        lambda t: spark.read.parquet(src_dir),
        str(tmp_path / "target"),
        specs={"t": _SPEC},
        drop_existing=True,
    )


def _part_files(path):
    return sorted(
        os.path.join(path, n) for n in os.listdir(path)
        if n.endswith(".parquet")
    )


def _faulty_write(monkeypatch, fault):
    """Patch the parquet write so each write is followed by ``fault``
    on its output directory; ``fault`` returns the row change."""
    real = DataFrameWriter.parquet
    delta = []

    def write(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        delta.append(fault(path))

    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    return delta


def _lose_part(path):
    victim = _part_files(path)[0]
    n = pq.ParquetFile(victim).metadata.num_rows
    os.remove(victim)
    return -n


def _gain_part(path):
    first = _part_files(path)[0]
    shutil.copy(first, os.path.join(path, "part-99999-extra.parquet"))
    return pq.ParquetFile(first).metadata.num_rows


@pytest.mark.parametrize("footers", ["read", "unreadable"])
@pytest.mark.parametrize("fault", [_lose_part, _gain_part],
                         ids=["lost_part", "extra_part"])
def test_copy_with_lost_or_extra_part_file_fails_with_true_counts(
    spark, tmp_path, monkeypatch, fault, footers
):
    rep = _replicator(spark, tmp_path)
    target = os.path.join(str(tmp_path / "target"), "t")
    assert rep.replicate_table("t").success
    # a count memoized from the good copy must not hide the fault
    assert parquet_rows_exact(spark, target) == _ROWS
    if footers == "unreadable":
        monkeypatch.setattr(snap_mod, "parquet_rows_exact",
                            lambda *a, **k: None)
    delta = _faulty_write(monkeypatch, fault)
    res = rep.replicate_table("t")
    assert len(delta) == 1 and delta[0] != 0
    assert res.error is None
    assert not res.success
    assert res.source_count == _ROWS
    assert res.target_count == _ROWS + delta[0]
    # the diff runs only when the counts match
    assert "diff" not in res.details


def test_copy_with_primary_keys_job_budget(spark, tmp_path):
    """The source's schema inference, the write and the one-query
    diff's four jobs: at most 6.  The counts run no job."""
    rep = _replicator(spark, tmp_path)
    assert rep.replicate_table("t").success  # warm, like any rerun
    sc = spark.sparkContext
    group = f"job-budget-{os.getpid()}"
    sc.setJobGroup(group, "one snapshot copy")
    try:
        res = rep.replicate_table("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.success, res
    assert res.details["diff"]["success"]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 6, len(jobs)


def test_empty_table_copies_and_verifies(spark, tmp_path):
    """The write's ``Observation`` reports 0 for an empty source (it
    must not block or fail), and footers of an empty target read 0."""
    src_dir = str(tmp_path / "src" / "t")
    spark.range(0).selectExpr("id", "cast(id as string) as v") \
        .write.parquet(src_dir)
    rep = SnapshotReplicator(
        spark, lambda t: spark.read.parquet(src_dir),
        str(tmp_path / "target"), specs={"t": _SPEC}, drop_existing=True,
    )
    res = rep.replicate_table("t")
    assert res.success, res
    assert (res.source_count, res.target_count) == (0, 0)
    assert res.details["diff"]["success"]
