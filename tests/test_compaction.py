"""Compaction planner/policy/executor tests.

Planning is pure (synthetic listings, exact assertions); execution
tests write genuinely fragmented parquet tables and assert the
rewrite preserves every row while collapsing the file count.
"""

from __future__ import annotations

import os

from pyspark.sql import Row, functions as F

from mysql_clickhouse_sync_spark.operators.cdc import (
    cdc_apply,
    live_view,
    stamp_changelog,
)
from mysql_clickhouse_sync_spark.pipeline.compact import (
    CompactionPolicy,
    DataFile,
    compact_cdc_table,
    execute_compaction,
    list_data_files,
    plan_compaction,
    plan_table_compaction,
    should_compact,
)

KB = 1024


def _f(path, size, partition=""):
    return DataFile(path, size, partition)


# ---------------------------------------------------------------- planning


def test_plan_packs_small_files_first_fit_decreasing():
    files = [_f(f"f{i}", 30 * KB) for i in range(6)] + [_f("big", 200 * KB)]
    bins, skipped = plan_compaction(
        files, target_bytes=100 * KB, small_file_bytes=100 * KB
    )
    assert skipped == 1  # the 200 KB file is left alone
    assert [len(b.files) for b in bins] == [3, 3]  # 3x30KB fits under 100KB
    assert all(b.total_bytes <= 100 * KB for b in bins)


def test_plan_never_merges_across_partitions():
    files = [
        _f("a/1", 10 * KB, "dt=1"),
        _f("a/2", 10 * KB, "dt=1"),
        _f("b/1", 10 * KB, "dt=2"),
        _f("b/2", 10 * KB, "dt=2"),
    ]
    bins, _ = plan_compaction(files, target_bytes=100 * KB)
    assert len(bins) == 2
    assert {b.partition for b in bins} == {"dt=1", "dt=2"}
    for b in bins:
        assert {f.partition for f in b.files} == {b.partition}


def test_plan_drops_singleton_bins():
    # one small file alone: merging it with nothing is a no-op rewrite
    bins, skipped = plan_compaction([_f("only", 10 * KB)],
                                    target_bytes=100 * KB)
    assert bins == () and skipped == 0


def test_plan_is_deterministic():
    files = [_f(f"f{i}", (i * 7919) % 50 * KB + KB) for i in range(40)]
    p1 = plan_compaction(files, target_bytes=120 * KB)
    p2 = plan_compaction(list(reversed(files)), target_bytes=120 * KB)
    assert p1 == p2


def test_policy_triggers_on_count_and_share():
    policy = CompactionPolicy(max_small_files=4, max_small_byte_share=0.5,
                              target_bytes=100 * KB)
    quiet = [_f(f"q{i}", 90 * KB, "p=a") for i in range(3)]
    many_small = [_f(f"s{i}", 5 * KB, "p=b") for i in range(4)]
    small_share = [_f("x1", 45 * KB, "p=c"), _f("x2", 45 * KB, "p=c"),
                   _f("x3", 90 * KB, "p=c")]  # small share 90/180 = 0.5
    got = should_compact(quiet + many_small + small_share, policy)
    assert got == {"p=a": False, "p=b": True, "p=c": True}


# ---------------------------------------------------------------- execution


def _stamped(df, op, version):
    return stamp_changelog(
        df.withColumn("op", F.lit(op)).withColumn("_v", F.lit(version)),
        version_col="_v",
    ).drop("_v")


def _fragmented_table(spark, path, n_rows=2000, n_files=16):
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_execute_compaction_preserves_rows_and_shrinks_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path)
    before = list_data_files(path)
    assert len(before) == 16
    checksum = spark.read.parquet(path).agg(
        F.count("*"), F.sum("id"), F.sum("v")
    ).collect()[0]

    plan = plan_table_compaction(
        path,
        CompactionPolicy(max_small_files=4, target_bytes=64 * 1024 * 1024),
        only_triggered=True,
    )
    assert plan.n_input_files == 16
    result = execute_compaction(spark, plan)
    assert result.errors == []
    assert result.files_removed == 16 and result.files_written == 1

    after = list_data_files(path)
    assert len(after) == 1
    got = spark.read.parquet(path).agg(
        F.count("*"), F.sum("id"), F.sum("v")
    ).collect()[0]
    assert got == checksum


def test_execute_compaction_respects_hive_partitions(spark, tmp_path):
    path = str(tmp_path / "ptbl")
    df = spark.range(1200).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("dt")
    )
    df.repartition(8).write.mode("overwrite").partitionBy("dt").parquet(path)
    before = list_data_files(path)
    assert len({f.partition for f in before}) == 3

    plan = plan_table_compaction(
        path, CompactionPolicy(max_small_files=2), only_triggered=True
    )
    result = execute_compaction(spark, plan)
    assert result.errors == []
    after = spark.read.parquet(path)
    # partition column survives (it lives in the directory name)
    assert set(after.columns) == {"id", "dt"}
    assert after.count() == 1200
    assert after.groupBy("dt").count().count() == 3
    # each partition collapsed to one file
    assert len(list_data_files(path)) == 3


def test_steady_state_partition_not_touched(spark, tmp_path):
    path = str(tmp_path / "quiet")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
    plan = plan_table_compaction(
        path, CompactionPolicy(max_small_files=8), only_triggered=True
    )
    assert plan.bins == ()
    result = execute_compaction(spark, plan)
    assert result.bins_compacted == 0


def test_compact_cdc_table_collapses_versions(spark, tmp_path):
    path = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [Row(k=i, val=f"v{i}") for i in range(50)], "k long, val string"
    )
    snap = _stamped(base, "I", 1)
    snap.repartition(6).write.mode("overwrite").parquet(path)
    # 3 micro-batches of updates + a delete, each appended fragmented
    for v in (2, 3, 4):
        ch = _stamped(
            base.filter(F.col("k") < 20)
            .withColumn("val", F.concat(F.lit(f"u{v}_"), "val")),
            "U",
            v,
        )
        ch.repartition(4).write.mode("append").parquet(path)
    tomb = _stamped(base.filter(F.col("k") == 0), "D", 5)
    tomb.repartition(2).write.mode("append").parquet(path)

    live_before = live_view(spark.read.parquet(path), ["k"]).orderBy("k")
    expected = [(r["k"], r["val"]) for r in live_before.collect()]
    n_files_before = len(list_data_files(path))
    assert n_files_before > 10

    n = compact_cdc_table(spark, path, ["k"], keep_tombstones=False,
                          n_output_files=1)
    assert n == 49  # k=0 tombstone physically gone
    assert len(list_data_files(path)) == 1
    live_after = live_view(spark.read.parquet(path), ["k"]).orderBy("k")
    assert [(r["k"], r["val"]) for r in live_after.collect()] == expected


def test_cdc_apply_matches_compacted_table(spark, tmp_path):
    """Compaction is invisible to query results: cdc_apply + live_view
    over the un-compacted union equals live_view over the compacted
    physical table."""
    path = str(tmp_path / "cdc2")
    base = spark.createDataFrame(
        [Row(k=i, val=i * 10) for i in range(30)], "k long, val long"
    )
    snap = _stamped(base, "I", 1)
    ch = _stamped(
        base.filter(F.col("k") % 2 == 0).withColumn("val", F.col("val") + 1),
        "U",
        2,
    )
    logical = live_view(cdc_apply(snap, ch), ["k"])
    expected = sorted((r["k"], r["val"]) for r in logical.collect())

    snap.repartition(5).write.mode("overwrite").parquet(path)
    ch.repartition(5).write.mode("append").parquet(path)
    compact_cdc_table(spark, path, ["k"], n_output_files=2)
    physical = live_view(spark.read.parquet(path), ["k"])
    assert sorted((r["k"], r["val"]) for r in physical.collect()) == expected


# ------------------------------------------------------- planner properties

from hypothesis import given, settings
from hypothesis import strategies as st

_file_st = st.builds(
    DataFile,
    path=st.uuids().map(str),
    size=st.integers(min_value=0, max_value=300 * KB),
    partition=st.sampled_from(["", "dt=1", "dt=2", "dt=3"]),
)


@settings(max_examples=200, deadline=None)
@given(files=st.lists(_file_st, max_size=60, unique_by=lambda f: f.path))
def test_plan_invariants(files):
    target = 100 * KB
    bins, skipped = plan_compaction(files, target_bytes=target)
    seen = set()
    small = [f for f in files if f.size < target // 2]
    for b in bins:
        # bins respect the size target, partition purity, and >= 2 files
        assert b.total_bytes <= target
        assert len(b.files) >= 2
        assert {f.partition for f in b.files} == {b.partition}
        for f in b.files:
            assert f.path not in seen  # no file in two bins
            seen.add(f.path)
            assert f.size < target // 2  # only small files rewritten
    # accounting: every large file is skipped, never binned
    assert skipped == len(files) - len(small)
    # determinism under listing order
    bins2, _ = plan_compaction(list(reversed(files)), target_bytes=target)
    assert bins2 == bins


def test_live_view_exact_under_concurrent_compaction(spark, tmp_path):
    """Round-5 verdict item 8: the staging swap protocol claims a
    reader never sees a TORN result — prove it while compaction is
    actually swapping.  A CDC-shaped table (3 version waves x 16
    files) is compacted in a background thread while the foreground
    loops live_view reads.  Every successful read must return EXACTLY
    the expected keeper relation: mid-swap listings can see the
    compacted file alongside not-yet-deleted originals (transient
    duplicates, documented), and dedup_latest absorbs them — a
    duplicate changes nothing because the max-version winner is the
    same row.  A listing raced by a delete can fail with
    FileNotFoundException; that is the documented non-transactional
    reader contract (retry the read), counted here and bounded.
    After the swap: same relation, fewer files."""
    import threading

    path = str(tmp_path / "cdc_live")
    base = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 11).alias("payload")
    )
    for version in (1, 2, 3):
        wave = _stamped(
            base.withColumn("payload", F.col("payload") + version),
            "u",
            version,
        )
        wave.repartition(16).write.mode("append").parquet(path)
    assert len(list_data_files(path)) == 48

    expected = {
        tuple(r)
        for r in live_view(spark.read.parquet(path), ["k"]).collect()
    }
    assert len(expected) == 5000

    plan = plan_table_compaction(
        path,
        CompactionPolicy(max_small_files=4, target_bytes=64 * 1024 * 1024),
        only_triggered=True,
    )
    assert plan.n_input_files == 48

    errors: list[str] = []
    done = threading.Event()

    def compact():
        try:
            res = execute_compaction(spark, plan, max_concurrent_bins=1)
            errors.extend(res.errors)
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(repr(exc))
        finally:
            done.set()

    t = threading.Thread(target=compact)
    t.start()
    reads_ok, retries = 0, 0
    try:
        while not done.is_set() or reads_ok == 0:
            try:
                got = {
                    tuple(r)
                    for r in live_view(
                        spark.read.parquet(path), ["k"]
                    ).collect()
                }
            except Exception as exc:  # noqa: BLE001 — FNF retry contract
                msg = str(exc)   # Py4JJavaError's repr omits the cause
                if ("FileNotFound" in msg or "does not exist" in msg
                        or "FILE_NOT_EXIST" in msg or "REFRESH" in msg):
                    retries += 1
                    assert retries < 50, msg
                    continue
                raise
            assert got == expected, (
                f"torn/mutated read during swap: {len(got)} rows "
                f"vs {len(expected)} expected"
            )
            reads_ok += 1
    finally:
        t.join(timeout=300)
    assert errors == []
    assert reads_ok > 0
    assert len(list_data_files(path)) < 48
    final = {
        tuple(r)
        for r in live_view(spark.read.parquet(path), ["k"]).collect()
    }
    assert final == expected


def test_stored_index_compaction_after_appends(spark, tmp_path):
    """r7 verdict item 4 — the small-file hazard of the stored-index
    APPEND lifecycle: N daily ``ivf_index_append`` deltas written into
    a ``partitionBy('_cid')`` postings directory fragment every cell
    into per-wave files; bin-pack compaction must collapse them while
    a CONCURRENT reader's stored-index searches stay exact (the
    tests/test_compaction.py live-view guarantee, mirrored onto the
    ANN probe path).  Reader contract during the swap window: a read
    either fails the file listing (FileNotFound -> retry), or sees a
    TRANSIENT DUPLICATE posting (rename-before-delete) — which
    surfaces as a duplicated (query_id, neighbor_id) inside top-k,
    detectable and retryable — or returns EXACTLY the pre-compaction
    result.  Afterwards: fewer files, identical results, and the
    static _cid partition filter still prunes the compacted scan."""
    import re
    import threading

    from conftest import SF_DIR

    from mysql_clickhouse_sync_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_append,
        ivf_topk_vs_index,
    )
    from mysql_clickhouse_sync_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    old = emb.filter(F.col("vec_id") % 4 == 0)
    queries = emb.filter(F.col("vec_id") % 50 == 1)
    centroids, postings = ivf_build_index(old, n_centroids=8)
    pdir = str(tmp_path / "postings")
    postings.repartition(4).write.partitionBy("_cid").parquet(pdir)

    # three daily append waves (disjoint ids); each persists ONLY its
    # delta — the operator's documented overwrite-or-append storage
    # step — so every touched cell gains per-wave small files
    for wave in (
        emb.filter(F.col("vec_id") % 8 == 2),
        emb.filter(F.col("vec_id") % 8 == 6),
        emb.filter(F.col("vec_id") % 2 == 1),
    ):
        stored = spark.read.parquet(pdir).select(
            "vec_id", "_cv", "_cid", "_cn"
        )
        grown = ivf_index_append(centroids, stored, wave)
        delta = grown.join(
            stored.select("vec_id"), "vec_id", "left_anti"
        )
        delta.repartition(4).write.mode("append").partitionBy(
            "_cid"
        ).parquet(pdir)

    n_before = len(list_data_files(pdir))
    assert n_before >= 32, n_before          # the hazard is real

    def search():
        return ivf_topk_vs_index(
            centroids, spark.read.parquet(pdir), queries,
            k=3, nprobe=3,
        )

    expected = {
        (r.query_id, r.neighbor_id, r.rnk) for r in search().collect()
    }
    assert expected

    plan = plan_table_compaction(
        pdir,
        CompactionPolicy(max_small_files=2,
                         target_bytes=64 * 1024 * 1024),
        only_triggered=True,
    )
    assert plan.n_input_files >= 32

    errors: list[str] = []
    done = threading.Event()

    def compact():
        try:
            res = execute_compaction(spark, plan, max_concurrent_bins=1)
            errors.extend(res.errors)
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(repr(exc))
        finally:
            done.set()

    t = threading.Thread(target=compact)
    t.start()
    reads_ok, retries = 0, 0
    try:
        while not done.is_set() or reads_ok == 0:
            try:
                rows = search().collect()
            except Exception as exc:  # noqa: BLE001 — FNF retry contract
                msg = str(exc)
                if ("FileNotFound" in msg or "does not exist" in msg
                        or "FILE_NOT_EXIST" in msg or "REFRESH" in msg):
                    retries += 1
                    assert retries < 80, msg
                    continue
                raise
            got = {(r.query_id, r.neighbor_id, r.rnk) for r in rows}
            if got != expected:
                # only a transient duplicate posting may explain a
                # divergent SUCCESSFUL read: the same neighbor appears
                # twice inside a query's top-k (rename-before-delete
                # window); anything else is a torn read
                pairs = [(r.query_id, r.neighbor_id) for r in rows]
                assert len(pairs) != len(set(pairs)), (
                    f"torn read during swap: {sorted(got - expected)} "
                    f"unexpected / {sorted(expected - got)} missing"
                )
                retries += 1
                assert retries < 80
                continue
            reads_ok += 1
    finally:
        t.join(timeout=300)
    assert errors == []
    assert reads_ok > 0
    n_after = len(list_data_files(pdir))
    assert n_after < n_before
    final = {
        (r.query_id, r.neighbor_id, r.rnk) for r in search().collect()
    }
    assert final == expected
    # the compacted layout still partition-prunes the probe scan
    plan_str = (
        search()._jdf.queryExecution().executedPlan().toString()
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan_str)
    assert m and "_cid" in m.group(1), m.group(0) if m else plan_str


def test_swap_directory_promotes_and_reclaims(tmp_path):
    """The rebuild promotion step: staging replaces current via
    rename-before-delete; a leftover retired dir from a crashed prior
    run is reclaimed; missing current/staging fail with the real
    cause (the crash contract documented on the helper)."""
    import pytest

    from mysql_clickhouse_sync_spark.pipeline.compact import (
        swap_directory,
    )

    cur = tmp_path / "index"
    stage = tmp_path / "staging"
    cur.mkdir(); (cur / "old.parquet").write_bytes(b"OLD")
    stage.mkdir(); (stage / "new.parquet").write_bytes(b"NEW")
    # simulate a crashed PRIOR swap's leftover retired copy
    retired = tmp_path / "index_retired"
    retired.mkdir(); (retired / "stale.parquet").write_bytes(b"X")

    swap_directory(str(cur), str(stage))
    assert (cur / "new.parquet").read_bytes() == b"NEW"
    assert not (cur / "old.parquet").exists()
    assert not stage.exists() and not retired.exists()

    with pytest.raises(ValueError, match="staging dir"):
        swap_directory(str(cur), str(tmp_path / "nope"))
    other = tmp_path / "s2"
    other.mkdir()
    with pytest.raises(ValueError, match="current dir"):
        swap_directory(str(tmp_path / "gone"), str(other))


def test_swap_directory_crash_window_recovery(tmp_path):
    """Crash BETWEEN the two renames leaves no current (readers fail
    fast, never a torn mix) and the retired copy intact — re-running
    swap_directory itself COMPLETES the promotion from the surviving
    staging (no manual restore step)."""
    from mysql_clickhouse_sync_spark.pipeline.compact import (
        swap_directory,
    )

    cur = tmp_path / "index"
    stage = tmp_path / "staging"
    cur.mkdir(); (cur / "old.parquet").write_bytes(b"OLD")
    stage.mkdir(); (stage / "new.parquet").write_bytes(b"NEW")
    # simulate the crash window: first rename happened, second did not
    os.rename(str(cur), str(tmp_path / "index_retired"))
    assert not cur.exists()                    # readers fail fast here
    # recovery path: the retired generation is intact...
    assert (tmp_path / "index_retired" / "old.parquet").exists()
    # ...and a bare re-run completes the promotion from staging
    swap_directory(str(cur), str(stage))
    assert (cur / "new.parquet").read_bytes() == b"NEW"
    assert not stage.exists()
    assert not (tmp_path / "index_retired").exists()


def test_swap_directory_crash_window_restore_without_staging(tmp_path):
    """The other half of the crash contract: current missing, retired
    intact, but NO staged generation survives (e.g. the retrain was
    interrupted too) — recovery restores the retired copy to current,
    then fails with the normal missing-staging error so the caller
    re-stages; readers come back up on the OLD generation."""
    import pytest

    from mysql_clickhouse_sync_spark.pipeline.compact import (
        swap_directory,
    )

    cur = tmp_path / "index"
    cur.mkdir(); (cur / "old.parquet").write_bytes(b"OLD")
    os.rename(str(cur), str(tmp_path / "index_retired"))
    with pytest.raises(ValueError, match="staging dir"):
        swap_directory(str(cur), str(tmp_path / "staging"))
    # the old generation is serving again
    assert (cur / "old.parquet").read_bytes() == b"OLD"
    assert not (tmp_path / "index_retired").exists()


def test_footer_row_count_matches_spark_count(spark, tmp_path):
    """The footer reader compaction verifies with,
    parquet_rows_exact(..., cached=False), must agree with a Spark
    count over the same file."""
    from mysql_clickhouse_sync_spark.sources.parquet import (
        parquet_rows_exact,
    )

    out = str(tmp_path / "t")
    spark.range(0, 1234).coalesce(1).write.parquet(out)
    files = [
        os.path.join(out, n)
        for n in os.listdir(out)
        if n.endswith(".parquet")
    ]
    assert len(files) == 1
    assert parquet_rows_exact(spark, files[0], cached=False) == 1234


def test_bin_row_count_fails_on_wrong_or_unreadable_footer(
    spark, tmp_path, monkeypatch
):
    """A staged file whose footer count disagrees with the rows the
    write observed, or whose footer cannot be read (None), fails the
    bin with the row-count error: neither may pass."""
    import pytest

    import mysql_clickhouse_sync_spark.pipeline.compact as compact_mod
    from mysql_clickhouse_sync_spark.pipeline.compact import CompactionBin

    src = str(tmp_path / "t")
    spark.range(0, 300).repartition(3).write.parquet(src)
    bin_ = CompactionBin("", tuple(list_data_files(src)))
    staging = str(tmp_path / "staging")
    assert compact_mod._compact_one_bin(spark, bin_, staging)[2] == 300
    for footer, shown in ((lambda *a, **k: 299, "299 out"),
                          (lambda *a, **k: None, "None out")):
        monkeypatch.setattr(compact_mod, "parquet_rows_exact", footer)
        with pytest.raises(RuntimeError, match=f"row-count mismatch: "
                                               f"300 in, {shown}"):
            compact_mod._compact_one_bin(spark, bin_, staging)
