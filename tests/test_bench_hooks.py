"""The engine names ``perfbench --trace 1`` wraps to time its layers
(``perfbench/snapshot.py``, ``perfbench/cdc.py``) must exist and be
looked up when called, so the wrappers it installs take effect.  An
engine refactor that renames or inlines one of them fails here instead
of silently breaking the traced benchmark.  No Spark session."""

from __future__ import annotations

import inspect

import mysql_clickhouse_sync_spark.pipeline.snapshot as snap_mod
from mysql_clickhouse_sync_spark.streaming.cdc_pipeline import CDCStreamPipeline


def test_snapshot_hooks_exist_and_replicate_table_calls_them_by_name():
    # perfbench replaces these module attributes with timing wrappers
    for name in ("verify_counts", "verify_diff"):
        assert callable(getattr(snap_mod, name)), name
    replicate = snap_mod.SnapshotReplicator.replicate_table
    assert inspect.signature(replicate).parameters.keys() == {
        "self", "table"}
    # a global (not a local or default-argument) lookup at call time
    assert {"verify_counts", "verify_diff"} <= set(
        replicate.__code__.co_names)


def test_cdc_apply_microbatch_is_looked_up_on_the_instance():
    # perfbench sets ``pipe.apply_microbatch`` on each instance before
    # ``start``; the stream must register the instance attribute
    apply = CDCStreamPipeline.apply_microbatch
    assert list(inspect.signature(apply).parameters) == [
        "self", "batch_df", "batch_id"]
    assert "apply_microbatch" in CDCStreamPipeline.start.__code__.co_names
