"""Snapshot replication pipeline (the reference's primary mode).

Parity map (SURVEY.md §3.1, ``/root/reference/src/replicator.py``):

* table discovery / selection (P6)  -> explicit table list or source
  listing callback;
* per-table pipeline (O2): schema -> [drop] -> create -> copy ->
  verify (``/root/reference/src/replicator.py:65-85``);
* batched scan -> batch insert      -> one declarative
  ``read -> select/cast -> sortWithinPartitions(pks) -> write``;
  Catalyst/AQE replace all hand-rolled 50k-row batching
  (``/root/reference/src/mysql_client.py:140-162``);
* sort key = PKs (falls back to first column,
  ``/root/reference/src/schema_converter.py:65-69``) — gives Parquet
  min/max row-group stats the same pruning role as the MergeTree
  ``ORDER BY`` clustering;
* parallel table fan-out (O3) via ThreadPoolExecutor submitting
  concurrent Spark jobs (``/root/reference/src/replicator.py:87-133``)
  — the scheduler interleaves them; FAIR pool recommended on a busy
  cluster;
* per-table error isolation (O4): one failure doesn't stop the run
  (``/root/reference/src/replicator.py:105-113``);
* count verification (A2, ``/root/reference/src/replicator.py:69-81``)
  plus the stronger ``verify_diff`` upgrade, with no count job: the
  source count rides the write as an ``Observation`` and the target
  count is read from the written files' parquet footers (a
  ``count()`` job only when the footers cannot be read); the diff is
  one query over the persisted source and the target read with the
  source's schema (no schema-inference job).  A table with primary
  keys costs its source read, the write and the diff's four jobs.

Scale notes: a real deployment reads JDBC with
``partitionColumn/lowerBound/upperBound/numPartitions`` (a genuine
upgrade over the reference's single cursor per table — SURVEY.md §4);
the harness exercises the identical operator chain over Parquet.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.verify import verify_counts, verify_diff
from ..schema.mysql_types import TableSpec, table_struct_type, validate_identifier
from ..sources.parquet import parquet_rows_exact


@dataclass
class TableResult:
    """Per-table outcome (parity: result dict,
    /root/reference/src/replicator.py:65-85)."""

    table: str
    success: bool
    source_count: int = 0
    target_count: int = 0
    error: str | None = None
    details: dict = field(default_factory=dict)


class SnapshotReplicator:
    """Multi-table snapshot copy with verification.

    ``reader(table) -> DataFrame`` abstracts the source (Parquet here,
    ``spark.read.jdbc`` in production); ``writer(df, table)`` abstracts
    the sink (defaults to parquet under ``target_dir``).
    """

    def __init__(
        self,
        spark: SparkSession,
        reader: Callable[[str], DataFrame],
        target_dir: str,
        specs: dict[str, TableSpec] | None = None,
        drop_existing: bool = False,
    ) -> None:
        self.spark = spark
        self.reader = reader
        self.target_dir = target_dir
        self.specs = specs or {}
        self.drop_existing = drop_existing

    def _target_path(self, table: str) -> str:
        import os

        return os.path.join(self.target_dir, table)

    def replicate_table(self, table: str) -> TableResult:
        """schema -> create -> copy -> verify for one table (O2)."""
        try:
            validate_identifier(table, "table")
            src = self.reader(table)
            spec = self.specs.get(table)
            if spec is not None:
                # Projection in declared column order + cast to the
                # mapped schema (P1/P2 + T1-T4): explicit column list,
                # never SELECT * (/root/reference/src/mysql_client.py:147-151).
                struct = table_struct_type(spec)
                src = src.select(
                    *[
                        src[f.name].cast(f.dataType).alias(f.name)
                        for f in struct.fields
                    ]
                )
                sort_key = list(spec.sort_key())
                diff_key = list(spec.primary_keys)
            else:
                sort_key = [src.columns[0]] if src.columns else []
                # No declared PKs: the first column may be nullable,
                # and NULL keys never match in anti-joins, so a perfect
                # copy would verify as failed — counts only.
                diff_key = []

            # One materialization of the source for write + verify:
            # without it, the write and the diff would re-scan a
            # remote JDBC source twice (and race concurrent inserts
            # into false mismatches).
            src = src.persist()
            try:
                # the source count rides the write: the rows stream
                # through the observed node as the cache fills
                obs = Observation()
                out = src.observe(obs, F.count(F.lit(1)).alias("rows"))
                if sort_key:
                    # Clustering by sort key ≙ MergeTree ORDER BY:
                    # Parquet min/max stats then prune like the
                    # reference's primary index
                    # (/root/reference/src/schema_converter.py:77).
                    out = out.sortWithinPartitions(*sort_key)
                mode = "overwrite" if self.drop_existing else "errorifexists"
                path = self._target_path(table)
                out.write.mode(mode).parquet(path)

                tgt = self.spark.read.schema(src.schema).parquet(path)
                # footers of the files just written: never the memo,
                # which would hold the previous overwrite's count
                tgt_rows = parquet_rows_exact(self.spark, path, cached=False)
                counts = verify_counts(
                    int(obs.get["rows"]),
                    tgt if tgt_rows is None else tgt_rows,
                )
                result = TableResult(
                    table=table,
                    success=counts["success"],
                    source_count=counts["source_count"],
                    target_count=counts["target_count"],
                )
                if diff_key and counts["success"]:
                    diff = verify_diff(src, tgt, diff_key)
                    result.success = diff["success"]
                    result.details["diff"] = diff
                return result
            finally:
                src.unpersist()
        except Exception as e:  # noqa: BLE001 — per-table isolation (O4)
            return TableResult(table=table, success=False, error=str(e))

    def run(
        self, tables: Sequence[str], parallel_tables: int = 1
    ) -> dict[str, TableResult]:
        """Sequential or thread-pool fan-out (O3,
        /root/reference/src/replicator.py:87-133).  Spark jobs submitted
        from multiple threads run concurrently; per-table failures are
        isolated (O4)."""
        results: dict[str, TableResult] = {}
        if parallel_tables <= 1:
            for t in tables:
                results[t] = self.replicate_table(t)
            return results
        with ThreadPoolExecutor(max_workers=parallel_tables) as pool:
            futures = {pool.submit(self.replicate_table, t): t for t in tables}
            for fut in as_completed(futures):
                r = fut.result()
                results[r.table] = r
        return results

    @staticmethod
    def exit_code(results: dict[str, TableResult]) -> int:
        """1 if any table failed (parity:
        /root/reference/src/main.py:38-44)."""
        return 0 if all(r.success for r in results.values()) else 1
