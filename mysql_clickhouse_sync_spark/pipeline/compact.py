"""Small-file compaction: Delta-``OPTIMIZE``-style bin-packing plus a
merge-scheduling policy, the Spark analogue of ClickHouse background
merges.

The reference never compacts — ClickHouse's MergeTree does it invisibly
(``/root/reference/README.md:493-497``: old row versions disappear
"during background merges").  A parquet table on an object store has no
such daemon, and the CDC append pipeline (one file per micro-batch per
partition) is precisely the workload that degrades into millions of
KB-sized files.  At 100 TB that is the difference between a scan that
opens 8,000 x 128 MB files and one that opens 40,000,000 x 200 KB files
— listing alone dominates the query.

Three layers, mirroring how Delta Lake / Iceberg structure the same job:

* :func:`list_data_files` / :func:`plan_compaction` — pure planning.
  First-fit-decreasing bin-packing of under-sized files into
  ``target_bytes`` bins, per hive partition (files from different
  partitions must never merge — their directory IS a column value).
  Driver-side and O(#files log #files): at 100 TB the file listing is
  ~1e6 entries, trivially driver-sized (Delta reads it from the txn
  log; we list the FS).
* :func:`should_compact` — the scheduling policy (≙ ClickHouse's merge
  selector): fire when a partition accumulates either too many
  under-sized files or too high a small-file byte share.  Run it per
  micro-batch or on a timer; it is a cheap pure predicate over the
  listing.
* :func:`execute_compaction` — one Spark job per bin: read exactly the
  bin's files, coalesce to one output task, write to a staging dir,
  verify row counts, then swap (rename new in, delete old).  Bins are
  independent ⇒ submitted concurrently from a thread pool (same O3
  fan-out pattern as the snapshot pipeline,
  ``/root/reference/src/replicator.py:116-123``).

For CDC tables, :func:`compact_cdc_table` composes this with
``dedup_latest`` — the full ReplacingMergeTree merge: old versions and
(optionally) tombstones physically disappear, and the survivors are
rewritten clustered on the PKs, restoring scan locality.

Crash-safety contract (single writer, no txn log — documented, same
class of guarantee as the reference's at-least-once CDC): staging
writes are invisible to readers; the swap deletes originals only after
the verified rename, so a crash leaves either the old files, or both
old and new (re-running compaction converges — pass ``suffix`` dedup),
never neither.  A production deployment on Delta/Iceberg gets the
atomic swap from the table format; the planner/policy layers are
format-agnostic.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..sources.parquet import parquet_rows_exact


@dataclass(frozen=True)
class DataFile:
    """One parquet data file: absolute path, size, and the hive
    partition directory it lives in ('' for unpartitioned tables)."""

    path: str
    size: int
    partition: str


@dataclass(frozen=True)
class CompactionBin:
    """Files (same partition) to be rewritten as one output file."""

    partition: str
    files: tuple[DataFile, ...]

    @property
    def total_bytes(self) -> int:
        return sum(f.size for f in self.files)


@dataclass(frozen=True)
class CompactionPlan:
    table_path: str
    bins: tuple[CompactionBin, ...]
    skipped_files: int = 0  # already-right-sized files left untouched

    @property
    def n_input_files(self) -> int:
        return sum(len(b.files) for b in self.bins)


def list_data_files(table_path: str) -> list[DataFile]:
    """List parquet data files grouped by hive partition directory.

    Skips non-data artifacts (``_SUCCESS``, ``.crc``, staging dirs).
    The partition key is the relative directory, so ``dt=2024-01-01/
    region=eu`` nests naturally.
    """
    out: list[DataFile] = []
    for root, dirs, files in os.walk(table_path):
        dirs[:] = [d for d in dirs if not d.startswith("_compact_staging")]
        rel = os.path.relpath(root, table_path)
        partition = "" if rel == "." else rel
        for name in files:
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            p = os.path.join(root, name)
            out.append(DataFile(p, os.path.getsize(p), partition))
    return sorted(out, key=lambda f: f.path)


def plan_compaction(
    files: list[DataFile],
    target_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
    min_files_per_bin: int = 2,
) -> tuple[tuple[CompactionBin, ...], int]:
    """First-fit-decreasing bin-packing of small files, per partition.

    Only files under ``small_file_bytes`` (default ``target_bytes//2``)
    are candidates — rewriting an already-right-sized file is wasted
    I/O (Delta OPTIMIZE draws the same line).  Bins never exceed
    ``target_bytes`` unless a single file does on its own, and a bin
    with fewer than ``min_files_per_bin`` members is dropped (merging
    one file with nothing achieves nothing).  Returns (bins, skipped).

    Pure and deterministic: same listing -> same plan.
    """
    if small_file_bytes is None:
        small_file_bytes = target_bytes // 2
    by_partition: dict[str, list[DataFile]] = {}
    skipped = 0
    for f in files:
        if f.size < small_file_bytes:
            by_partition.setdefault(f.partition, []).append(f)
        else:
            skipped += 1
    bins: list[CompactionBin] = []
    for partition in sorted(by_partition):
        cands = sorted(
            by_partition[partition], key=lambda f: (-f.size, f.path)
        )
        open_bins: list[list[DataFile]] = []
        for f in cands:
            for b in open_bins:
                if sum(x.size for x in b) + f.size <= target_bytes:
                    b.append(f)
                    break
            else:
                open_bins.append([f])
        for b in open_bins:
            if len(b) >= min_files_per_bin:
                bins.append(CompactionBin(partition, tuple(b)))
    return tuple(bins), skipped


@dataclass(frozen=True)
class CompactionPolicy:
    """When to trigger compaction for a partition (≙ ClickHouse's
    background-merge selection heuristics: merge when enough small
    parts accumulate, leave cold well-formed parts alone)."""

    max_small_files: int = 8        # fire at this many under-sized files
    max_small_byte_share: float = 0.5   # ...or this share of partition bytes
    target_bytes: int = 128 * 1024 * 1024
    small_file_bytes: int | None = None

    def _threshold(self) -> int:
        return (
            self.small_file_bytes
            if self.small_file_bytes is not None
            else self.target_bytes // 2
        )


def should_compact(
    files: list[DataFile], policy: CompactionPolicy = CompactionPolicy()
) -> dict[str, bool]:
    """Per-partition trigger decision. Cheap (listing only) — run it
    every micro-batch; partitions below both thresholds stay untouched
    so steady-state cost is zero."""
    thr = policy._threshold()
    decisions: dict[str, bool] = {}
    by_partition: dict[str, list[DataFile]] = {}
    for f in files:
        by_partition.setdefault(f.partition, []).append(f)
    for partition, fs in by_partition.items():
        small = [f for f in fs if f.size < thr]
        total = sum(f.size for f in fs) or 1
        decisions[partition] = len(small) >= policy.max_small_files or (
            len(small) >= 2
            and sum(f.size for f in small) / total
            >= policy.max_small_byte_share
        )
    return decisions


def plan_table_compaction(
    table_path: str,
    policy: CompactionPolicy = CompactionPolicy(),
    only_triggered: bool = True,
) -> CompactionPlan:
    """List → policy → plan, in one call."""
    files = list_data_files(table_path)
    if only_triggered:
        go = should_compact(files, policy)
        files = [f for f in files if go.get(f.partition)]
    bins, skipped = plan_compaction(
        files,
        target_bytes=policy.target_bytes,
        small_file_bytes=policy._threshold(),
    )
    return CompactionPlan(table_path, bins, skipped)


def _compact_one_bin(
    spark: SparkSession, bin_: CompactionBin, staging_root: str
) -> tuple[CompactionBin, str, int]:
    """Read exactly the bin's files -> one compacted file in staging.
    Returns (bin, staged file path, row count) — no destructive step.

    ONE Spark job per bin (r14; was three): the input row count rides
    the write itself via an ``Observation`` (zero extra pass — the
    rows are streaming through anyway), and the output count is read
    from the staged file's parquet footer (pure metadata).  The
    row-count verification is unchanged: a write that drops or
    duplicates rows still fails here with the real cause (pinned in
    tests/test_compaction.py)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    paths = [f.path for f in bin_.files]
    obs = Observation()
    df = spark.read.parquet(*paths).observe(
        obs, F.count(F.lit(1)).alias("n_in")
    )
    out_dir = os.path.join(staging_root, uuid.uuid4().hex)
    df.coalesce(1).write.mode("overwrite").parquet(out_dir)
    n_in = int(obs.get["n_in"])
    part_files = [
        os.path.join(out_dir, n)
        for n in os.listdir(out_dir)
        if n.endswith(".parquet")
    ]
    assert len(part_files) == 1, part_files
    # a fresh footer read (never the memo); an unreadable footer
    # (None) fails the same check, it never passes
    n_out = parquet_rows_exact(spark, part_files[0], cached=False)
    if n_out != n_in:
        raise RuntimeError(
            f"compaction row-count mismatch: {n_in} in, {n_out} out"
        )
    return bin_, part_files[0], n_out


@dataclass
class CompactionResult:
    bins_compacted: int = 0
    files_removed: int = 0
    files_written: int = 0
    rows: int = 0
    errors: list[str] = field(default_factory=list)


def execute_compaction(
    spark: SparkSession,
    plan: CompactionPlan,
    max_concurrent_bins: int = 4,
) -> CompactionResult:
    """Run the plan: each bin is one independent Spark job, submitted
    from a thread pool (Spark's scheduler interleaves them).  Per-bin
    error isolation: one failed bin is recorded and the rest proceed
    (O4 parity, ``/root/reference/src/replicator.py:105-113``).

    Swap protocol per bin: verified staging write, THEN rename the new
    file into the partition directory, THEN delete originals.  Readers
    between the rename and the deletes can see duplicate rows for that
    instant — same transient-duplicate window the reference accepts
    during snapshot/CDC overlap (at-least-once; dedup_latest absorbs
    it for CDC tables).  Exactly-once visibility needs a table format
    with a commit protocol (Delta/Iceberg) — out of scope, documented.

    Reader contract (proven under a concurrent swap in
    tests/test_compaction.py): a live_view read that SUCCEEDS always
    returns the exact keeper relation — transient duplicates resolve
    to the same max-version winner; a read whose file listing was
    raced by a delete fails with FileNotFoundException and must be
    retried (the standard non-transactional parquet-table protocol;
    do NOT read with ignoreMissingFiles=true, which would silently
    drop the deleted file's rows from that read instead of failing).
    """
    result = CompactionResult()
    if not plan.bins:
        return result
    staging_root = os.path.join(
        plan.table_path, f"_compact_staging_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(staging_root, exist_ok=True)
    try:
        with ThreadPoolExecutor(max_workers=max_concurrent_bins) as pool:
            futures = [
                pool.submit(_compact_one_bin, spark, b, staging_root)
                for b in plan.bins
            ]
            for fut in futures:
                try:
                    bin_, staged, n_rows = fut.result()
                except Exception as exc:  # noqa: BLE001 — per-bin isolation
                    result.errors.append(str(exc))
                    continue
                dest_dir = (
                    os.path.join(plan.table_path, bin_.partition)
                    if bin_.partition
                    else plan.table_path
                )
                dest = os.path.join(
                    dest_dir, f"compacted-{uuid.uuid4().hex}.parquet"
                )
                os.rename(staged, dest)
                for f in bin_.files:
                    os.remove(f.path)
                result.bins_compacted += 1
                result.files_removed += len(bin_.files)
                result.files_written += 1
                result.rows += n_rows
    finally:
        shutil.rmtree(staging_root, ignore_errors=True)
    return result


def swap_directory(current: str, staging: str,
                   retired_suffix: str = "_retired") -> None:
    """Atomic rename-before-delete replacement of a table/index
    directory — the REBUILD response's storage step (retrain writes to
    ``staging``; this promotes it): rename ``current`` aside, rename
    ``staging`` in, delete the retired copy last.

    Crash contract (single writer, POSIX rename atomicity): a crash
    BEFORE the first rename leaves the old directory serving and the
    staging write idle (re-run converges); a crash BETWEEN the renames
    leaves NO ``current`` — readers fail fast with FileNotFound (never
    a torn mix of generations) and recovery restores the intact
    retired copy or completes the promotion; a crash AFTER the second
    rename leaves both generations on disk until the delete re-runs.
    At no point can a reader observe half-old half-new files under one
    path — the property the ANN concurrent-read tests demand of every
    index replacement.  A leftover retired dir from a crashed prior
    run is reclaimed first (idempotent re-run)."""
    retired = current.rstrip("/") + retired_suffix
    if not os.path.isdir(current) and os.path.isdir(retired):
        # crash BETWEEN the renames of a prior run: the old generation
        # sits intact under the retired name.  Complete the promotion
        # if this run brought a staged generation (the normal re-run),
        # else restore the retired copy so readers come back up —
        # either way `current` exists again and the contract's
        # "recovery restores or completes" promise is kept here, not
        # left to the operator.
        if os.path.isdir(staging):
            os.rename(staging, current)
            shutil.rmtree(retired)
            return
        os.rename(retired, current)
    if not os.path.isdir(staging):
        raise ValueError(
            f"swap_directory: staging dir {staging!r} does not exist — "
            "write the new generation before promoting it"
        )
    if not os.path.isdir(current):
        raise ValueError(
            f"swap_directory: current dir {current!r} does not exist "
            "(first build should write it directly, not via swap)"
        )
    if os.path.isdir(retired):          # crashed prior run: reclaim
        shutil.rmtree(retired)
    os.rename(current, retired)
    os.rename(staging, current)
    shutil.rmtree(retired)


def compact_cdc_table(
    spark: SparkSession,
    table_path: str,
    pks: list[str],
    keep_tombstones: bool = True,
    n_output_files: int | None = None,
) -> int:
    """Full-table OPTIMIZE of a CDC append table: physically collapse
    row versions (ReplacingMergeTree merge made explicit).

    Reads the whole table, applies :func:`~..operators.cdc.dedup_latest`
    (drops tombstones too when ``keep_tombstones=False`` — ClickHouse
    ``CLEANUP`` semantics), rewrites clustered on the PKs so the merged
    table scans like a fresh snapshot, and swaps directories.  Returns
    surviving row count.

    Unlike :func:`execute_compaction` this rewrites everything — run it
    at the cadence you'd run OPTIMIZE FINAL, not per micro-batch; the
    bin-packing path handles the steady-state small-file load.
    """
    from ..operators.cdc import compact as compact_rows

    df = spark.read.parquet(table_path)
    merged = compact_rows(df, pks, keep_tombstones=keep_tombstones)
    if n_output_files is not None:
        merged = merged.repartition(n_output_files)
    merged = merged.sortWithinPartitions(*pks)
    staging = table_path.rstrip("/") + f"_optimize_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    old = table_path.rstrip("/") + f"_old_{uuid.uuid4().hex[:8]}"
    os.rename(table_path, old)
    os.rename(staging, table_path)
    shutil.rmtree(old, ignore_errors=True)
    return n
