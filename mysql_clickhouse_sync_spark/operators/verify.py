"""Replication verification operators.

Parity: the reference verifies a snapshot by comparing source/target
row counts (``/root/reference/src/replicator.py:69-81``, A2 in
SURVEY.md §2.4).  We keep that and add the two stronger checks its
design cannot do:

* ``verify_diff`` — key-level diff in both directions (missing rows
  and extra rows), which a count check cannot see: one full outer
  join on the keys and one aggregate, the same numbers two left-anti
  joins give.
* ``table_checksum`` — order-insensitive per-table checksum: hash each
  row, XOR/sum-aggregate.  One scan, no shuffle beyond the final
  aggregate; at 100 TB this is the only row-level verification that
  does not shuffle the whole table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the side markers of ``verify_diff``'s join
_IN_SOURCE, _IN_TARGET = "__verify_in_source", "__verify_in_target"


def verify_counts(
    source: DataFrame | int, target: DataFrame | int
) -> dict:
    """Count-equality check (parity: A2, the reference's source/target
    row-count comparison).  Either side may be a count the caller
    already has (an ``Observation`` on the write, parquet footers);
    only a ``DataFrame`` side runs a count job."""
    sc, tc = (n if isinstance(n, int) else n.count()
              for n in (source, target))
    return {"source_count": sc, "target_count": tc, "success": sc == tc}


def verify_diff(
    source: DataFrame, target: DataFrame, keys: Sequence[str]
) -> dict:
    """Key-level diff: how many rows of each side find no row with the
    same keys on the other — exactly what ``left_anti`` joins both
    ways count (a NULL key never matches; duplicates count per row).

    One query: a full outer join on the keys, each side tagged with a
    marker column, then one aggregate counts the rows whose other
    marker is NULL.  That is one shuffle of each side's keys and no
    broadcast or count jobs, against two anti-join queries.  Keys
    duplicated on BOTH sides multiply in the join (d_s * d_t rows);
    primary keys, the snapshot copy's diff keys, keep that at one."""
    keys = list(keys)
    joined = source.select(*keys, F.lit(True).alias(_IN_SOURCE)).join(
        target.select(*keys, F.lit(True).alias(_IN_TARGET)),
        on=keys, how="full_outer",
    )
    row = joined.agg(
        F.count_if(F.col(_IN_TARGET).isNull()).alias("missing"),
        F.count_if(F.col(_IN_SOURCE).isNull()).alias("extra"),
    ).first()
    missing, extra = int(row["missing"]), int(row["extra"])
    return {"missing_in_target": missing, "extra_in_target": extra,
            "success": missing == 0 and extra == 0}


def table_checksum(df: DataFrame, cols: Sequence[str] | None = None) -> int:
    """Order-insensitive content checksum: xxhash64 each row, sum as
    unsigned-ish longs.  Commutative aggregate -> partial (map-side)
    combine; network traffic is one long per partition."""
    use = list(cols) if cols else df.columns
    hashed = df.select(
        F.xxhash64(*[F.col(c).cast("string") for c in use]).alias("h")
    )
    row = hashed.agg(F.sum("h").alias("checksum")).collect()[0]
    return int(row["checksum"]) if row["checksum"] is not None else 0
