"""snapshot_copy: ``SnapshotReplicator.run`` over seeded MySQL-shaped
tables, each pass overwriting the target.

Each round times three operations, one after another (the
reference's default of one table in flight):

- bulk: the copy of the narrow, dense ``orders`` table;
- latency: the copy of the wide, sparse ``customer`` table, a fifth
  of the rows, so the fixed cost every table pays (jobs, persist,
  verify) weighs more;
- scan: the registry's ``segment_order_stats`` (a join and a distinct
  aggregate) over the copy, as a user of the copied tables queries it.

Every table goes through cast -> persist -> sort by PK -> write ->
``verify_counts`` -> ``verify_diff``; bulk scan, cast, sink write and
the anti-join verify do the work, while streaming, dedup-latest and
Python UDFs do none.
"""

from __future__ import annotations

import os

import checks
import gen

#: untimed rounds before the window opens.  Measured on 4 cores, the
#: first round takes ~12 s (class loading, codegen) and the next ones
#: fall towards the warm time as the JIT warms up.
WARMUP_ROUNDS = 3
#: the table each copy operation replicates
BULK, LATENCY = "orders", "customer"


def _specs():
    from mysql_clickhouse_sync_spark.schema.mysql_types import (
        ColumnSpec,
        TableSpec,
    )

    return {
        t.name: TableSpec(
            t.name,
            tuple(ColumnSpec(n, ty, nullable)
                  for n, ty, nullable in gen.snapshot_columns(t)),
            (gen.snapshot_columns(t)[0][0],),
        )
        for t in gen.SNAP_TABLES
    }


def run(r) -> None:
    import mysql_clickhouse_sync_spark.pipeline.snapshot as snap_mod
    from mysql_clickhouse_sync_spark.plans.registry import all_queries

    spark = r.spark
    src_dir, tgt_dir = r.path("src"), r.path("target")
    source = gen.write_snapshot_source(src_dir, r.seed)
    expected = {n: checks.by_key(t) for n, t in source.items()}
    stats = checks.segment_order_stats(source["orders"], source["customer"])
    # the registry reads ``<sf_dir>/<table>.parquet``
    os.makedirs(tgt_dir)
    for t in source:
        os.symlink(t, os.path.join(tgt_dir, f"{t}.parquet"))
    query = all_queries()["segment_order_stats"].fn

    rep = snap_mod.SnapshotReplicator(
        spark, lambda t: spark.read.parquet(os.path.join(src_dir, t)),
        tgt_dir, _specs(), drop_existing=True)
    tr = r.tracer
    if tr.enabled:
        rep.replicate_table = tr.wrap(rep.replicate_table,
                                      "pipeline.snapshot.replicate")
        for name in ("verify_counts", "verify_diff"):
            setattr(snap_mod, name, tr.wrap(getattr(snap_mod, name),
                                            f"operators.verify.{name}"))

    def copied(names):
        """Check of one ``rep.run(names)``: every table succeeded and
        its target holds exactly the source's rows."""
        want = {n: expected[n] for n in names}
        return lambda results: all(
            res.success for res in results.values()) and \
            checks.snapshot_matches(tgt_dir, want)

    def one(timed: bool) -> None:
        r.measure("bulk", "pipeline.snapshot.bulk_table",
                  lambda: rep.run([BULK]), copied([BULK]), timed=timed)
        r.measure("latency", "pipeline.snapshot.wide_table",
                  lambda: rep.run([LATENCY]), copied([LATENCY]),
                  timed=timed)
        r.measure("scan", "plans.segment_order_stats",
                  lambda: query(spark, tgt_dir).collect(),
                  lambda got: checks.stats_match(got, stats), timed=timed)

    try:
        for _ in range(WARMUP_ROUNDS):
            one(timed=False)
        r.start_window()
        while r.left() > 0 or r.need_more(*r.samples):
            one(timed=True)
    finally:
        if tr.enabled:
            for name in ("verify_counts", "verify_diff"):
                fn = getattr(snap_mod, name)
                setattr(snap_mod, name, getattr(fn, "__wrapped__", fn))
    r.bulk_units = source[BULK].num_rows


def layer_report(r) -> dict:
    """The snapshot layer split of the traced run, per pass (medians)."""
    import statistics

    med = statistics.median
    tr = r.tracer
    ss = r.traced("bulk")
    rep, counts, diff, copy_self = [], [], [], []
    for p in (s["span"] for s in ss):
        kids = tr.children(p)
        grand = [g for k in kids for g in tr.children(k)]
        rep.append(sum(k.dur for k in kids))
        counts.append(sum(g.dur for g in grand
                          if g.name == "operators.verify.verify_counts"))
        diff.append(sum(g.dur for g in grand
                        if g.name == "operators.verify.verify_diff"))
        copy_self.append(sum(tr.self_time(k) for k in kids))
    out = {
        "pipeline.snapshot.replicate_s": med(rep),
        "operators.verify.counts_s": med(counts),
        "operators.verify.diff_s": med(diff),
        "pipeline.snapshot.copy_self_s": med(copy_self),
    }
    for key in ("jobs", "tasks", "cpu_s", "spill_bytes", "output_bytes"):
        out[f"pipeline.snapshot.{key}"] = med([s[key] for s in ss])
    out["pipeline.snapshot.shuffle_bytes"] = med(
        [s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in ss])
    out["sources.input_bytes"] = med([s["input_bytes"] for s in ss])
    return out
