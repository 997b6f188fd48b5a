"""cdc_live: changelog files through ``CDCStreamPipeline`` into the
deduplicated ``_live`` view.

Set-up initial-syncs two tables from one seeded base with
``run_initial_sync_then_stream`` over an empty changelog.  Each step,
in the window and in the warm-up before it, then runs (a) trickle: one
closed-loop cycle on a continuous ``start(available_now=False)`` query
(how ``main.py --follow`` runs), renaming one file of events into the
watched directory, calling ``processAllAvailable()`` and reading that
file's sentinel back through ``live()``; (b) one full ``_live``
aggregate of the same table; (c) catch-up: a backlog of JSON changelog
files for the second table, drained by ``start(available_now=True)``.
Trickle writes and scans read the same table, so a change that trades
read cost for write cost shows on one metric or the other.  Catch-up
and trickle use the same streaming layer at opposite batch sizes; the
second table lets the rounds run between the cycles, so every metric
samples the whole window.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

import checks
import gen

CATCHUP_FILES = 4          # one microbatch: start() reads 4 files a trigger
CATCHUP_EVENTS = 2_500     # per file
TRICKLE_EVENTS = 1_000     # per file, plus a replayed duplicate and a sentinel
#: untimed steps (cycle, scan, catch-up round) before the window
#: opens.  Measured on 4 cores, cycle latency falls from ~1.05 s
#: towards ~0.6 s over ~20 cycles and the scan from ~1.1 s to ~0.55 s
#: over ~4 scans (JIT warm-up); the window starts past the steep part
#: of both curves.
WARMUP_STEPS = 8


def _changelog_schema():
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType([
        StructField("op", StringType()), StructField("seq", LongType()),
        StructField("id", LongType()), StructField("status", IntegerType()),
        StructField("balance", DoubleType()),
        StructField("note", StringType()),
    ])


class _Progress(StreamingQueryListener):
    """Collects each microbatch's progress: run id, batch id, start
    time (epoch seconds), input rows, phase durations and the file
    source's log offset (which names the files the batch read)."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, e) -> None:
        pass

    def onQueryProgress(self, e) -> None:
        p = e.progress
        self.events.append({
            "run": str(p.runId), "batch": p.batchId,
            "start": datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")).timestamp(),
            "rows": p.numInputRows, "ms": dict(p.durationMs),
            "log_offset": json.loads(p.sources[0].endOffset)["logOffset"]})

    def onQueryIdle(self, e) -> None:
        pass

    def onQueryTerminated(self, e) -> None:
        pass


def _batch_files(checkpoint: str, log_offset: int) -> set[str]:
    """Names of the changelog files the file source read in the batch
    at ``log_offset``, from its metadata log in the checkpoint (a
    compacted log file also lists every earlier batch)."""
    d = os.path.join(checkpoint, "sources", "0")
    for name in (str(log_offset), f"{log_offset}.compact"):
        path = os.path.join(d, name)
        if os.path.exists(path):
            with open(path) as f:
                entries = [json.loads(line) for line in f.read()
                           .splitlines()[1:] if line]
            return {os.path.basename(e["path"]) for e in entries
                    if e["batchId"] == log_offset}
    return set()


def _target_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def run(r) -> None:
    from mysql_clickhouse_sync_spark.streaming.cdc_pipeline import (
        CDCStreamPipeline,
        run_initial_sync_then_stream,
    )
    from pyspark.sql import functions as F

    spark, tr = r.spark, r.tracer
    staging = r.path("staging")
    os.makedirs(staging)
    base = gen.cdc_base(r.seed)
    base_path = r.path("base.parquet")
    import pyarrow.parquet as pq

    pq.write_table(base, base_path)
    progress = None
    if tr.enabled:
        progress = _Progress()
        spark.streams.addListener(progress)

    def table(name: str, stream: int) -> tuple:
        """A pipeline initial-synced from the base, its watched
        directory, the state its changelog implies and the changelog's
        generator."""
        pipe = CDCStreamPipeline(spark, name, ["id"], _changelog_schema(),
                                 r.path("cdc"))
        if tr.enabled:
            pipe.apply_microbatch = tr.wrap(pipe.apply_microbatch,
                                            "streaming.apply_microbatch")
        watched = r.path(f"{name}_changelog")
        os.makedirs(watched)
        run_initial_sync_then_stream(pipe, spark.read.parquet(base_path),
                                     watched)
        return (pipe, watched, checks.LiveState(base.to_pandas()),
                gen.ChangelogGen(r.seed, stream))

    # trickle cycles and _live scans on one table; the catch-up rounds
    # drain backlogs into another, so they can run between the cycles
    # without stopping the continuous query
    pipe, watched, state, events = table("accounts", 0)
    bpipe, bwatched, bstate, bevents = table("backlog", 1)
    report = r.report
    n_files = 0

    def stage(evs: list[dict], st) -> str:
        nonlocal n_files
        n_files += 1
        path = os.path.join(staging, f"part-{n_files:06d}.json")
        gen.write_changelog(path, evs)
        st.apply(evs)
        return path

    def land(path: str, to: str) -> float:
        os.rename(path, os.path.join(to, os.path.basename(path)))
        return time.time()

    def catchup(timed: bool) -> None:
        for p in [stage(bevents.events(CATCHUP_EVENTS), bstate)
                  for _ in range(CATCHUP_FILES)]:
            land(p, bwatched)

        def drain():
            q = bpipe.start(bwatched, available_now=True)
            q.awaitTermination()
            tr.attach_group(str(q.runId))
            if timed:
                catchup_runs.add(str(q.runId))
            return q

        r.measure("bulk", "streaming.catchup_round", drain,
                  lambda q: q.exception() is None, timed=timed)

    def scan(timed: bool) -> None:
        def agg():
            return pipe.live().groupBy("status").agg(
                F.count("*").alias("n"), F.sum("balance").alias("b")
            ).collect()

        r.measure("scan", "operators.cdc.live_scan", agg,
                  state.aggregate_matches, timed=timed)

    # every trickle cycle in order: landing time, span (when traced)
    cycles, catchup_runs = [], set()

    def cycle(q, i: int, timed: bool) -> None:
        sentinel = events.sentinel(i)
        path = stage(events.events(TRICKLE_EVENTS) + [sentinel], state)

        def visible():
            cycles.append({"file": os.path.basename(path),
                           "land": land(path, watched), "span": tr.current(),
                           "timed": timed})
            q.processAllAvailable()
            with tr.span("streaming.live_lookup"):
                return pipe.live().filter(
                    F.col("id") == sentinel["id"]).collect()

        r.measure("latency", "streaming.cycle", visible,
                  lambda rows: checks.sentinel_matches(rows, sentinel),
                  timed=timed)

    def step(q, i: int, timed: bool) -> None:
        cycle(q, i, timed)
        scan(timed)
        catchup(timed)

    try:
        q = pipe.start(watched, available_now=False)
        trickle_run = str(q.runId)
        try:
            for i in range(WARMUP_STEPS):
                step(q, i, timed=False)
            r.start_window()
            i = WARMUP_STEPS
            while r.left() > 0 or r.need_more(*r.samples):
                step(q, i, timed=True)
                i += 1
        finally:
            q.stop()
        for name, p, st in (("live", pipe, state), ("backlog", bpipe, bstate)):
            files, size = _target_files(p.target_dir)
            report[f"pipeline.cdc.{name}.target_files"] = files
            report[f"pipeline.cdc.{name}.target_bytes"] = size
            if not checks.frames_equal(p.live().toPandas(), st.frame(),
                                       "id"):
                print(f"FAILED final _live state of {name} differs from "
                      "the changelog's last-writer-wins state", flush=True)
                r.checks_ok = False
    finally:
        if progress is not None:
            spark.streams.removeListener(progress)
    r.bulk_units = CATCHUP_FILES * (CATCHUP_EVENTS + 1)
    lat = sorted(s["wall_s"] for s in r.samples["latency"]
                 if s["traced"] == tr.enabled)
    report["visible_samples"] = len(lat)
    if lat:
        report["visible_p90_s"] = lat[int(0.9 * (len(lat) - 1))]
    if tr.enabled:
        report.update(_streaming_split(tr, progress.events, cycles,
                                       trickle_run, catchup_runs,
                                       pipe.checkpoint_dir))


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else math.nan


def _streaming_split(tr, events: list[dict], cycles: list[dict],
                     trickle_run: str, catchup_runs: set,
                     checkpoint: str) -> dict:
    """Split each timed trickle cycle into trigger wait (landing to the
    start of its batch, from the progress timestamp), the
    ``apply_microbatch`` span and the ``live_lookup`` span; report
    what they leave uncovered, and the streaming phase durations."""
    med = _median
    # the foreachBatch callback runs on the stream's thread: adopt each
    # apply span into the cycle or round whose interval holds it
    tr.adopt("streaming.apply_microbatch",
             tr.named("streaming.cycle") + tr.named("streaming.catchup_round"))
    trickle = [e for e in events if e["run"] == trickle_run and e["rows"] > 0]
    catch = [e for e in events if e["run"] in catchup_runs and e["rows"] > 0]
    # a cycle's batch is the one whose source log lists the cycle's
    # file; split the timed, traced cycles that have exactly one
    by_file: dict[str, list[dict]] = {}
    for e in trickle:
        for name in _batch_files(checkpoint, e["log_offset"]):
            by_file.setdefault(name, []).append(e)
    split = [cy for cy in cycles if cy["timed"] and cy["span"] is not None]
    pairs = [(cy, by_file[cy["file"]][0]) for cy in split
             if len(by_file.get(cy["file"], ())) == 1]
    batches = [b for _, b in pairs]
    parts = {"streaming.apply_microbatch": [], "streaming.live_lookup": []}
    waits, uncovered = [], []
    for cy, b in pairs:
        c = cy["span"]
        wait = max(0.0, b["start"] - cy["land"])
        waits.append(wait)
        tr.add("streaming.trigger_wait", c.start, c.start + wait, c)
        covered = wait
        for k in tr.children(c):
            if k.name in parts:
                parts[k.name].append(k.dur)
                covered += k.dur
        uncovered.append(c.dur - covered)
    rep = {"streaming.trigger_wait_s": med(waits),
           "streaming.apply_microbatch_s": med(parts[
               "streaming.apply_microbatch"]),
           "streaming.live_lookup_s": med(parts["streaming.live_lookup"]),
           "streaming.visible_uncovered_s": med(uncovered),
           "streaming.split_cycles": len(pairs),
           "streaming.unmatched_cycles": len(split) - len(pairs)}
    for key in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                "walCommit", "commitOffsets"):
        rep[f"streaming.trickle.{key}_ms"] = med(
            [e["ms"].get(key, 0) for e in batches])
        rep[f"streaming.catchup.{key}_ms"] = sum(
            e["ms"].get(key, 0) for e in catch)
    rep["streaming.catchup.batches"] = len(catch)
    rep["streaming.catchup.rows_per_batch"] = med(
        [e["rows"] for e in catch])
    return rep


def layer_report(r) -> dict:
    """Status-store counters of the traced run, under the layer names."""
    med = _median
    scans = r.traced("scan")
    return {
        "operators.cdc.live_scan_s": med([s["wall_s"] for s in scans]),
        "operators.cdc.live_scan_jobs": med([s["jobs"] for s in scans]),
        "operators.cdc.live_scan_shuffle_bytes": med(
            [s["shuffle_read_bytes"] + s["shuffle_write_bytes"]
             for s in scans]),
        "streaming.cdc.catchup_cpu_s": med([s["cpu_s"]
                                            for s in r.traced("bulk")]),
        "streaming.cdc.trickle_cpu_s": med([s["cpu_s"]
                                            for s in r.traced("latency")]),
    }
