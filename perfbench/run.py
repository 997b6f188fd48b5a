"""Benchmark entry point.

    python3 perfbench/run.py --workload snapshot_copy --seed 1 \\
        --seconds 12 --trace 0

Runs one seeded workload against the engine's public entry points
for ``--seconds`` of measured time, checks every output without the
engine, and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics.  ``--trace 1`` reports the per-layer
ones (spans and job-group counters from the Spark status stores) from
every other operation, the end-to-end values of the traced and the
untraced operations (their difference is the tracing overhead), and
writes the spans to ``.perfbench_work/trace-<workload>-<seed>.json``.

Every workload reports the same metric names (see BENCHMARK.json);
what each one measures per workload is in ``METRIC_MEANING`` below.
All files the run makes live under ``.perfbench_work/`` in the
current directory, which should be the repository root.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "snapshot_copy": "snapshot",
    "cdc_live": "cdc",
}

#: op classes: every workload times one operation of each
OPS = ("bulk", "latency", "scan")
#: each end-to-end metric is a median over at least this many timed
#: operations (of each half of a traced run)
MIN_SAMPLES = 8
#: how far past ``--seconds`` a window may run to reach MIN_SAMPLES,
#: which keeps a run within its time limit on a slow host
EXTRA_S = 60

METRIC_MEANING = {
    "snapshot_copy": {
        "throughput_per_s": "snapshot_rows_per_s: rows of the narrow "
        "orders table copied and verified / median copy",
        "latency_p50_s": "wide_table_copy_p50_s: one SnapshotReplicator.run "
        "of the wide customer table",
        "scan_p50_s": "segment_order_stats_p50_s: the registry query "
        "segment_order_stats over the copied tables",
    },
    "cdc_live": {
        "throughput_per_s": "catchup_events_per_s: backlog events / "
        "median drain round",
        "latency_p50_s": "visible_p50_s: changelog file rename -> "
        "sentinel read back from _live",
        "scan_p50_s": "live_scan_p50_s: one full _live aggregate",
    },
}

_UNITS = {"throughput_per_s": "1/s", "latency_p50_s": "s",
          "scan_p50_s": "s", "setup_s": "s"}
#: the op class each end-to-end metric is the median of
_OP_OF = {"throughput_per_s": "bulk", "latency_p50_s": "latency",
          "scan_p50_s": "scan"}


class Run:
    """State of one benchmark run: the session, the seed, the measured
    window, the operation tally and the timed samples."""

    def __init__(self, spark, seed: int, seconds: int, tracer, host,
                 work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.host = host
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.checks_ok = True
        self.setup_s: float | None = None
        self.deadline = float("inf")
        # op class -> list of per-operation samples
        self.samples: dict[str, list[dict]] = {op: [] for op in OPS}
        self.bulk_units = 0
        # per-layer extras (JSON) and workload report lines (stdout)
        self.extra: dict[str, float] = {}
        self.report: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_window(self) -> None:
        """End of set-up: the first timed operation starts now."""
        from spans import jvm_gc_ms

        self.setup_s = time.perf_counter() - T0
        self.deadline = time.perf_counter() + self.seconds
        if self.tracer.enabled:
            self.gc_ms0 = jvm_gc_ms(self.spark)

    def end_window(self) -> None:
        """After the last timed operation: read the status stores."""
        from spans import jvm_gc_ms

        if self.tracer.enabled:
            self.extra["jvm.gc_s"] = (jvm_gc_ms(self.spark)
                                      - self.gc_ms0) / 1000.0
            self.tracer.collect_counters()
            for op in OPS:
                for s in self.traced(op):
                    s["self_s"] = self.tracer.self_time(s["span"])
                    s.update(self.tracer.subtree_counters(s["span"]))

    def traced(self, op: str) -> list[dict]:
        """The samples of ``op`` taken with tracing on."""
        return [s for s in self.samples[op] if s["traced"]]

    def left(self) -> float:
        return self.deadline - time.perf_counter()

    def want(self) -> int:
        """Timed samples each op class needs: ``MIN_SAMPLES``, and as
        many again in a traced run, which traces every other one."""
        return MIN_SAMPLES * (2 if self.tracer.enabled else 1)

    def need_more(self, *ops: str) -> bool:
        """Whether ``ops`` lack ``want()`` samples, allowing at most
        ``EXTRA_S`` past the window for them."""
        return self.left() > -EXTRA_S and any(
            len(self.samples[op]) < self.want() for op in ops)

    def measure(self, op: str, name: str, fn, check=None,
                timed: bool = True):
        """Run one operation under a span.  It fails on an exception
        or when ``check(result)`` is false; either way it counts as
        attempted.  Untimed (warm-up) operations are checked but not
        counted.  Returns the result, or None on failure.

        A traced run traces every other timed operation of each class,
        so its untraced operations, measured under the same host
        state, give the tracing overhead."""
        from spans import tree_cpu_s

        self.host.sample()
        traced = self.tracer.active = self.tracer.enabled and (
            not timed or len(self.samples[op]) % 2 == 0)
        if traced:
            cpu0 = tree_cpu_s()
        t = time.perf_counter()
        err = None
        result = span = None
        try:
            with self.tracer.span(name) as span:
                result = fn()
        except Exception:  # noqa: BLE001 — a failed op is a result
            err = traceback.format_exc()
        wall = time.perf_counter() - t
        if traced:
            cpu = tree_cpu_s() - cpu0
        self.host.sample()
        if err is None and check is not None:
            try:
                if not check(result):
                    err = f"{name}: wrong result"
            except Exception:  # noqa: BLE001 — a failed check is a result
                err = traceback.format_exc()
        if timed:
            self.attempted += 1
        if err is not None:
            print(f"FAILED {name}: {err}", file=sys.stderr)
            if timed:
                self.failed += 1
            else:
                self.checks_ok = False
            return None
        if timed:
            sample = {"wall_s": wall, "traced": traced}
            if span is not None:
                sample.update(cpu_s=cpu, span=span)
            self.samples[op].append(sample)
        return result


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def walls(run: Run, op: str, traced: bool = False) -> list[float]:
    """Wall times of the timed ``op`` operations run with tracing on
    (``traced``) or off."""
    return [s["wall_s"] for s in run.samples[op] if s["traced"] == traced]


def end_to_end(run: Run, traced: bool = False) -> dict[str, float]:
    """The end-to-end metrics over the operations run with tracing on
    (``traced``) or off."""
    return {
        "setup_s": run.setup_s,
        "throughput_per_s": run.bulk_units / _median(
            walls(run, "bulk", traced)),
        "latency_p50_s": _median(walls(run, "latency", traced)),
        "scan_p50_s": _median(walls(run, "scan", traced)),
    }


def per_layer(run: Run) -> dict[str, float]:
    """Per-op medians over the traced operations of wall, self time,
    process-tree CPU and the job-group counters; JVM GC over the
    window; the end-to-end values over the traced and the untraced
    operations of the run (their difference is the tracing
    overhead)."""
    out = {}
    for op in OPS:
        ss = run.traced(op)
        med = lambda k: _median([s.get(k, 0) for s in ss])  # noqa: E731
        out[f"{op}.wall_s"] = med("wall_s")
        out[f"{op}.self_s"] = med("self_s")
        out[f"{op}.cpu_s"] = med("cpu_s")
        out[f"{op}.jobs"] = med("jobs")
        out[f"{op}.stages"] = med("stages")
        out[f"{op}.tasks"] = med("tasks")
        out[f"{op}.executor_cpu_s"] = med("executor_cpu_ns") / 1e9
        out[f"{op}.input_bytes"] = med("input_bytes")
        out[f"{op}.output_bytes"] = med("output_bytes")
        out[f"{op}.shuffle_bytes"] = _median(
            [s.get("shuffle_read_bytes", 0) + s.get("shuffle_write_bytes", 0)
             for s in ss])
        out[f"{op}.spill_bytes"] = med("spill_bytes")
        out[f"{op}.samples"] = float(len(ss))
    untraced = end_to_end(run)
    for k, v in end_to_end(run, traced=True).items():
        out[f"traced.{k}"] = v
        if k != "setup_s":
            out[f"untraced.{k}"] = untraced[k]
    out.update(run.extra)
    return out


def _prepare_env(work: str) -> None:
    """Keep every file the engine, Spark and the JVM make inside
    ``work``, and let the Python workers import the engine from the
    checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the driver JVM's own temp files (Spark's scratch dirs, extracted
    # native libraries) and no hsperfdata file under /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
        " pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # half the cores as Spark task slots: the JVM's other threads, the
    # Python driver and the OS keep cores of their own.  With every
    # core a task slot, two busy processes coming and going beside a
    # run doubled the run-to-run spread of cdc_live's cycle and scan
    # medians (4 seeds each way on 4 cores: 0.27 against 0.14).
    os.environ["SPARK_GRAFT_CPUS"] = str(
        max(1, len(os.sched_getaffinity(0)) // 2))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        session = importlib.import_module(
            "mysql_clickhouse_sync_spark.session")
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    from spans import HostHealth, Tracer

    workload = importlib.import_module(WORKLOADS[args.workload])
    spark = session.get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(spark, args.seed, args.seconds,
              Tracer(spark, bool(args.trace)), HostHealth(), work)
    try:
        workload.run(run)
        run.end_window()
        report = dict(run.report)
        if args.trace:
            report.update(workload.layer_report(run))
            metrics = per_layer(run)
            for k in _OP_OF:
                report[f"tracing_overhead.{k}"] = (
                    metrics[f"traced.{k}"] - metrics[f"untraced.{k}"])
    finally:
        _stop_spark(spark)
    if run.tracer.enabled:
        run.tracer.dump(os.path.join(
            base, f"trace-{args.workload}-{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(run, traced=bool(args.trace))
    host = run.host.metrics()
    metrics = metrics | host if args.trace else dict(e2e)
    report.update(host)
    correct = run.checks_ok and run.failed == 0 and all(
        run.samples[op] for op in OPS)
    units = {k: _UNITS.get(k.split(".")[-1], _unit(k)) for k in metrics}

    missing = [k for k, v in metrics.items() if not math.isfinite(v)]
    if missing:
        print(f"no successful operation to measure {missing}",
              file=sys.stderr)
        return 1

    print(f"# workload {args.workload} seed {args.seed} "
          f"trace {args.trace}: {run.attempted} ops, {run.failed} failed")
    for k, meaning in METRIC_MEANING[args.workload].items():
        n = len(walls(run, _OP_OF[k], bool(args.trace)))
        print(f"# {k} = {meaning}: {e2e[k]:.6g} {_UNITS[k]} (n={n})")
    for k, v in sorted(report.items()):
        print(f"# {k}: {v:.6g}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name == "host.steal_pct":
        return "%"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
