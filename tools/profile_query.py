"""Per-query profiler: run one registered query end-to-end with the
bench's noop-sink methodology, print wall seconds, the SPARK JOB LIST
(id, description, stage count, task count, duration) and the job
total — the measurement step (guide §1) behind every r15 change.

Usage: python tools/profile_query.py <query> [<query> ...] [--repeat N]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""
from __future__ import annotations

import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def _job_seconds(store, jid: int) -> float:
    """Completion minus submission time of one job, from the
    application status store (filled with the UI off); NaN while
    either time is unknown."""
    job = store.job(jid)
    start, end = job.submissionTime(), job.completionTime()
    if not (start.isDefined() and end.isDefined()):
        return float("nan")
    return (end.get().getTime() - start.get().getTime()) / 1000.0


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    repeat = 2
    for a in sys.argv[1:]:
        if a.startswith("--repeat"):
            repeat = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from mysql_clickhouse_sync_spark.session import get_spark
    from mysql_clickhouse_sync_spark.plans.registry import all_queries

    # get_spark sizes local[N] from SPARK_GRAFT_CPUS itself
    spark = get_spark("profile_query")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    qs = all_queries()
    for name in names:
        fn = qs[name].fn
        for it in range(repeat):
            tracker = sc.statusTracker()
            before_ids = set(tracker.getJobIdsForGroup(None) or [])
            sc.setJobGroup(f"profile:{name}:{it}", name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            t_build = time.time() - t0
            df.write.format("noop").mode("overwrite").save()
            t_total = time.time() - t0
            sc.setJobGroup(None, None)
            ids = sorted(
                set(tracker.getJobIdsForGroup(f"profile:{name}:{it}") or [])
            )
            print(
                f"== {name} iter{it}: total={t_total:.3f}s "
                f"(build={t_build:.3f}s) jobs={len(ids)}"
            )
            if it == repeat - 1:
                for jid in ids:
                    ji = tracker.getJobInfo(jid)
                    if ji is None:
                        continue
                    stages = list(ji.stageIds)
                    ntasks = 0
                    for sid in stages:
                        si = tracker.getStageInfo(sid)
                        if si:
                            ntasks += si.numTasks
                    print(
                        f"   job {jid}: stages={len(stages)} tasks={ntasks}"
                        f" dur={_job_seconds(store, jid):.3f}s"
                    )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
