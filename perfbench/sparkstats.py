"""Read per-stage task accounting from Spark's status store.

Works with ``spark.ui.enabled=false``: the application status store is
populated by its listener regardless of the UI. ``stageList`` needs real
(empty) Java lists for its filters; nulls raise a NullPointerException.
Empty filter lists select every stage / job.
"""

from __future__ import annotations


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def snapshot(spark) -> dict:
    """Counters of every stage attempt and job the store retains, keyed by
    (stage id, attempt) / job id."""
    sc = spark.sparkContext
    jvm = sc._jvm
    gw = sc._gateway
    store = _store(spark)
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out_stages = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        out_stages[(int(s.stageId()), int(s.attemptId()))] = {
            "tasks": int(s.numCompleteTasks()) + int(s.numFailedTasks()),
            "failed_tasks": int(s.numFailedTasks()),
            "executor_run_ms": int(s.executorRunTime()),
            "shuffle_write_bytes": int(s.shuffleWriteBytes()),
            "spill_bytes": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            "output_bytes": int(s.outputBytes()),
            "input_bytes": int(s.inputBytes()),
        }
    jobs = store.jobsList(jvm.java.util.ArrayList())
    job_ids = {int(jobs.apply(i).jobId()) for i in range(jobs.size())}
    return {"stages": out_stages, "jobs": job_ids}


def delta(before: dict, after: dict) -> dict:
    """Sums over the stage attempts and jobs that appeared between two
    snapshots (a stage retried after a failure is a new attempt)."""
    keys = (
        "tasks", "failed_tasks", "executor_run_ms", "shuffle_write_bytes",
        "spill_bytes", "output_bytes", "input_bytes",
    )
    tot = dict.fromkeys(keys, 0)
    for k, s in after["stages"].items():
        if k in before["stages"]:
            continue
        for f in keys:
            tot[f] += s[f]
    tot["jobs"] = len(after["jobs"] - before["jobs"])
    return tot
