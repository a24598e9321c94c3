"""Per-layer Spark counters read from the driver's status store.

Each traced span runs under ``sc.setJobGroup(<layer>)``; afterwards the
benchmark reads every job and stage the driver recorded and sums the
stage metrics per job group.  Reading (:func:`read_status`) talks to the
JVM; summing (:func:`aggregate`) is a pure function over plain dicts.
"""

from __future__ import annotations

MB = 1024.0 * 1024.0

# Counters summed per group; stage field → (output key, scale).
STAGE_FIELDS = {
    "executorRunTime": ("task_s", 1e-3),          # ms
    "executorCpuTime": ("cpu_s", 1e-9),           # ns
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / MB),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / MB),
    "memoryBytesSpilled": ("spill_memory_mb", 1 / MB),
    "diskBytesSpilled": ("spill_mb", 1 / MB),
    "outputBytes": ("written_mb", 1 / MB),
    "numCompleteTasks": ("tasks", 1),
}


def _seq(jvm, seq) -> list:
    """A Scala Seq as a Python list (through a java.util.List view)."""
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def read_status(sc) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts the driver's status store holds."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(jvm, store.jobsList(None)):
        group = j.jobGroup()
        jobs.append({
            "job_id": int(j.jobId()),
            "group": group.get() if group.isDefined() else None,
            "name": str(j.name()),
            "stage_ids": [int(s) for s in _seq(jvm, j.stageIds())],
        })
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = []
    for s in _seq(jvm, store.stageList(None, False, False, no_quantiles,
                                       None)):
        row = {"stage_id": int(s.stageId()),
               "attempt": int(s.attemptId())}
        for f in STAGE_FIELDS:
            row[f] = int(getattr(s, f)())
        stages.append(row)
    return jobs, stages


def empty_counters() -> dict:
    out = {key: 0.0 for key, _ in STAGE_FIELDS.values()}
    out["jobs"] = 0
    return out


def aggregate(jobs: list[dict], stages: list[dict],
              after_job: int = -1) -> dict[str | None, dict]:
    """Sum stage counters per job group over jobs with id > ``after_job``.

    A stage id listed by several jobs (a later job reusing shuffle
    output lists it as skipped) is charged once, to the lowest job id
    that lists it; all attempts of a stage are summed.
    """
    owner: dict[int, int] = {}
    group_of: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}
    for j in sorted(jobs, key=lambda j: j["job_id"]):
        for sid in j["stage_ids"]:
            owner.setdefault(sid, j["job_id"])
        if j["job_id"] > after_job:
            group_of[j["job_id"]] = j["group"]
            out.setdefault(j["group"], empty_counters())["jobs"] += 1
    for s in stages:
        job = owner.get(s["stage_id"])
        if job not in group_of:
            continue
        acc = out[group_of[job]]
        for f, (key, scale) in STAGE_FIELDS.items():
            acc[key] += s[f] * scale
    return out


def total(per_group: dict) -> dict:
    """Counters summed over every group."""
    acc = empty_counters()
    for counters in per_group.values():
        for k, v in counters.items():
            acc[k] += v
    return acc
