"""Per-operation Spark statistics from the driver's in-process status store.

Operations run one at a time from one client, so the jobs an operation
launched are exactly the job IDs handed out between its start and its end.
``job_mark`` reads the scheduler's job counter (no listener-bus round trip)
and ``collect`` later resolves an ID range to jobs and stages through
``SparkContext.statusStore()``, which is populated with the UI disabled.
Job groups are not needed: jobs launched while a DataFrame is being built
(eager pins, fixpoint rounds, driver collects) are counted the same way as
the action's.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: Per-stage counters summed into an operation, with the JVM unit scale.
_STAGE_FIELDS = {
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
}


@dataclass
class JobInfo:
    job_id: int
    start: float          # epoch seconds
    end: float
    stage_ids: list[int]
    tasks: int


@dataclass
class RangeStats:
    """Totals over one job-ID range."""

    jobs: list[JobInfo] = field(default_factory=list)
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(_STAGE_FIELDS, 0.0))


def _jsc(spark):
    return spark.sparkContext._jsc.sc()


def job_mark(spark) -> int:
    """The next job ID the scheduler will hand out."""
    return int(_jsc(spark).dagScheduler().numTotalJobs())


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event to the store."""
    _jsc(spark).listenerBus().waitUntilEmpty()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def collect(spark, first: int, stop: int) -> RangeStats:
    """Jobs ``first <= id < stop`` with their stages; call ``drain`` first."""
    store = _jsc(spark).statusStore()
    out = RangeStats()
    seen: set[int] = set()
    for jid in range(first, stop):
        job = store.job(jid)
        sub = job.submissionTime()
        done = job.completionTime()
        start = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
        end = done.get().getTime() / 1e3 if done.isDefined() else start
        stage_ids = [int(s) for s in _seq(job.stageIds())]
        out.jobs.append(JobInfo(jid, start, end, stage_ids, int(job.numTasks())))
        for sid in stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                out.skipped_stages += 1
                continue
            out.stages += 1
            out.tasks += int(stage.numTasks())
            for key, (attr, scale) in _STAGE_FIELDS.items():
                out.counters[key] += float(getattr(stage, attr)()) * scale
    return out


def job_starts(spark) -> dict[int, float]:
    """Submission time (epoch seconds) of every job the store retains."""
    out = {}
    for job in _seq(_jsc(spark).statusStore().jobsList(None)):
        sub = job.submissionTime()
        if sub.isDefined():
            out[int(job.jobId())] = sub.get().getTime() / 1e3
    return out


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
