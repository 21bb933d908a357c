"""Spark job ceilings for the graph fixpoint loops on one fixed 18-edge
graph. Each call runs under its own job group, and the jobs it launched
(pins, signature checks and the final collect) are read back from the
status tracker. The ceilings are the counts of the per-operator loops that
``graph_rank._fixpoint`` replaced."""

from __future__ import annotations

import itertools

import pytest

from dbt_meshify_spark.operators import graph_rank
from dbt_meshify_spark.operators.dedup import connected_components
from dbt_meshify_spark.operators.graph_rank import (
    core_numbers,
    kcore,
    label_propagation,
)

EDGES = [
    (1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6),
    (10, 11), (11, 12), (12, 13), (10, 12), (10, 13), (11, 13),
    (20, 21), (21, 22), (22, 23), (23, 24), (24, 25), (25, 26),
]

_groups = itertools.count()


def _jobs(spark, run) -> int:
    """Jobs launched by ``run()`` (which must collect its result)."""
    sc = spark.sparkContext
    group = f"fixpoint-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _graph(spark, a="src", b="dst"):
    return spark.createDataFrame(EDGES, f"{a} long, {b} long")


def _kcore(iters, stats):
    return lambda g: kcore(g, k=2, iters=iters, stats={} if stats else None)


def _lpa(iters, stats):
    return lambda g: label_propagation(g, iters=iters, stats={} if stats else None)


def _cc(variant):
    return lambda g: connected_components(g, variant=variant)


# case -> (call on the edge frame, job ceiling)
CASES = {
    "kcore-2": (_kcore(2, False), 9),
    "kcore-3": (_kcore(3, False), 18),
    "kcore-10": (_kcore(10, False), 25),
    "kcore-2-stats": (_kcore(2, True), 15),
    "kcore-3-stats": (_kcore(3, True), 20),
    "kcore-10-stats": (_kcore(10, True), 25),
    "lpa-2": (_lpa(2, False), 17),
    "lpa-3": (_lpa(3, False), 30),
    "lpa-10": (_lpa(10, False), 68),
    "lpa-2-stats": (_lpa(2, True), 23),
    "lpa-3-stats": (_lpa(3, True), 32),
    "lpa-10-stats": (_lpa(10, True), 68),
    "core_numbers": (lambda g: core_numbers(g, k_max=4, iters_per_k=3), 36),
    "cc-propagate": (_cc("propagate"), 67),
    "cc-star": (_cc("star"), 55),
    "cc-auto": (_cc("auto"), 111),
}


@pytest.mark.parametrize("case", list(CASES))
def test_fixpoint_loop_job_ceiling(spark, case):
    call, ceiling = CASES[case]
    cols = ("id_a", "id_b") if case.startswith("cc-") else ("src", "dst")
    g = _graph(spark, *cols)
    n = _jobs(spark, lambda: call(g).collect())
    assert n <= ceiling, f"{case}: {n} jobs > ceiling {ceiling}"


def test_fixed_short_budget_takes_no_signature(spark, monkeypatch):
    """ext_label_propagation's shape (iters=2, no stats) must not pay a
    single convergence-signature job: the only checkable point would be
    after round 1."""
    calls = []
    real = graph_rank._signature
    monkeypatch.setattr(
        graph_rank, "_signature", lambda frame: calls.append(1) or real(frame)
    )
    label_propagation(_graph(spark), iters=2).collect()
    kcore(_graph(spark), k=2, iters=2).collect()
    assert calls == []
