"""Spark-side benchmark paths: worker imports, job attribution, verification."""

from __future__ import annotations

import subprocess
import sys

from perfbench import run as bench_run
from perfbench import workloads as W
from perfbench.driver import Run

_UDF_SCRIPT = """
import sys
from dbt_meshify_spark.queries import QUERIES
from dbt_meshify_spark.session import get_spark
spark = get_spark(app_name="perfbench-cwd")
rows = QUERIES["ext_image_neardup"](spark, sys.argv[1]).count()
spark.stop()
print("rows", rows)
"""


def test_udf_backed_operation_runs_from_another_working_directory(tmp_path, ref_data):
    """Spark's Python workers import the program through the benchmark's
    PYTHONPATH, not through the working directory."""
    env = bench_run.child_env(str(tmp_path / "work"))
    env["SPARK_GRAFT_CPUS"] = "2"
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    out = subprocess.run([sys.executable, "-c", _UDF_SCRIPT, ref_data], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) > 0


def _run(spark, tmp_path, data_dir, ops) -> Run:
    run = Run({"workload": "warehouse", "trace": 1, "root": bench_run.ROOT,
               "work": str(tmp_path), "seed": 0, "data_dir": data_dir})
    run.ctx.spark = spark
    run.pass_ops = lambda: ops
    return run


def test_per_operation_job_counts_sum_to_the_status_store_total(spark, tmp_path, ref_data):
    from dbt_meshify_spark.queries import QUERIES

    def eager_build():
        # a builder that runs jobs before returning, like an eager pin
        df = QUERIES["q03_filters"](spark, ref_data)
        df.count()
        return df.localCheckpoint(eager=True)

    ops = W.query_ops(W.Context("", "", spark, ref_data), ["q04_join_agg", "q09_topk"])
    ops.insert(1, W.Op("eager", eager_build, lambda df: W._noop(df) or df, "queries"))
    run = _run(spark, tmp_path, ref_data, ops)
    run.run_pass()
    overhead = run.tracer.overhead_s
    layers = run.layer_metrics()
    assert run.tracer.overhead_s == overhead > 0  # the analysis is not pass overhead
    per_op = run.attribution["per_op_jobs"]
    assert len(per_op) == 3 and all(n > 0 for n in per_op)
    assert sum(per_op) == run.attribution["store_jobs_in_passes"] == layers["spark.jobs"]
    assert layers["queries.build_jobs"] >= 2
    assert 0 < layers["spark.exec_s"] <= run.passes[0]["wall_s"]
    spans = run.tracer.spans
    jobs = [s for s in spans if s.kind == "job"]
    assert len(jobs) == sum(per_op)
    assert {s.parent_id for s in jobs} <= {s.span_id for s in spans if s.kind == "phase"}


def test_a_corrupted_query_output_counts_as_a_failure(spark, tmp_path, ref_data):
    ctx = W.Context("", str(tmp_path), spark, ref_data)
    run = _run(spark, tmp_path, ref_data, W.query_ops(ctx, ["q03_filters", "q09_topk"]))
    run.run_pass()
    good = W.verify_queries(ctx, run.kept)
    assert [c.ok for c in good] == [True, True], good
    df = run.kept["q09_topk"]
    run.kept["q09_topk"] = df.limit(df.count() - 1)
    bad = W.verify_queries(ctx, run.kept)
    assert [c.op for c in bad if not c.ok] == ["q09_topk"]
    from perfbench.driver import tally

    assert tally(run.records, bad) == (2, 1, {"q09_topk"})
