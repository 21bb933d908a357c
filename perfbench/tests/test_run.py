"""The command-line contract of ``perfbench/run.py``."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

from perfbench import driver
from perfbench import run as bench_run

ROOT = Path(bench_run.ROOT)
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=180)


def test_benchmark_file_names_the_four_workloads():
    assert [w["name"] for w in BENCH["workloads"]] == [
        "warehouse", "fixpoint", "dbt_build", "mesh_split"]
    assert BENCH["command"] == ["python3", "perfbench/run.py"]
    setup = {m["name"]: m for m in BENCH["end_to_end"]}["setup_s"]
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, "warehouse", 0)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def test_mesh_split_prints_every_metric_with_its_unit():
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        out = _run(ROOT, "mesh_split", trace)
        assert out.returncode == 0, out.stderr[-3000:]
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["attempted"] == 12 and result["failed"] == 0
        want = {m["name"]: m["unit"] for m in BENCH[section]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        env = json.loads(out.stdout.strip().splitlines()[-2].split(" ", 1)[1])["env"]
        for key in ("nproc", "loadavg_start", "loadavg_end", "git_commit", "spark",
                    "python", "fixpoint_family"):
            assert key in env


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert driver.tail_percentile(55) == 81
    assert driver.tail_percentile(20) == 50
    assert driver.tail_percentile(19) == 100
    assert driver.percentile([1.0, 2.0, 3.0], 100) == 3.0
    assert driver.percentile([1.0, 2.0, 3.0], 50) == 2.0
