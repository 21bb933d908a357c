"""The benchmark's copy of the reference test tables."""

from __future__ import annotations

import filecmp
import os
import shutil

import pytest

from perfbench import run as bench_run
from perfbench import workloads as W
from tests.conftest import SF_ORACLE

DATA = os.path.join(bench_run.ROOT, W.DATA_DIR)
TABLES = sorted(f for f in os.listdir(DATA) if f.endswith(".parquet"))


def test_every_table_the_corpus_reads_is_there():
    from dbt_meshify_spark.sources.registry import TABLES as CORPUS

    assert TABLES == sorted(f"{t}.parquet" for t in CORPUS)
    bench_run.check_reference_data(DATA)


@pytest.mark.skipif(not os.path.isdir(SF_ORACLE), reason="no oracle test data on this host")
def test_tables_are_the_oracle_test_data():
    match, mismatch, errors = filecmp.cmpfiles(DATA, SF_ORACLE, TABLES, shallow=False)
    assert match == TABLES, (mismatch, errors)


def test_a_changed_table_is_refused(tmp_path):
    copy = tmp_path / "data"
    shutil.copytree(DATA, copy)
    with open(copy / TABLES[0], "ab") as fh:
        fh.write(b"\0")
    with pytest.raises(SystemExit):
        bench_run.check_reference_data(str(copy))
