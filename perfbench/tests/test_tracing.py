"""Call probes."""

from __future__ import annotations

from dbt_meshify_spark import cli
from dbt_meshify_spark.plans import grouper
from perfbench.tracing import Probe


def test_a_probe_replaces_aliased_imports_and_counts_calls():
    original = grouper.create_group
    assert cli.plan_create_group is original
    probe = Probe(grouper, "create_group", lambda a, k, out: {"n": 1}).install()
    try:
        assert cli.plan_create_group is grouper.create_group is not original
        try:
            cli.plan_create_group(None, "g", {}, set(), None, None)
        except Exception:  # noqa: BLE001 - only the count matters here
            pass
        assert probe.calls == 1 and probe.seconds > 0
    finally:
        grouper.create_group = cli.plan_create_group = original
