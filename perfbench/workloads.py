"""The four benchmark workloads: operations, set-up and verification.

Every workload runs whole passes of operations, one at a time from one
client, in a fixed order. The Spark workloads read the corpus's reference
test tables at sf0.01 (``DATA_DIR``); the seed drives ``mesh_split``'s
generated projects (``meshgen``). The order is fixed because in a fresh
driver the first operations of a pass pay the JVM's warm-up, and a seeded
order moved that cost between operations.

- ``warehouse``: eight read-heavy relational queries (joins, windows, set
  operations, pivots), built with ``QUERIES[name]`` and executed through the
  noop sink; their builders launch almost no jobs.
- ``fixpoint``: three iterative queries whose builders launch many jobs
  before their action (connected components, label propagation, PageRank),
  from the frozen family of twelve in ``FIXPOINT_FAMILY``.
- ``dbt_build``: the ``tpch_proj`` fixture: a full-refresh ``build`` and an
  incremental ``build`` into a fresh warehouse directory.
- ``mesh_split``: the CLI's ``split``, ``create-group``, ``add-contract``
  and ``version`` on fresh copies of three generated projects, planned from
  ``target/catalog.json`` with no Spark.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

#: Frozen warehouse operations, in pass order: the execution-heavy shapes of
#: the relational corpus (multi-way joins, windows, set operations, pivot,
#: correlated subquery), about 0.8 s each on a cold pass at sf0.01, local[4].
WAREHOUSE_QUERIES = (
    "q06_multiway_join", "q04_join_agg", "q11_dedup_rank", "q12_sessionize",
    "q26_pivot", "q27_rank_windows", "q32_set_ops", "q33_full_outer_join",
)

#: The frozen fixpoint family: the 12 ``ext_`` queries whose builders
#: launched at least 15 jobs before their action when the benchmark was
#: defined. ``FIXPOINT_TIMED`` is what a pass runs, in order: the
#: connected-components loop behind eight of the twelve, label propagation
#: and PageRank.
FIXPOINT_FAMILY = (
    "ext_core_numbers", "ext_pagerank_dangling", "ext_cluster_best_keep",
    "ext_semantic_dedup", "ext_cluster_size_stats", "ext_cross_source_dedup",
    "ext_dedup_clusters", "ext_leakage_safe_split", "ext_soft_dedup_weights",
    "ext_training_data_build", "ext_label_propagation", "ext_kcore",
)
FIXPOINT_TIMED = ("ext_dedup_clusters", "ext_label_propagation", "ext_pagerank_dangling")

#: The reference test tables (TPC-H-ish star schema, events, documents,
#: embeddings; seed 42) at sf0.01, the scale the DuckDB oracles run at,
#: copied byte for byte with their SHA-256 sums so that a run reads only
#: inside its checkout.
DATA_SF = 0.01
DATA_DIR = os.path.join("perfbench", "data", "sf0.01")
MESH_MODELS = 300
MESH_PROJECTS = 3


@dataclass
class Op:
    """One timed operation. ``build`` runs before ``action``; the split lets
    the trace separate plan build from execution. ``action`` receives what
    ``build`` returned and its return value is kept for verification."""

    name: str
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    layer: str                       # queries | project | plans


@dataclass
class Check:
    op: str
    ok: bool
    detail: str = ""


@dataclass
class Context:
    root: str                        # checkout root
    work: str                        # this run's scratch directory
    spark: Any = None
    data_dir: str = ""
    extras: dict = field(default_factory=dict)


# -- Spark session -------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _passthrough(batches):
    yield from batches


def spark_setup(ctx: Context) -> dict[str, float]:
    """Import the program, build the session and warm it: JVM and codegen
    (one query), the Python worker pool (a pandas UDF), and the ``sources``
    schema cache (every table once). Returns each phase's seconds."""
    t0 = time.perf_counter()
    from dbt_meshify_spark.queries import QUERIES
    from dbt_meshify_spark.session import get_spark
    from dbt_meshify_spark.sources import registry

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    _noop(QUERIES["q01_projection_cast"](spark, ctx.data_dir))
    _noop(spark.range(0, 10_000, 1, 4).mapInPandas(_passthrough, "id long"))
    for table in registry.TABLES:
        registry.load_table(spark, ctx.data_dir, table)
    ctx.spark = spark
    return {"import_s": t1 - t0, "start_s": t2 - t1, "warm_s": time.perf_counter() - t2}


# -- warehouse / fixpoint ------------------------------------------------------


def query_ops(ctx: Context, names: list[str]) -> list[Op]:
    from dbt_meshify_spark.queries import QUERIES

    def make(name):
        def action(df):
            _noop(df)
            return df
        return Op(name, lambda: QUERIES[name](ctx.spark, ctx.data_dir), action, "queries")

    return [make(n) for n in names]


def duck_connection(data_dir: str):
    import duckdb

    from dbt_meshify_spark.sources.registry import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def compare_rows(name: str, spark_side, oracle_side) -> Check:
    """Compare two canonical ``(columns, rows)`` results; a query without an
    oracle (``oracle_side is None``) only has to return rows."""
    s_cols, s_rows = spark_side
    if oracle_side is None:
        return Check(name, len(s_rows) > 0, f"{len(s_rows)} rows, no oracle")
    d_cols, d_rows = oracle_side
    if s_cols != d_cols:
        return Check(name, False, f"columns {s_cols} vs {d_cols}")
    if len(s_rows) != len(d_rows):
        return Check(name, False, f"rows {len(s_rows)} vs {len(d_rows)}")
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            return Check(name, False, f"row {i}: {a} vs {b}")
    return Check(name, True, f"{len(s_rows)} rows match the oracle")


def verify_queries(ctx: Context, results: dict[str, Any]) -> list[Check]:
    """Each kept DataFrame against its DuckDB oracle through the corpus's
    canonicalizer (``tests/oracle_utils.py``)."""
    from dbt_meshify_spark.queries import ORACLES
    from tests.oracle_utils import canon_duck, canon_spark

    checks = []
    with duck_connection(ctx.data_dir) as con:
        for name, df in results.items():
            try:
                oracle = canon_duck(con, ORACLES[name]) if name in ORACLES else None
                checks.append(compare_rows(name, canon_spark(df), oracle))
            except Exception as e:  # noqa: BLE001 - any error is a failed check
                checks.append(Check(name, False, f"{type(e).__name__}: {e}"))
    return checks


# -- dbt_build -----------------------------------------------------------------

DBT_FIXTURE = os.path.join("tests", "fixtures", "tpch_proj")
DBT_MODELS = 9
DBT_TESTS = 13


def dbt_ops(ctx: Context) -> list[Op]:
    from dbt_meshify_spark.project import ProjectRunner, SparkProject

    fixture = os.path.join(ctx.root, DBT_FIXTURE)
    n = ctx.extras.get("dbt_cycle", 0)
    ctx.extras["dbt_cycle"] = n + 1
    warehouse = os.path.join(ctx.work, f"warehouse-{n}")
    ctx.extras["warehouse"] = warehouse

    def build(full_refresh: bool):
        def run(project):
            runner = ProjectRunner(ctx.spark, project, warehouse_dir=warehouse)
            return runner.build(full_refresh=full_refresh)
        return run

    def load():
        return SparkProject.load(fixture, vars={"data_dir": ctx.data_dir})

    return [Op("build_full_refresh", load, build(True), "project"),
            Op("build_incremental", load, build(False), "project")]


def verify_build(name: str, outcome) -> Check:
    result, tests = outcome
    bad = {m: s for m, s in result.statuses.items() if s != "ok"}
    passed = sum(t.passed for t in tests)
    ok = not bad and len(result.statuses) == DBT_MODELS and passed == len(tests) == DBT_TESTS
    return Check(name, ok, f"{len(result.statuses) - len(bad)}/{len(result.statuses)} "
                           f"models ok, {passed}/{len(tests)} tests pass {bad or ''}")


# -- mesh_split ----------------------------------------------------------------


def mesh_ops(ctx: Context) -> list[Op]:
    """One cycle per generated project, each on a fresh copy: four CLI
    commands, each planned from ``target/catalog.json`` with no Spark."""
    from dbt_meshify_spark import cli

    n = ctx.extras.get("mesh_cycle", 0)
    ctx.extras["mesh_cycle"] = n + 1

    def invoke(root, args):
        def run(_):
            with contextlib.redirect_stdout(io.StringIO()):
                cli.cli.main(args=args + ["--project-path", root], standalone_mode=False)
            return root
        return run

    ops = []
    for i, spec in enumerate(ctx.extras["projects"]):
        root = os.path.join(ctx.work, f"mesh-{n}-{i}")
        shutil.copytree(spec["src"], root)
        sel = spec["selections"]
        commands = {
            "split": ["split", sel["split_name"], "--select", sel["split_select"],
                      "--read-catalog"],
            # The ``group`` command derives its contracts' schemas with Spark;
            # its two halves as single operations take them from the catalog.
            "group": ["operation", "create-group", sel["group_name"],
                      "--select", sel["group_select"], "--owner-name", "perfbench"],
            "contract": ["operation", "add-contract", "--read-catalog",
                         "--select", sel["group_select"]],
            "version": ["version", "--select", " ".join(sel["version_select"])],
        }
        ops += [Op(f"{step}:{i}", lambda: None, invoke(root, args), "plans")
                for step, args in commands.items()]
    return ops


def _logical_models(project) -> set[str]:
    """Model names, without the per-version file resources (``<name>_v<n>``)
    the loader keeps next to a versioned model."""
    models = project.manifest.models.values()
    names = {r.name for r in models}
    return names - {r.name for r in models if r.version is not None
                    and r.name.endswith(f"_v{r.version}")
                    and r.name.rsplit("_v", 1)[0] in names}


def verify_mesh(spec: dict, root: str, i: int) -> list[Check]:
    """Project ``i`` after its cycle: parent and subproject reload; together
    they hold exactly the generated models; the subproject reads nothing
    from the parent (no project cycle); every parent ref to a moved model
    names the subproject; the group is declared over the selected models,
    each with an enforced contract; the new versions are declared."""
    import yaml

    from dbt_meshify_spark.project.loader import SparkProject

    sel = spec["selections"]
    split, group, version = f"split:{i}", f"group:{i}", f"version:{i}"
    checks = []
    try:
        parent = SparkProject.load(root)
        sub = SparkProject.load(os.path.join(root, sel["split_name"]))
    except Exception as e:  # noqa: BLE001
        return [Check(split, False, f"reload failed: {type(e).__name__}: {e}")]
    p_names, s_names = _logical_models(parent), _logical_models(sub)
    moved = set(sel["split_models"])
    checks.append(Check(
        split,
        s_names == moved and not (p_names & s_names)
        and p_names | s_names == set(spec["graph"]["models"]),
        f"{len(p_names)} parent + {len(s_names)} moved models",
    ))
    back_refs = [p for p in Path(sub.root, "models").rglob("*.sql")
                 if f"ref('{parent.name}'" in p.read_text()]
    checks.append(Check(split, not back_refs, f"subproject refs to the parent: {len(back_refs)}"))
    unqualified = re.compile(r"ref\(\s*'(%s)'\s*\)" % "|".join(map(re.escape, moved)))
    stale = [p.name for p in Path(root, "models").rglob("*.sql")
             if unqualified.search(p.read_text())]
    checks.append(Check(split, not stale, f"unqualified refs to moved models: {stale[:3]}"))
    groups = yaml.safe_load(Path(root, "models", "_groups.yml").read_text()) or {}
    members = [r for r in parent.manifest.models.values() if r.group == sel["group_name"]]
    wanted = {p.stem for p in Path(root, sel["group_select"].split(":", 1)[1]).glob("*.sql")}
    checks.append(Check(
        group,
        any(g.get("name") == sel["group_name"] for g in groups.get("groups", []))
        and bool(wanted) and {r.name for r in members} == wanted,
        f"group declared with {len(members)} of {len(wanted)} models"))
    uncontracted = [r.name for r in members
                    if not ((r.config.get("contract") or {}).get("enforced") and r.columns)]
    checks.append(Check(f"contract:{i}", not uncontracted,
                        f"group members without an enforced contract: {uncontracted[:3]}"))
    versioned = {r.name for r in parent.manifest.models.values() if r.version is not None}
    missing = set(sel["version_select"]) - versioned
    checks.append(Check(version, not missing, f"unversioned: {sorted(missing)}"))
    return checks
