"""The seeded mesh_split project generator and the mesh verification."""

from __future__ import annotations

import filecmp
import re
from pathlib import Path

import networkx as nx
import pytest

from dbt_meshify_spark.plans.graph import is_project_cycle
from dbt_meshify_spark.plans.splitter import build_subproject
from dbt_meshify_spark.project.loader import SparkProject
from perfbench import meshgen
from perfbench import workloads as W
from perfbench.driver import tally

N_MODELS = 150


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


def test_same_seed_writes_a_byte_identical_tree(tmp_path):
    meshgen.generate(str(tmp_path / "a"), 5, n_models=N_MODELS)
    meshgen.generate(str(tmp_path / "b"), 5, n_models=N_MODELS)
    a, b = _tree(tmp_path / "a"), _tree(tmp_path / "b")
    assert a and a == b
    assert not filecmp.dircmp(tmp_path / "a", tmp_path / "b").diff_files


def test_another_seed_gives_another_dag(tmp_path):
    g1 = meshgen.generate(str(tmp_path / "a"), 5, n_models=N_MODELS)
    g2 = meshgen.generate(str(tmp_path / "b"), 6, n_models=N_MODELS)
    edges = lambda g: {(n, p[1]) for n, m in g["models"].items()  # noqa: E731
                       for p in m["parents"] if p[0] == "ref"}
    assert set(g1["models"]) == set(g2["models"])
    assert edges(g1) != edges(g2)


def test_generated_project_loads_and_is_acyclic(tmp_path):
    graph = meshgen.generate(str(tmp_path), 7, n_models=N_MODELS)
    project = SparkProject.load(tmp_path)
    assert {r.name for r in project.manifest.models.values()} == set(graph["models"])
    assert nx.is_directed_acyclic_graph(project.manifest.graph())
    assert (tmp_path / "target" / "catalog.json").exists()
    # every model has a property-file entry with its columns
    assert all(r.patch_path and r.columns for r in project.manifest.models.values())


@pytest.mark.parametrize("seed", range(6))
def test_seeded_selections_are_non_empty_and_splittable(tmp_path, seed):
    graph = meshgen.generate(str(tmp_path), seed, n_models=N_MODELS)
    sel = meshgen.plan_selections(graph, seed)
    project = SparkProject.load(tmp_path)
    sub = build_subproject(project, sel["split_name"], sel["split_select"])
    moved = {project.manifest.get(u).name for u in sub.resources if u.startswith("model.")}
    assert moved == set(sel["split_models"]) and moved
    assert not is_project_cycle(project.manifest, sub.resources)
    assert sel["version_select"]
    assert not set(sel["version_select"]) & moved
    group_dir = tmp_path / sel["group_select"].split(":", 1)[1]
    assert any(group_dir.glob("*.sql"))


def _mesh_cycle(tmp_path, seed=3) -> tuple[dict, str]:
    src = tmp_path / "src"
    graph = meshgen.generate(str(src), seed, n_models=N_MODELS)
    spec = {"src": str(src), "graph": graph, "selections": meshgen.plan_selections(graph, seed)}
    ctx = W.Context(root=str(Path(__file__).parents[2]), work=str(tmp_path),
                    extras={"projects": [spec]})
    ops = W.mesh_ops(ctx)
    assert [op.name for op in ops] == ["split:0", "group:0", "contract:0", "version:0"]
    for op in ops:
        root = op.action(op.build())
    return spec, root


def test_mesh_cycle_verifies(tmp_path):
    spec, root = _mesh_cycle(tmp_path)
    checks = W.verify_mesh(spec, root, 0)
    assert checks and all(c.ok for c in checks), checks


def test_a_corrupted_split_counts_as_a_failure(tmp_path):
    spec, root = _mesh_cycle(tmp_path)
    qualified = re.compile(r"ref\('%s', '(\w+)'\)" % spec["selections"]["split_name"])
    for path in Path(root, "models").rglob("*.sql"):
        text = path.read_text()
        if qualified.search(text):
            path.write_text(qualified.sub(r"ref('\1')", text, count=1))
            break
    else:
        pytest.fail("no project-qualified ref to corrupt")
    checks = W.verify_mesh(spec, root, 0)
    assert not all(c.ok for c in checks)
    records = [{"op": f"{name}:0", "ok": True}
               for name in ("split", "group", "contract", "version")]
    assert tally(records, checks) == (4, 1, {"split:0"})
