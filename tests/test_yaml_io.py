"""YAML I/O of the metadata plane: the one parse helper, parse-error
messages, and byte parity of what the governance commands write.

The parity golden below is the SHA-256 of the file tree left by a fixed
sequence of CLI commands on a copy of ``tests/fixtures/tpch_proj``. It was
recorded when every resource change re-read and re-wrote its file and every
parse used the pure-Python scanner; any change to how property files are
read, buffered or dumped must leave it unchanged.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import pytest
import yaml
from click.testing import CliRunner

from dbt_meshify_spark.cli import cli
from dbt_meshify_spark.project.loader import SparkProject
from dbt_meshify_spark.yamlio import LOADER, load_yaml

FIXTURES = Path(__file__).parent / "fixtures"
TPCH = FIXTURES / "tpch_proj"

# Long, with unicode and a tab: PyYAML's pure-Python emitter and libyaml's
# fold such double-quoted scalars differently, so this pins the dumper.
_LONG_DESCRIPTION = (
    "Staged customers — one row per customer key, carrying the market"
    "\tsegment and name; ünïcödé names are kept verbatim"
    " from the source table."
)

_PARITY_SHA256 = "9668374085747e2a9b733b7f34ea03ff096321d43625c967a7960b62f2705b1e"


def _tree_sha256(root: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        h.update(f.relative_to(root).as_posix().encode() + b"\0")
        h.update(f.read_bytes() + b"\0")
    return h.hexdigest()


def _parity_project(tmp_path: Path) -> Path:
    root = tmp_path / "tpch_proj"
    shutil.copytree(TPCH, root)
    props = root / "models/staging/__models.yml"
    text = props.read_text()
    props.write_text(text.replace(
        "  - name: stg_customers\n",
        "  - name: stg_customers\n    description: "
        + json.dumps(_LONG_DESCRIPTION, ensure_ascii=False) + "\n",
    ))
    cols = {"customer_id": "bigint", "customer_name": "string",
            "market_segment": "string"}
    nodes = {name: {"columns": cols} for name in (
        "stg_customers", "stg_orders", "stg_lineitems", "customers_mart",
        "orders_mart", "order_items_summary", "status_names", "order_gaps")}
    (root / "target").mkdir()
    (root / "target/catalog.json").write_text(json.dumps({"nodes": nodes}, sort_keys=True))
    return root


def _run_parity_commands(root: Path) -> None:
    runner = CliRunner()
    for args in (
        ["split", "staging_proj", "--select", "+stg_orders", "--read-catalog"],
        ["operation", "create-group", "customers", "--select", "stg_customers",
         "customers_mart", "--owner-name", "crm"],
        ["operation", "add-contract", "--read-catalog", "--select", "stg_customers",
         "customers_mart"],
        ["version", "--select", "status_names"],
    ):
        result = runner.invoke(cli, args + ["--project-path", str(root)])
        assert result.exit_code == 0, (args, result.output)


def test_governance_commands_write_the_golden_tree(tmp_path):
    root = _parity_project(tmp_path)
    _run_parity_commands(root)
    # the long description was rewritten, folded by the pure-Python emitter
    assert "market\\tsegment" in (root / "models/staging/__models.yml").read_text()
    assert _tree_sha256(root) == _PARITY_SHA256


def test_helper_parses_fixtures_like_safe_loader():
    files = sorted(p for p in FIXTURES.rglob("*") if p.suffix in (".yml", ".yaml"))
    assert len(files) >= 5
    for f in files:
        assert load_yaml(f) == yaml.load(f.read_text(), Loader=yaml.SafeLoader), f
        assert load_yaml(f.read_text()) == load_yaml(f), f


def test_helper_uses_libyaml_when_built_with_it():
    if yaml.__with_libyaml__:
        assert LOADER is yaml.CSafeLoader
    else:
        assert LOADER is yaml.SafeLoader


def test_malformed_property_file_error_names_the_file(tmp_path):
    root = tmp_path / "proj"
    (root / "models").mkdir(parents=True)
    (root / "dbt_project.yml").write_text("name: proj\n")
    (root / "models/a.sql").write_text("select 1 as id\n")
    bad = root / "models/_m.yml"
    bad.write_text("version: 2\nmodels:\n  - name: a\n   access: [\n")
    with pytest.raises(yaml.YAMLError) as exc:
        SparkProject.load(root)
    assert str(bad) in str(exc.value)


def test_named_resources_find_refs_that_need_quoting(tmp_path):
    root = tmp_path / "proj"
    (root / "models").mkdir(parents=True)
    (root / "dbt_project.yml").write_text("name: proj\n")
    (root / "models/orders.sql").write_text("select 1 as id\n")
    (root / "models/_m.yml").write_text(
        "version: 2\n"
        "semantic_models:\n"
        "  - name: orders_sm\n"
        "    model: \"{{ ref('orders') }}\"\n"
        "exposures:\n"
        "  - name: board\n"
        "    depends_on:\n"
        "      - \"- ref('orders')\"\n"
    )
    manifest = SparkProject.load(root).manifest
    for uid in ("semantic_model.proj.orders_sm", "exposure.proj.board"):
        assert manifest.get(uid).depends_on == ["model.proj.orders"], uid
