"""Seeded generator for the ``mesh_split`` dbt project.

The project is layered the way a warehouse project grows: ``N_DOMAINS``
domains, each with a raw source, staging models that read one source table,
intermediate models that join staging and earlier intermediate models, and
marts over the intermediates. About one edge in ten crosses into another
domain's staging layer. Models live in ``models/<domain>/<layer>/``; each
directory has multi-entry property files of up to ``PER_YML`` models with
column docs and ``unique``/``not_null`` tests on the key. A
``target/catalog.json`` carries every model's column types, so the CLI can
plan contracts with ``--read-catalog`` and no Spark session.

The same seed writes a byte-identical tree. ``plan_selections`` derives the
seeded split/group/version selections from the generated graph.
"""

from __future__ import annotations

import json
import os
import random

import yaml

PROJECT = "mesh_bench"
N_DOMAINS = 6
PER_YML = 25          # models per property file
N_VERSIONED = 4
_LAYERS = ("staging", "intermediate", "marts")
_LAYER_SHARE = (0.4, 0.35, 0.25)
_PREFIX = {"staging": "stg", "intermediate": "int", "marts": "fct"}
_TYPES = ("bigint", "string", "double", "date", "boolean", "timestamp")


def _columns(rng: random.Random, name: str) -> list[tuple[str, str]]:
    cols = [(f"{name}_id", "bigint")]
    for k in range(rng.randint(3, 7)):
        cols.append((f"c{k}_{rng.choice(('amt', 'cd', 'nm', 'dt', 'flag'))}",
                     rng.choice(_TYPES)))
    return cols


def generate(root: str, seed: int, n_models: int) -> dict:
    """Write the project under ``root``; returns its graph description:
    ``{"models": {name: {"domain", "layer", "parents"}}, "sources": [...]}``."""
    rng = random.Random(seed)
    per_domain = max(len(_LAYERS), n_models // N_DOMAINS)
    graph: dict[str, dict] = {}
    sources: list[tuple[str, str]] = []
    by_dl: dict[tuple[int, str], list[str]] = {}
    counts = [max(1, round(per_domain * s)) for s in _LAYER_SHARE]
    for layer, n in zip(_LAYERS, counts):
        for d in range(N_DOMAINS):
            names = by_dl.setdefault((d, layer), [])
            for i in range(n):
                name = f"{_PREFIX[layer]}_d{d}_{i:04d}"
                if layer == "staging":
                    src = ("raw_d%d" % d, "t%04d" % i)
                    sources.append(src)
                    parents = [("source",) + src]
                else:
                    pool = list(by_dl[(d, "staging")])
                    if layer == "marts":
                        pool = by_dl[(d, "intermediate")] + pool[: len(pool) // 4]
                    else:
                        pool = pool + names[:i]
                    k = min(len(pool), rng.randint(1, 3))
                    picks = rng.sample(pool, k)
                    if rng.random() < 0.1:
                        other = rng.choice([x for x in range(N_DOMAINS) if x != d])
                        picks.append(rng.choice(by_dl[(other, "staging")]))
                    parents = [("ref", p) for p in dict.fromkeys(picks)]
                names.append(name)
                graph[name] = {
                    "domain": d, "layer": layer, "parents": parents,
                    "columns": _columns(rng, name),
                }

    _write(os.path.join(root, "dbt_project.yml"), yaml.safe_dump({
        "name": PROJECT, "version": "1.0", "config-version": 2,
        "model-paths": ["models"],
        "models": {PROJECT: {"+materialized": "view"}},
    }, sort_keys=False))
    for d in range(N_DOMAINS):
        tables = [t for s, t in sources if s == f"raw_d{d}"]
        _write(os.path.join(root, "models", f"d{d}", "staging", "_sources.yml"),
               yaml.safe_dump({"version": 2, "sources": [{
                   "name": f"raw_d{d}", "schema": f"raw_d{d}",
                   "tables": [{"name": t} for t in tables],
               }]}, sort_keys=False))
    for (d, layer), names in sorted(by_dl.items()):
        model_dir = os.path.join(root, "models", f"d{d}", layer)
        for name in names:
            _write(os.path.join(model_dir, f"{name}.sql"), _sql(name, graph[name]))
        for chunk in range(0, len(names), PER_YML):
            entries = [_props(n, graph[n]) for n in names[chunk:chunk + PER_YML]]
            _write(os.path.join(model_dir, f"_{layer}_{chunk // PER_YML:02d}.yml"),
                   yaml.safe_dump({"version": 2, "models": entries}, sort_keys=False))
    catalog = {"metadata": {"generated_by": "perfbench.meshgen"}, "nodes": {
        name: {"columns": dict(info["columns"])} for name, info in sorted(graph.items())
    }}
    _write(os.path.join(root, "target", "catalog.json"),
           json.dumps(catalog, indent=1, sort_keys=True))
    return {"models": {n: {k: v for k, v in g.items() if k != "columns"}
                       for n, g in graph.items()},
            "sources": sources}


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def _sql(name: str, info: dict) -> str:
    key = f"{name}_id"
    others = [c for c, _ in info["columns"][1:]]
    rels = []
    for p in info["parents"]:
        if p[0] == "source":
            rels.append(f"{{{{ source('{p[1]}', '{p[2]}') }}}}")
        else:
            rels.append(f"{{{{ ref('{p[1]}') }}}}")
    lines = [f"select p0.id as {key}"]
    lines += [f"  , p0.{c} as {c}" for c in others]
    lines.append(f"from {rels[0]} p0")
    for i, rel in enumerate(rels[1:], start=1):
        lines.append(f"left join {rel} p{i} on p{i}.id = p0.id")
    return "\n".join(lines) + "\n"


def _props(name: str, info: dict) -> dict:
    key = f"{name}_id"
    cols = []
    for c, t in info["columns"]:
        entry = {"name": c, "description": f"{c} of {name}"}
        if c == key:
            entry["tests"] = ["unique", "not_null"]
        cols.append(entry)
    return {"name": name,
            "description": f"{info['layer']} model {name} in domain d{info['domain']}",
            "columns": cols}


def ancestors(graph: dict, name: str) -> set[str]:
    """``name`` and every model it reads, transitively."""
    seen, stack = set(), [name]
    while stack:
        n = stack.pop()
        if n in seen:
            continue
        seen.add(n)
        stack.extend(p[1] for p in graph["models"][n]["parents"] if p[0] == "ref")
    return seen


def plan_selections(graph: dict, seed: int) -> dict:
    """Seeded selections over three distinct domains: an ancestor-closed
    split (``+<mart>``, never a project cycle), a group over another
    domain's intermediate layer, and versions for marts of a third domain
    that the split does not move. The split's mart is drawn from the few
    whose work (models moved plus models left behind that read them) is
    closest to the median, so every seed plans a split of similar size."""
    rng = random.Random(seed * 7919 + 1)
    models = graph["models"]
    readers: dict[str, set[str]] = {}
    for name, m in models.items():
        for p in m["parents"]:
            if p[0] == "ref":
                readers.setdefault(p[1], set()).add(name)

    def work(mart: str) -> int:
        moved = ancestors(graph, mart)
        return len(moved) + len({r for n in moved for r in readers.get(n, ())} - moved)

    marts = sorted((work(n), n) for n, m in models.items() if m["layer"] == "marts")
    target = marts[len(marts) // 2][0]
    nearest = sorted(marts, key=lambda wn: (abs(wn[0] - target), wn[1]))
    mart = rng.choice(nearest[:max(3, len(marts) // 20)])[1]
    moved = ancestors(graph, mart)
    split_dom = models[mart]["domain"]
    group_dom, version_dom = rng.sample(
        [d for d in range(N_DOMAINS) if d != split_dom], 2)
    versioned = sorted(n for n, m in models.items() if m["domain"] == version_dom
                       and m["layer"] == "marts" and n not in moved)
    return {
        "split_name": f"sub_d{split_dom}",
        "split_select": f"+{mart}",
        "split_models": sorted(moved),
        "group_name": f"grp_d{group_dom}",
        "group_select": f"path:models/d{group_dom}/intermediate",
        "version_select": sorted(rng.sample(versioned, min(N_VERSIONED, len(versioned)))),
    }
