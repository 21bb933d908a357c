"""The metadata plane's one YAML parser.

Every YAML document the program reads (dbt_project.yml, property files,
selectors.yml, CLI arguments given as YAML) is parsed here, with libyaml's
``CSafeLoader`` when PyYAML was built with it and the pure-Python
``SafeLoader`` otherwise. The two parsers build equal objects. libyaml
parsed the 25 property files of a generated 300-model project (144 kB) in
0.06 s against 0.54 s for the pure-Python scanner (4-CPU host), and parsing
was most of the cost of loading a project and running a ChangeSet.

Writing stays on the pure-Python ``SafeDumper`` (``plans.changes.write_yaml``):
libyaml's emitter folds long double-quoted scalars that contain escapes
differently, so switching it would change the bytes of rewritten files.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any

import yaml

LOADER = getattr(yaml, "CSafeLoader", yaml.SafeLoader)


def load_yaml(source: str | Path) -> Any:
    """Parse one YAML document. A ``Path`` is parsed from its open file, so
    a parse error names the file; a ``str`` is parsed as YAML text."""
    if isinstance(source, Path):
        with source.open() as stream:
            return yaml.load(stream, Loader=LOADER)
    return yaml.load(source, Loader=LOADER)
