"""The package's option surface: the environment variables it reads.

Every knob is a code path someone has to keep working, so a new one
needs an explicit decision: add it to ``ALLOWED`` with its reason, or
keep the arm that won its A/B and delete the other.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "kompactor_spark"

ALLOWED = {
    "SPARK_GRAFT_CPUS",  # local[N] master of get_spark
    "SPARK_GRAFT_DRIVER_MEM",  # driver heap of get_spark
    "SPARK_GRAFT_SF_DIR",  # default TPC-H/events data directory
    "KOMPACTOR_DIM_BROADCAST",  # deployment setting: force | auto dim broadcast
}


def _env_reads(path: pathlib.Path):
    """Names read through ``os.environ`` / ``os.getenv`` in one file; a
    read whose name is not a string literal yields ``<file:line>``."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        ident = getattr(node, "attr", None) or getattr(node, "id", None)
        if ident not in ("environ", "getenv"):
            continue
        fn, use = node, parents[node]
        if ident == "environ" and isinstance(use, ast.Attribute) and use.attr == "get":
            fn, use = use, parents[use]  # os.environ.get(...)
        if isinstance(use, ast.Call) and use.func is fn and use.args:
            key = use.args[0]
        elif isinstance(use, ast.Subscript):  # os.environ[...]
            key = use.slice
        elif isinstance(use, ast.Compare):  # "..." in os.environ
            key = use.left
        else:
            key = None
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield key.value
        else:
            yield f"<{path.relative_to(PKG.parent)}:{node.lineno}>"


def test_env_knobs_are_exactly_the_allowed_set():
    read = {name for p in sorted(PKG.rglob("*.py")) for name in _env_reads(p)}
    assert read == ALLOWED
