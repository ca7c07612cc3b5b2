"""The package's option surface: the environment variables it reads,
the compaction planner's parameters, the CLI's flags and the lake entry
points' parameters.

Every knob is a code path someone has to keep working, so a new one
needs an explicit decision: add it here with its reason, or keep the
arm that won its A/B and delete the other. The lake's format facts
(the ``time`` column, zstd, 100,000-row row groups) and the planner's
size policy (the 130 MiB split cutoff, the 70/30 split) are constants,
not options.
"""

from __future__ import annotations

import ast
import inspect
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


def test_planner_takes_no_policy_parameter():
    """D1-D3 are ``planner`` constants; the generation window (D4) is the
    caller's cutoff, as the hour pass's is."""
    from kompactor_spark.compaction import CompactionJob, compute_split_cuts, plan_generation

    def params(fn):
        return list(inspect.signature(fn).parameters)

    assert params(CompactionJob) == ["spark", "data_dir", "hosts", "dry_run"]
    assert params(CompactionJob.run_generation) == ["self", "before_ns"]
    assert params(plan_generation) == ["host", "manifest", "before_ns"]
    assert params(compute_split_cuts) == ["min_time", "max_time", "total_bytes"]


CLI_FLAGS = {
    "-h", "--help", "--hosts", "--dry-run", "--verbose",
    "--generation", "--now-ns", "--time-window-hours", "--bootstrap",
    "--fsck", "--retention-cutoff-ns", "--expire-snapshots",
    "--ingest-source", "--ingest-format", "--auto-compact", "--grace-ns",
    "--checkpoint", "--max-files-per-trigger", "--db", "--table",
    "--export-zorder", "--zorder-cols", "--zorder-files",
    "--export-rollup", "--rollup-value-col", "--rollup-key-cols",
    "--skew-report",
}


def test_cli_flags_are_exactly_the_pinned_set():
    from kompactor_spark.cli import build_parser

    assert {s for a in build_parser()._actions for s in a.option_strings} == CLI_FLAGS


def test_lake_entry_points_take_no_format_options():
    from kompactor_spark.compaction import CompactionJob
    from kompactor_spark.compaction.fsck import fsck_host
    from kompactor_spark.compaction.metadata import ParquetFileInfo, adopt, footer_time_stats
    from kompactor_spark.compaction.writer import land, staged_write
    from kompactor_spark.streaming.ingest import IngestJob

    for fn in (CompactionJob, IngestJob, fsck_host, adopt, staged_write, land, ParquetFileInfo.from_file, footer_time_stats):
        assert "time_col" not in inspect.signature(fn).parameters, fn.__qualname__
    assert list(inspect.signature(staged_write).parameters) == ["df", "key", "data_dir", "host"]
