"""Retention (TTL) pruning: catalog-first commit, whole-file expiry,
idempotence, fsck-clean aftermath. Pure driver-side — no Spark session
needed (the planner/commit path is metadata + unlink, by design)."""

from __future__ import annotations

import os

from kompactor_spark.compaction.fsck import fsck_host
from kompactor_spark.compaction.metadata import read_snapshot
from kompactor_spark.compaction.retention import enforce_retention

from tests.fixtures_compaction import BASE_NS, HOST, NS, basic_hour, multi_hour


def _hour_start(hour: int) -> int:
    return (BASE_NS // (3600 * NS) + hour) * 3600 * NS


def _snap(root: str):
    return read_snapshot(os.path.join(root, HOST, "snapshots", "0001.info.json"))


def test_retention_dry_run_touches_nothing(tmp_path):
    root = str(tmp_path)
    b = multi_hour(root)
    before = {f.path for _, _, f in _snap(root).all_files()}
    [rep] = enforce_retention(root, [HOST], cutoff_ns=_hour_start(12), dry_run=True)
    assert rep.dry_run and len(rep.pruned_paths) == 3  # hours 10 (1 file) + 11 (2)
    assert {f.path for _, _, f in _snap(root).all_files()} == before
    for e in b.files:
        assert os.path.exists(os.path.join(root, e["info"]["path"]))


def test_retention_prunes_expired_catalog_first(tmp_path):
    root = str(tmp_path)
    b = multi_hour(root)
    cutoff = _hour_start(12)
    [rep] = enforce_retention(root, [HOST], cutoff_ns=cutoff)
    assert len(rep.pruned_paths) == 3 and not rep.missing
    # catalog: only unexpired entries remain, totals recomputed exactly
    meta = _snap(root)
    remaining = [f for _, _, f in meta.all_files()]
    assert len(remaining) == 4
    assert all(f.max_time >= cutoff for f in remaining)
    assert meta.row_count == sum(f.row_count for f in remaining)
    # disk: expired gone (and their empty hour dirs), survivors intact
    for e in b.files:
        expired = e["info"]["max_time"] < cutoff
        assert os.path.exists(os.path.join(root, e["info"]["path"])) != expired
    assert not os.path.isdir(os.path.join(root, HOST, "dbs", "db-0", "table-3", "2025-01-26", "10-00"))
    # catalog <-> disk integrity holds after the prune
    assert fsck_host(root, HOST).ok


def test_retention_idempotent_and_straddling_kept(tmp_path):
    root = str(tmp_path)
    multi_hour(root)
    # cutoff inside hour 12's data: straddling files are kept whole
    mid_hour_12 = _hour_start(12) + 1000 * NS
    [rep1] = enforce_retention(root, [HOST], cutoff_ns=mid_hour_12)
    kept = {f.path for _, _, f in _snap(root).all_files()}
    assert all("12-00" in p for p in kept) and kept  # hour-12 files survive
    [rep2] = enforce_retention(root, [HOST], cutoff_ns=mid_hour_12)
    assert rep2.pruned_paths == [] and {f.path for _, _, f in _snap(root).all_files()} == kept


def test_full_expiry_keeps_dbs_and_compaction_runs(spark, tmp_path):
    """Expiring every file empties the lake but keeps ``<host>/dbs``, so
    the next compaction run finds its required dirs and does nothing."""
    from kompactor_spark.compaction import CompactionJob

    root = str(tmp_path)
    basic_hour(root)
    [rep] = enforce_retention(root, [HOST], cutoff_ns=2**62)
    assert len(rep.pruned_paths) == 3
    assert os.listdir(os.path.join(root, HOST, "dbs")) == []
    [report] = CompactionJob(spark, root, [HOST]).run()
    assert report.planned_groups == report.compacted_groups == 0 and report.results == []
    assert fsck_host(root, HOST).ok


def test_cli_retention_flag(spark, tmp_path, capsys):
    """CLI: --retention-cutoff-ns drives enforce_retention and honors
    --dry-run."""
    from kompactor_spark.cli import main

    root = str(tmp_path)
    multi_hour(root)
    cutoff = _hour_start(12)
    rc = main([root, "--hosts", HOST, "--retention-cutoff-ns", str(cutoff), "--dry-run"], spark=spark)
    assert rc == 0 and "dry-run 3/7" in capsys.readouterr().out
    assert len([f for _, _, f in _snap(root).all_files()]) == 7
    rc = main([root, "--hosts", HOST, "--retention-cutoff-ns", str(cutoff)], spark=spark)
    assert rc == 0
    assert len([f for _, _, f in _snap(root).all_files()]) == 4


def test_retention_properties_any_cutoff(tmp_path_factory):
    """Property (P6): for ANY cutoff, pruned ∪ kept partitions the file
    set exactly by the max_time predicate, a re-run is a no-op, and the
    catalog stays fsck-consistent. Driver-only — sweeps cutoffs over
    the layout's whole time range including both boundary epochs."""
    root = str(tmp_path_factory.mktemp("ret"))
    multi_hour(root)
    all_files = {f.path: f.max_time for _, _, f in _snap(root).all_files()}
    times = sorted(set(all_files.values()))
    cutoffs = [times[0], times[-1] + 1, (times[0] + times[-1]) // 2, times[len(times) // 2]]
    for cutoff in cutoffs:
        r = str(tmp_path_factory.mktemp(f"c{cutoff % 997}"))
        multi_hour(r)
        [rep] = enforce_retention(r, [HOST], cutoff_ns=cutoff)
        expect_pruned = {p for p, mx in all_files.items() if mx < cutoff}
        assert set(rep.pruned_paths) == expect_pruned
        kept = {f.path for _, _, f in read_snapshot(os.path.join(r, HOST, "snapshots", "0001.info.json")).all_files()}
        assert kept == set(all_files) - expect_pruned
        assert fsck_host(r, HOST).ok
        [rep2] = enforce_retention(r, [HOST], cutoff_ns=cutoff)
        assert rep2.pruned_paths == []
