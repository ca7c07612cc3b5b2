"""Compaction golden + property tests (SURVEY §5.3, FIXTURES.md §2).

Invariants on every scenario: P1 idempotence, P2 row conservation per
(db, table), P3 per-file time-sortedness + footer/metadata agreement,
P4 catalog↔disk integrity, P5 grouping isolation.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq
import pytest

from kompactor_spark.compaction import CompactionJob, planner
from kompactor_spark.compaction.metadata import read_snapshot

from tests import fixtures_compaction as FX


def run_job(spark, root, **kw):
    job = CompactionJob(spark, root, [FX.HOST], **kw)
    return job.run()[0]


def catalog_files(root):
    out = []
    for sp in sorted(glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json"))):
        snap = read_snapshot(sp)
        for db_id, table_id, f in snap.all_files():
            out.append((sp, db_id, table_id, f))
    return out


def disk_parquets(root):
    return {
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, FX.HOST, "dbs", "**", "*.parquet"), recursive=True)
    }


def assert_invariants(root):
    """P3 + P4 over the current layout."""
    entries = catalog_files(root)
    on_disk = disk_parquets(root)
    cataloged = {f.path for _, _, _, f in entries}
    # P4: every catalog path exists; no orphan data files
    assert cataloged <= on_disk, f"dangling catalog entries: {cataloged - on_disk}"
    assert on_disk <= cataloged, f"orphaned files: {on_disk - cataloged}"
    # P3: each file time-sorted; footer min/max == metadata min/max
    for _, _, _, f in entries:
        t = pq.read_table(os.path.join(root, f.path), columns=["time"]).column("time").to_pylist()
        assert t == sorted(t), f"not time-sorted: {f.path}"
        if t:
            assert (min(t), max(t)) == (f.min_time, f.max_time), f"stat mismatch: {f.path}"
            assert len(t) == f.row_count


def rows_by_table(root):
    """P2 helper: multiset of rows per (db, table) via DuckDB."""
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")  # spill outside the repo (ADVICE r9)
    out = {}
    for p in sorted(disk_parquets(root)):
        parts = p.split("/")
        key = (parts[2], parts[3])
        rows = con.execute(f"SELECT * FROM read_parquet('{os.path.join(root, p)}') ORDER BY time, f_int, f_str").fetchall()
        out.setdefault(key, []).append(rows)
    con.close()
    return {k: sorted(sum(v, [])) for k, v in out.items()}


SCENARIOS = {
    "basic_hour": FX.basic_hour,
    "multi_hour": FX.multi_hour,
    "multi_table": FX.multi_table,
    "recompact": FX.recompact,
    "overlapping_snapshots": FX.overlapping_snapshots,
    "ns_precision": FX.ns_precision,
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_scenario(spark, tmp_path, name):
    root = str(tmp_path / name)
    SCENARIOS[name](root)
    before = rows_by_table(root)

    report = run_job(spark, root)
    assert report.compacted_groups >= 1 or name == "ns_precision"

    # P2: exact row conservation per (db, table)
    assert rows_by_table(root) == before
    assert_invariants(root)

    # P1: idempotence — second run is a no-op on merged groups
    report2 = run_job(spark, root)
    assert report2.compacted_groups == 0, "second run must be a no-op"
    assert rows_by_table(root) == before
    assert_invariants(root)


def test_basic_hour_golden(spark, tmp_path):
    """Golden: 3×50 rows → one c_0000000001_0000000003_h14.parquet,
    150 rows, matching a DuckDB replay of the reference's merge query
    (kompactor.ts:107-111)."""
    root = str(tmp_path / "golden")
    FX.basic_hour(root)
    inputs = sorted(glob.glob(os.path.join(root, FX.HOST, "dbs", "**", "*.parquet"), recursive=True))
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")  # spill outside the repo (ADVICE r9)
    expected = con.execute(
        f"SELECT * FROM read_parquet({[p for p in inputs]!r}) ORDER BY time, f_int, f_str"
    ).fetchall()

    report = run_job(spark, root)
    assert report.compacted_groups == 1
    (out_rel,) = report.results[0].output_paths
    assert os.path.basename(out_rel) == "c_0000000001_0000000003_h14.parquet"
    actual = con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(root, out_rel)}') ORDER BY time, f_int, f_str"
    ).fetchall()
    con.close()
    assert actual == expected
    assert len(actual) == 150


def test_multi_hour_singletons_untouched(spark, tmp_path):
    root = str(tmp_path / "mh")
    FX.multi_hour(root)
    report = run_job(spark, root)
    # hour 10 has one file → untouched (kompactor.ts:213 semantics)
    assert report.skipped_singletons == 1
    assert report.compacted_groups == 2
    on_disk = disk_parquets(root)
    assert any("10-00/0000000001.parquet" in p for p in on_disk)


def test_multi_table_isolation(spark, tmp_path):
    """P5: distinct (db, table) never co-merge (B5 fixed)."""
    root = str(tmp_path / "mt")
    FX.multi_table(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 3
    keys = {r.key[1:3] for r in report.results}
    assert keys == {("db-0", "table-3"), ("db-0", "table-4"), ("db-1", "table-7")}
    # one commit, placed per group: each output sits under its own
    # (db, table) and nowhere else
    entries = sorted((db, table, f.path) for _, db, table, f in catalog_files(root))
    assert [e[:2] for e in entries] == [(0, 3), (0, 4), (1, 7)]
    assert all(f"/db-{db}/table-{table}/" in p and "/c_" in p for db, table, p in entries)


def test_recompact_picks_up_compacted(spark, tmp_path):
    root = str(tmp_path / "rc")
    FX.recompact(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 1
    (out_rel,) = report.results[0].output_paths
    # first wal from the pre-existing c_ file, last from the new WALs
    assert os.path.basename(out_rel) == "c_0000000001_0000000005_h14.parquet"
    assert report.results[0].row_count == 130


def test_overlapping_snapshots_consistent(spark, tmp_path):
    """Dedup across snapshots; BOTH metadata files updated; other-hour
    entries preserved (B4 fixed)."""
    root = str(tmp_path / "ov")
    FX.overlapping_snapshots(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 1  # hour 20 is a singleton
    assert report.results[0].row_count == 90  # 3 files, deduped across snapshots
    for sp in glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json")):
        snap = read_snapshot(sp)
        paths = [f.path for _, _, f in snap.all_files()]
        assert any("c_0000000001_0000000003_h14" in p for p in paths), sp
        assert any("20-00/0000000009.parquet" in p for p in paths), f"other-hour entry dropped from {sp}"
        assert not any("14-00/000000000" in p for p in paths), f"stale compacted entry in {sp}"


def test_missing_input_skipped(spark, tmp_path):
    from kompactor_spark.compaction.fsck import fsck_host

    root = str(tmp_path / "mi")
    FX.missing_input(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 1
    assert report.results[0].dropped_missing, "ghost file should be reported"
    assert report.results[0].row_count == 60
    assert_invariants(root)  # the ghost's entry went with the merge
    assert fsck_host(root, FX.HOST).ok


def test_lone_input_group_uncatalogs_its_missing_input(spark, tmp_path):
    """An hour left with one input on disk is not merged, but the run
    still uncatalogs its missing input, so the lake is fsck-clean and
    readable after it; a dry run leaves the lake as it was."""
    from kompactor_spark.compaction.fsck import fsck_host
    from kompactor_spark.compaction.readers import read_table

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    hstart = (FX.BASE_NS // (3600 * FX.NS)) * 3600 * FX.NS
    b.add_parquet(0, 3, "2025-01-26", 14, "0000000001.parquet", FX.make_rows(30, hstart, 2000 * FX.NS, seed=1))
    b.add_metadata_entry(0, 3, {
        "path": f"{b.host}/dbs/db-0/table-3/2025-01-26/14-00/0000000002.parquet",
        "size_bytes": 1234,
        "row_count": 10,
        "chunk_time": hstart,
        "min_time": hstart,
        "max_time": hstart + 100 * FX.NS,
    })
    b.write_snapshot()
    before = _lake_bytes(root)
    dry = run_job(spark, root, dry_run=True)
    assert (dry.planned_groups, dry.compacted_groups) == (1, 0)
    assert _lake_bytes(root) == before
    report = run_job(spark, root)
    assert (report.planned_groups, report.compacted_groups) == (1, 0)
    assert fsck_host(root, FX.HOST).ok
    assert read_table(spark, root, FX.HOST, 0, 3).count() == 30
    assert_invariants(root)


def test_ns_precision_exact(spark, tmp_path):
    """B3 regression: adjacent-ns stats survive exactly."""
    root = str(tmp_path / "nsp")
    FX.ns_precision(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 1
    r = report.results[0]
    assert r.min_time == 1_737_928_861_362_000_001
    assert r.max_time == 1_737_928_861_362_000_002
    assert_invariants(root)


def test_dry_run_is_read_only(spark, tmp_path):
    """B1 fixed: dry-run plans but writes nothing."""
    root = str(tmp_path / "dry")
    FX.basic_hour(root)
    before_files = disk_parquets(root)
    before_snap = open(glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.json"))[0]).read()
    report = run_job(spark, root, dry_run=True)
    assert report.compacted_groups == 1  # planned
    assert disk_parquets(root) == before_files
    assert open(glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.json"))[0]).read() == before_snap


def test_dry_run_reports_the_split_outputs(spark, tmp_path, monkeypatch):
    """A dry run previews the outputs the real run writes, split parts
    included, and writes nothing."""
    root = str(tmp_path / "lake")
    FX.basic_hour(root)
    monkeypatch.setattr(planner, "LARGE_CUTOFF_BYTES", 5200)  # a 4000 B target + 30 %
    before = _lake_bytes(root)
    dry = run_job(spark, root, dry_run=True)
    assert _lake_bytes(root) == before
    real = run_job(spark, root)
    assert [os.path.basename(p)[-11:] for p in real.results[0].output_paths] == ["_p0.parquet", "_p1.parquet"]
    assert [r.output_paths for r in dry.results] == [r.output_paths for r in real.results]


def test_dry_run_refuses_what_the_run_refuses(spark, tmp_path):
    """An output that would overwrite an input is refused by the dry run
    as by the real run, and neither touches the lake."""
    root = str(tmp_path / "lake")
    FX.replayed_first_input(root)
    before = _lake_bytes(root)
    for dry_run in (True, False):
        with pytest.raises(RuntimeError, match="would overwrite one of its inputs"):
            run_job(spark, root, dry_run=dry_run)
        assert _lake_bytes(root) == before


# -- K2: generation (daily) level ------------------------------------------


def test_generation_merges_day(spark, tmp_path):
    """K2: after hour compaction, a day's files (h-compacted + stray
    raw singletons) merge into one c_…_g<day> file; invariants hold."""
    root = str(tmp_path / "gen")
    FX.multi_hour(root)
    before = rows_by_table(root)
    run_job(spark, root)  # hour pass: hours 11,12 → c_…_h files

    job = CompactionJob(spark, root, [FX.HOST])
    report = job.run_generation()[0]
    assert report.compacted_groups == 1
    (out_rel,) = report.results[0].output_paths
    name = os.path.basename(out_rel)
    assert name.startswith("c_0000000001_") and "_g" in name and name.endswith(".parquet")
    # day-level output sits directly under <date>/
    assert out_rel.split("/")[-2] == "2025-01-26"
    assert rows_by_table(root) == before
    assert_invariants(root)

    # P1: generation pass is idempotent
    report2 = CompactionJob(spark, root, [FX.HOST]).run_generation()[0]
    assert report2.compacted_groups == 0


def test_generation_window_gating(spark, tmp_path):
    """Days with data newer than the 24 h window are NOT compacted."""
    root = str(tmp_path / "genw")
    FX.multi_hour(root)
    run_job(spark, root)
    snaps = [read_snapshot(p) for p in glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json"))]
    max_t = max(f.max_time for s in snaps for _, _, f in s.all_files())

    job = CompactionJob(spark, root, [FX.HOST])
    window = 24 * 3600 * FX.NS
    hot = job.run_generation(before_ns=max_t + 3600 * FX.NS - window)[0]  # 1 h later: still hot
    assert hot.compacted_groups == 0
    cold = job.run_generation(before_ns=max_t + 25 * 3600 * FX.NS - window)[0]  # past the window
    assert cold.compacted_groups == 1


def test_oversized_output_splits(spark, tmp_path, monkeypatch):
    """D2/D3: projected output above the large cutoff splits 70/30 by
    time into _p<i> parts; conservation + invariants hold."""
    root = str(tmp_path / "split")
    FX.basic_hour(root)
    before = rows_by_table(root)
    monkeypatch.setattr(planner, "LARGE_CUTOFF_BYTES", 5200)  # a 4000 B target + 30 %
    report = run_job(spark, root)
    assert report.compacted_groups == 1
    outs = report.results[0].output_paths
    assert len(outs) >= 2, f"expected a split, got {outs}"
    assert all("_p" in os.path.basename(p) for p in outs)
    assert rows_by_table(root) == before
    assert_invariants(root)
    # parts cover disjoint, increasing time ranges
    metas = []
    for p in sorted(outs):
        t = pq.read_table(os.path.join(root, p), columns=["time"]).column("time").to_pylist()
        if t:
            metas.append((min(t), max(t)))
    for (lo1, hi1), (lo2, hi2) in zip(metas, metas[1:]):
        assert hi1 < lo2


def test_split_empty_part_not_cataloged(spark, tmp_path, monkeypatch):
    """A split part no row falls into (rows only at the hour's edges)
    writes no file and is not cataloged; the parts that are hold all
    40 rows in disjoint time ranges, and the lake stays fsck-clean. A
    dry run lists every planned part: the real outputs are its outputs
    without the empty parts."""
    from kompactor_spark.compaction import compute_split_cuts
    from kompactor_spark.compaction.fsck import fsck_host

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    h14 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS)
    for wal, t0 in [(1, h14), (2, h14 + 3000 * FX.NS)]:
        b.add_parquet(0, 3, "2025-01-26", 14, f"{wal:010d}.parquet",
                      FX.make_rows(20, t0, FX.NS, seed=wal))
    b.write_snapshot()
    monkeypatch.setattr(planner, "LARGE_CUTOFF_BYTES", 1300)  # a 1000 B target + 30 %
    infos = [e["info"] for e in b.files]
    cuts = compute_split_cuts(min(i["min_time"] for i in infos), max(i["max_time"] for i in infos),
                              sum(i["size_bytes"] for i in infos))
    times = [t for i in infos for t in pq.read_table(os.path.join(root, i["path"]), columns=["time"])["time"].to_pylist()]
    filled = {sum(t > c for c in cuts) for t in times}  # parts with a row: (lo, hi] bounds
    dry = run_job(spark, root, dry_run=True)
    report = run_job(spark, root)
    outs = report.results[0].output_paths
    assert len(outs) < len(cuts) + 1  # at least one part got no rows
    assert len(dry.results[0].output_paths) == len(cuts) + 1
    assert outs == [p for i, p in enumerate(dry.results[0].output_paths) if i in filled]
    parts = sorted((f for _, _, _, f in catalog_files(root) if f.path in outs), key=lambda f: f.min_time)
    assert len(parts) == len(outs) >= 2
    assert all("_p" in os.path.basename(f.path) for f in parts)
    assert all(f.row_count > 0 for f in parts)
    assert sum(f.row_count for f in parts) == report.results[0].row_count == 40
    for a, c in zip(parts, parts[1:]):
        assert a.max_time < c.min_time
    assert_invariants(root)
    assert fsck_host(root, FX.HOST).ok


def test_compute_split_cuts_unit():
    from kompactor_spark.compaction import compute_split_cuts

    # 100 MiB target, 130 MiB large cutoff
    assert compute_split_cuts(0, 1000, 50 * 1024 * 1024) == []
    cuts = compute_split_cuts(0, 1000, 200 * 1024 * 1024)
    assert cuts == [700]  # one 70/30 cut; 30% tail (60 MiB) fits
    big = compute_split_cuts(0, 10_000, 1000 * 1024 * 1024)
    assert len(big) >= 2 and big == sorted(big)


_H = FX.HOST + "/dbs/db-0/table-3/2025-01-26"


@pytest.mark.parametrize(
    "path, hour",
    [
        (f"{_H}/14-00/0000000001.parquet", "14"),  # hour level, 7 segments
        (f"{_H}/c_0000000001_0000000002_g20114.parquet", ""),  # day level, 6 segments
        ("dbs/db-0/table-3/2025-01-26/14-00/0000000001.parquet", None),  # host-relative
        (f"{FX.HOST}/dbs/db-0/2025-01-26/0000000001.parquet", None),  # 5 segments
        (f"{FX.HOST}/dbs/db-0/table-3/latest/14-00/0000000001.parquet", None),  # not a date
        (f"{_H}/14/0000000001.parquet", None),  # hour dir not HH-MM
        (f"{_H}/14-00/extra/0000000001.parquet", None),  # 8 segments
        (f"{FX.HOST}/dbs/mydb/table-3/2025-01-26/14-00/0000000001.parquet", None),  # db not db-N
    ],
)
def test_parse_group_key_grammar(path, hour):
    """The planner reads exactly the reference's path shape (D6,
    kompactor.ts:63-80) at hour or day level; anything else is not
    planned."""
    from kompactor_spark.compaction.planner import GroupKey, parse_group_key

    want = None if hour is None else GroupKey(FX.HOST, "db-0", "table-3", "2025-01-26", hour)
    assert parse_group_key(FX.HOST, path) == want


def test_group_key_builds_the_paths_it_parses():
    from kompactor_spark.compaction.planner import GroupKey, parse_group_key

    h14 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS)
    key = GroupKey.for_hour(FX.HOST, 0, 3, h14)
    assert key.dir() == f"{_H}/14-00"
    assert key.start_ns() == h14
    assert parse_group_key(FX.HOST, f"{key.dir()}/0000000001.parquet") == key


def test_day_level_files_merge_at_generation_only(spark, tmp_path):
    """Adopted files directly under <date>/ are day-level: the hour pass
    leaves them alone (no output under dbs/dbs/), and the generation pass
    merges them into one c_…_g<day> file beside them."""
    from kompactor_spark.compaction.fsck import fsck_host
    from kompactor_spark.compaction.metadata import adopt

    root = str(tmp_path)
    day_dir = os.path.join(root, FX.HOST, "dbs", "db-0", "table-0", "2025-01-26")
    os.makedirs(day_dir)
    os.makedirs(os.path.join(root, FX.HOST, "snapshots"))
    for wal in (1, 2):
        rows = FX.make_rows(20, FX.BASE_NS + wal * 100 * FX.NS, 2000 * FX.NS, seed=wal)
        pq.write_table(rows, os.path.join(day_dir, f"{wal:010d}.parquet"))
    assert len(adopt(root, FX.HOST)) == 2
    before = rows_by_table(root)

    hour = run_job(spark, root)
    assert hour.planned_groups == 0
    assert not os.path.exists(os.path.join(root, FX.HOST, "dbs", "dbs"))

    gen = CompactionJob(spark, root, [FX.HOST]).run_generation()[0]
    assert [r.output_paths for r in gen.results] == [
        [f"{FX.HOST}/dbs/db-0/table-0/2025-01-26/c_0000000001_0000000002_g20114.parquet"]
    ]
    assert rows_by_table(root) == before
    assert_invariants(root)
    assert fsck_host(root, FX.HOST).ok


def test_parallel_group_execution(spark, tmp_path):
    """Several groups compacted in one run: identical results +
    invariants; fresh ids unique across the run's groups."""
    root = str(tmp_path / "par")
    FX.multi_hour(root)
    before = rows_by_table(root)
    report = run_job(spark, root)
    assert report.compacted_groups == 2
    assert rows_by_table(root) == before
    assert_invariants(root)
    # fresh ids unique across the groups of one commit
    ids = [f.id for _, _, _, f in catalog_files(root)]
    assert len(ids) == len(set(ids))


def test_output_is_zstd(spark, tmp_path):
    """Sink policy: compacted output row groups are ZSTD-compressed
    (reference COPY option, kompactor.ts:109)."""
    root = str(tmp_path / "zstd")
    FX.basic_hour(root)
    report = run_job(spark, root)
    (out_rel,) = report.results[0].output_paths
    md = pq.ParquetFile(os.path.join(root, out_rel)).metadata
    codecs = {md.row_group(rg).column(0).compression for rg in range(md.num_row_groups)}
    assert codecs == {"ZSTD"}


# --------------------------------------------------------------------------
# Catalog-scoped reads: time travel + stats-based file skipping
# --------------------------------------------------------------------------
def test_catalog_read_time_travel_and_skipping(spark, tmp_path):
    from kompactor_spark.compaction.readers import files_as_of, read_table, snapshot_ids

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    h10 = (FX.BASE_NS // (3600 * FX.NS) + 10) * 3600 * FX.NS
    h12 = (FX.BASE_NS // (3600 * FX.NS) + 12) * 3600 * FX.NS
    for i in range(2):
        b.add_parquet(0, 3, "2025-01-26", 10, f"{i + 1:010d}.parquet",
                      FX.make_rows(40, h10 + i * 5 * FX.NS, 2000 * FX.NS, seed=i))
    b.add_parquet(0, 4, "2025-01-26", 10, "0000000099.parquet",
                  FX.make_rows(10, h10, 1000 * FX.NS, seed=9))
    b.write_snapshot("0001.info.json")
    later = [b.add_parquet(0, 3, "2025-01-26", 12, "0000000010.parquet",
                           FX.make_rows(25, h12, 2000 * FX.NS, seed=5))]
    b.write_snapshot("0002.info.json", entries=later)

    assert snapshot_ids(root, FX.HOST) == [1, 2]
    # time travel: snapshot 1 predates the hour-12 file
    assert len(files_as_of(root, FX.HOST, db=0, table=3, as_of=1)) == 2
    assert len(files_as_of(root, FX.HOST, db=0, table=3)) == 3
    assert read_table(spark, root, FX.HOST, 0, 3, as_of=1).count() == 80
    assert read_table(spark, root, FX.HOST, 0, 3).count() == 105
    # table filter: table 4 is its own manifest
    assert read_table(spark, root, FX.HOST, 0, 4).count() == 10

    # file skipping: an hour-12 range prunes the manifest to ONE file
    # on catalog stats alone, and the residual row filter keeps exactness
    pruned = files_as_of(root, FX.HOST, db=0, table=3,
                         min_time_ns=h12, max_time_ns=h12 + 3600 * FX.NS)
    assert len(pruned) == 1 and "/12-00/" in pruned[0].path
    got = read_table(spark, root, FX.HOST, 0, 3,
                     min_time_ns=h12, max_time_ns=h12 + 3600 * FX.NS).count()
    full = (read_table(spark, root, FX.HOST, 0, 3)
            .where(f"time >= {h12} and time <= {h12 + 3600 * FX.NS}").count())
    assert got == full == 25

    with pytest.raises(FileNotFoundError):
        read_table(spark, root, FX.HOST, 0, 3, as_of=0)


def test_catalog_read_consistent_through_compaction(spark, tmp_path):
    """K3 × K1: a catalog-scoped read returns the same row multiset
    before and after the hour pass rewrites files + snapshots (the
    manifest follows the rewrite; no stale or dangling paths)."""
    from kompactor_spark.compaction.readers import files_as_of, read_table

    root = str(tmp_path)
    FX.basic_hour(root)

    def snapshot_rows():
        df = read_table(spark, root, FX.HOST, 0, 3)
        return sorted((r.time, r.f_int, r.f_str) for r in df.collect())

    before_rows = snapshot_rows()
    n_before = len(files_as_of(root, FX.HOST, db=0, table=3))
    run_job(spark, root)
    assert len(files_as_of(root, FX.HOST, db=0, table=3)) < n_before  # merged
    assert snapshot_rows() == before_rows


def test_expire_snapshots_folds_history(spark, tmp_path):
    """Snapshot expiry folds N snapshot files into one with an
    identical file manifest (state preserved, history horizon moved);
    fsck stays clean and pre-expiry as_of now raises, also after a
    later ingest."""
    from kompactor_spark.compaction.fsck import fsck_host
    from kompactor_spark.compaction.metadata import expire_snapshots
    from kompactor_spark.compaction.readers import files_as_of, read_table, snapshot_ids

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    h10 = (FX.BASE_NS // (3600 * FX.NS) + 10) * 3600 * FX.NS
    e1 = [b.add_parquet(0, 3, "2025-01-26", 10, "0000000001.parquet",
                        FX.make_rows(30, h10, 2000 * FX.NS, seed=1))]
    b.write_snapshot("0001.info.json", e1)
    e2 = [b.add_parquet(0, 3, "2025-01-26", 11, "0000000002.parquet",
                        FX.make_rows(20, h10 + 3600 * FX.NS, 2000 * FX.NS, seed=2))]
    b.write_snapshot("0002.info.json", e2)

    before = {f.path for f in files_as_of(root, FX.HOST)}
    rep = expire_snapshots(root, FX.HOST)
    assert rep["merged"] == 2 and rep["kept"] == 1
    assert snapshot_ids(root, FX.HOST) == [3]
    assert {f.path for f in files_as_of(root, FX.HOST)} == before
    assert read_table(spark, root, FX.HOST, 0, 3).count() == 50
    assert fsck_host(root, FX.HOST).ok
    with pytest.raises(FileNotFoundError):
        read_table(spark, root, FX.HOST, 0, 3, as_of=2)  # horizon moved
    # idempotent second call is a no-op
    assert expire_snapshots(root, FX.HOST) == {"merged": 0, "kept": 1}

    # a later ingest goes into the folded snapshot: no snapshot id below
    # the horizon comes back, so as_of=2 still raises
    from kompactor_spark.streaming.ingest import IngestJob

    new = FX.make_rows(10, h10 + 2 * 3600 * FX.NS, 2000 * FX.NS, seed=3)
    IngestJob(root, FX.HOST, db=0, table=3).write_batch(spark.createDataFrame(new.to_pandas()), 9)
    assert snapshot_ids(root, FX.HOST) == [3]
    with pytest.raises(FileNotFoundError):
        read_table(spark, root, FX.HOST, 0, 3, as_of=2)
    latest = [r.time for r in read_table(spark, root, FX.HOST, 0, 3).select("time").collect()]
    assert len(latest) == 60 and set(new.column("time").to_pylist()) <= set(latest)
    assert fsck_host(root, FX.HOST).ok


def test_stats_less_file_cataloged_and_checked(tmp_path):
    """A file written without column statistics still gets its true
    time range: adopt reads the time column instead of cataloging
    [0, 0], and fsck_host checks the range against it. A file outside
    the planner's path grammar is not adopted and stays an orphan."""
    from kompactor_spark.compaction.fsck import fsck_host
    from kompactor_spark.compaction.metadata import adopt, write_snapshot_atomic

    root = str(tmp_path)
    rel = f"{FX.HOST}/dbs/db-0/table-3/2025-01-26/10-00/0000000001.parquet"
    os.makedirs(os.path.dirname(os.path.join(root, rel)))
    os.makedirs(os.path.join(root, FX.HOST, "snapshots"))
    rows = FX.make_rows(2, FX.BASE_NS, 2000 * FX.NS, seed=1)
    pq.write_table(rows, os.path.join(root, rel), write_statistics=False)
    times = rows.column("time").to_pylist()
    # outside the planner's path grammar: never planned, so never adopted
    stray = f"{FX.HOST}/dbs/db-0/table-3/0000000002.parquet"
    pq.write_table(rows, os.path.join(root, stray))

    [info] = adopt(root, FX.HOST)
    assert (info.min_time, info.max_time, info.row_count) == (min(times), max(times), 2)
    report = fsck_host(root, FX.HOST)
    assert report.orphans == [stray] and not report.stat_mismatches and not report.dangling

    snap_path = os.path.join(root, FX.HOST, "snapshots", "0001.info.json")
    snap = read_snapshot(snap_path)
    [(_, _, entry)] = snap.all_files()
    entry.min_time -= 1  # hand-corrupt the catalog
    write_snapshot_atomic(snap, snap_path)
    report = fsck_host(root, FX.HOST)
    assert [m.split(":")[0] for m in report.stat_mismatches] == [rel]


def test_cli_time_window_hours(spark, tmp_path, capsys):
    """--time-window-hours reaches generation planning (reference D4:
    timeWindowHours was declared but unwired in kompactor.ts:29,41)."""
    from kompactor_spark.cli import main

    root = str(tmp_path / "genwin")
    FX.multi_hour(root)
    run_job(spark, root)
    snaps = [read_snapshot(p) for p in glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json"))]
    max_t = max(f.max_time for s in snaps for _, _, f in s.all_files())
    now = max_t + 3 * 3600 * FX.NS  # 3 h after the newest row

    # default 24 h window: the day is still hot -> nothing compacts
    rc = main([root, "--hosts", FX.HOST, "--generation", "--now-ns", str(now)], spark=spark)
    assert rc == 0
    assert "compacted 0/0 groups" in capsys.readouterr().out

    # 2 h window: the same day is now cold -> generation merge runs
    rc = main(
        [root, "--hosts", FX.HOST, "--generation", "--now-ns", str(now),
         "--time-window-hours", "2"],
        spark=spark,
    )
    assert rc == 0
    assert "compacted 1/1 groups" in capsys.readouterr().out


def test_output_never_overwrites_an_input(spark, tmp_path):
    """An output named like one of its inputs would be written over that
    input and then unlinked with the others; the job refuses before it
    writes anything, and the lake stays byte-identical and fsck-clean."""
    from kompactor_spark.compaction.fsck import fsck_host

    root = str(tmp_path)
    FX.replayed_first_input(root)

    def lake_bytes():
        files = glob.glob(os.path.join(root, "**", "*"), recursive=True)
        return {p: open(p, "rb").read() for p in files if os.path.isfile(p)}

    before = lake_bytes()
    with pytest.raises(RuntimeError, match="c_0000000001_0000000003_h14.parquet"):
        run_job(spark, root)
    assert lake_bytes() == before
    assert fsck_host(root, FX.HOST).ok


def _lake_bytes(root):
    files = glob.glob(os.path.join(root, "**", "*"), recursive=True)
    return {p: open(p, "rb").read() for p in files if os.path.isfile(p)}


def test_failed_write_leaves_the_lake_as_it_was(spark, tmp_path, monkeypatch):
    """A write that stages more than one file for an output (a session
    with spark.sql.files.maxRecordsPerFile set) raises before any file
    moves: snapshot and inputs are byte-identical, no staging directory
    is left behind, and fsck is ok."""
    from kompactor_spark.compaction import writer
    from kompactor_spark.compaction.fsck import fsck_host

    monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", -1)  # the Spark write
    root = str(tmp_path)
    FX.basic_hour(root)  # 150 rows in one output
    before = _lake_bytes(root)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
    try:
        with pytest.raises(RuntimeError, match="expected exactly"):
            run_job(spark, root)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert _lake_bytes(root) == before
    assert sorted(os.listdir(os.path.join(root, FX.HOST))) == ["dbs", "snapshots"]
    assert fsck_host(root, FX.HOST).ok


def test_failed_local_write_leaves_the_lake_as_it_was(spark, tmp_path, monkeypatch):
    """The in-process write fails on its second file: the run raises
    before any file moves, snapshot and inputs are byte-identical, no
    staging directory is left behind, and fsck is ok."""
    import pyarrow.parquet as pq

    from kompactor_spark.compaction import writer
    from kompactor_spark.compaction.fsck import fsck_host

    monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", 2**63)
    root = str(tmp_path)
    FX.multi_hour(root)
    before = _lake_bytes(root)
    calls = []
    write_table = pq.write_table

    def failing(*args, **kwargs):
        calls.append(args)
        if len(calls) == 2:
            raise OSError("disk full")
        return write_table(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", failing)
    with pytest.raises(OSError, match="disk full"):
        run_job(spark, root)
    assert len(calls) == 2
    assert _lake_bytes(root) == before
    assert sorted(os.listdir(os.path.join(root, FX.HOST))) == ["dbs", "snapshots"]
    assert fsck_host(root, FX.HOST).ok


def test_run_writes_once(spark, tmp_path, monkeypatch):
    """Eight hour groups of one schema: the run makes one Spark write
    and at most 10 Spark jobs (a schema read per group, and the write),
    not a write per group."""
    from pyspark.sql.readwriter import DataFrameWriter

    from kompactor_spark.compaction import writer

    monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", -1)  # the Spark write
    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    wal = 1
    for hour in range(8):
        hstart = (FX.BASE_NS // (3600 * FX.NS) + hour) * 3600 * FX.NS
        for i in range(2):
            rows = FX.make_rows(20, hstart + i * 7 * FX.NS, 2000 * FX.NS, seed=wal)
            b.add_parquet(0, 3, "2025-01-26", 14 + hour, f"{wal:010d}.parquet", rows)
            wal += 1
    b.write_snapshot()

    writes = []
    parquet = DataFrameWriter.parquet

    def counting(self, *args, **kwargs):
        writes.append(args)
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("test_run_writes_once", "one compaction run")
    try:
        [report] = CompactionJob(spark, root, [FX.HOST]).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(tracker.getJobIdsForGroup("test_run_writes_once"))
    jobs |= set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert report.compacted_groups == 8
    assert len(writes) == 1
    assert len(jobs) <= 10, sorted(jobs)


def test_local_run_writes_in_process(spark, tmp_path, monkeypatch):
    """``test_run_writes_once``'s eight groups on the in-process backend
    and an empty schema cache: no Spark write, and at most 2 Spark jobs
    (one schema inference and the collect)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from kompactor_spark import session
    from kompactor_spark.compaction import writer

    from tests.test_read_parquet import counted_jobs

    monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", 2**63)
    monkeypatch.setattr(session, "_footer_schemas", {})
    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    for hour in range(8):
        hstart = (FX.BASE_NS // (3600 * FX.NS) + hour) * 3600 * FX.NS
        for i in range(2):
            wal = 2 * hour + i + 1
            rows = FX.make_rows(20, hstart + i * 7 * FX.NS, 2000 * FX.NS, seed=wal)
            b.add_parquet(0, 3, "2025-01-26", 14 + hour, f"{wal:010d}.parquet", rows)
    b.write_snapshot()

    writes = []
    monkeypatch.setattr(DataFrameWriter, "parquet", lambda self, *a, **kw: writes.append(a))
    with counted_jobs(spark) as jobs:
        [report] = CompactionJob(spark, root, [FX.HOST]).run()
    assert report.compacted_groups == 8
    assert writes == []
    assert len(jobs) <= 2, jobs


def test_groups_keep_their_own_columns(spark, tmp_path):
    """Hour 15's files carry a column hour 14's do not. Groups are only
    written together when their read schemas are equal, so each output
    holds exactly its own inputs' columns and rows."""
    import pyarrow as pa

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    expected = {}
    wal = 1
    for hour in (14, 15):
        hstart = (FX.BASE_NS // (3600 * FX.NS) + hour - 14) * 3600 * FX.NS
        tables = []
        for i in range(2):
            rows = FX.make_rows(20, hstart + i * 7 * FX.NS, 2000 * FX.NS, seed=wal)
            if hour == 15:
                rows = rows.append_column("f_extra", pa.array([f"x{wal}-{k}" for k in range(20)]))
            b.add_parquet(0, 3, "2025-01-26", hour, f"{wal:010d}.parquet", rows)
            tables.append(rows)
            wal += 1
        expected[f"{hour}"] = pa.concat_tables(tables)
    b.write_snapshot()

    report = run_job(spark, root)
    assert report.compacted_groups == 2

    def key(row):
        return row["time"], row["f_int"], row["f_str"]

    for r in report.results:
        (out,) = r.output_paths
        got = pq.read_table(os.path.join(root, out))
        want = expected[r.key[4]]
        assert got.column_names == want.column_names
        assert sorted(got.to_pylist(), key=key) == sorted(want.to_pylist(), key=key)
    assert_invariants(root)


def _with_extra(rows, tag):
    import pyarrow as pa

    return rows.append_column("f_extra", pa.array([f"{tag}-{k}" for k in range(rows.num_rows)]))


def test_field_added_mid_hour_survives(spark, tmp_path):
    """The hour's second WAL file carries a column its first lacks. The
    merge keeps it: the output holds the union of the columns, with
    nulls where the first file had none."""
    from kompactor_spark.compaction.fsck import fsck_host

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    h14 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS)
    b.add_parquet(0, 3, "2025-01-26", 14, "0000000001.parquet", FX.make_rows(20, h14, 2000 * FX.NS, seed=1))
    b.add_parquet(0, 3, "2025-01-26", 14, "0000000002.parquet",
                  _with_extra(FX.make_rows(20, h14 + 7 * FX.NS, 2000 * FX.NS, seed=2), "x"))
    b.write_snapshot()

    report = run_job(spark, root)
    (out,) = report.results[0].output_paths
    got = pq.read_table(os.path.join(root, out))
    assert got.num_rows == 40
    assert len(got.column("f_extra").drop_null()) == 20
    assert_invariants(root)
    assert fsck_host(root, FX.HOST).ok


def test_read_table_unions_columns_across_files(spark, tmp_path):
    """Hour 15 carries a column hour 14 lacks: the whole-table read has
    it, whichever file Spark would have inferred the schema from."""
    from pyspark.sql import functions as F

    from kompactor_spark.compaction.readers import read_table

    root = str(tmp_path)
    b = FX.LayoutBuilder(root)
    h14 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS)
    h15 = h14 + 3600 * FX.NS
    b.add_parquet(0, 3, "2025-01-26", 14, "0000000001.parquet", FX.make_rows(20, h14, 2000 * FX.NS, seed=1))
    b.add_parquet(0, 3, "2025-01-26", 15, "0000000002.parquet",
                  _with_extra(FX.make_rows(20, h15, 2000 * FX.NS, seed=2), "x"))
    b.write_snapshot()

    df = read_table(spark, root, FX.HOST, 0, 3)
    assert len(df.columns) == 7
    assert df.where(F.col("f_extra").isNotNull()).count() == 20
    assert df.count() == 40
    pruned = read_table(spark, root, FX.HOST, 0, 3, min_time_ns=h15)
    assert len(pruned.columns) == 7
