"""The catalog's one code path: ``metadata.load_manifest`` and
``metadata.commit``. Commit rules, safety against a second process, one
commit per compaction run (one write per changed snapshot, all groups
or none), the catalog-first order of a commit's deletes, and the
module-level hook through which a tracer counts snapshot reads and
writes."""

from __future__ import annotations

import ast
import glob
import multiprocessing
import os

import pytest

from kompactor_spark.compaction import metadata
from kompactor_spark.compaction.metadata import ParquetFileInfo, Swap, commit, load_manifest

from tests import fixtures_compaction as FX


def _info(name: str) -> ParquetFileInfo:
    return ParquetFileInfo(
        id=0,
        path=f"{FX.HOST}/dbs/db-0/table-3/2025-01-26/14-00/{name}.parquet",
        size_bytes=100,
        row_count=10,
        chunk_time=FX.BASE_NS,
        min_time=FX.BASE_NS,
        max_time=FX.BASE_NS + 1,
    )


def test_commit_rules(tmp_path):
    """Pure adds create the ingest snapshot; a cataloged path is replaced
    in place and keeps its id; added files go into every table that held
    a removed one; fresh ids start above the largest id and count up in
    swap order; an empty commit reads nothing."""
    root = str(tmp_path)
    assert commit(root, FX.HOST, []) == []
    assert not os.path.exists(os.path.join(root, FX.HOST))
    [a, b] = commit(root, FX.HOST, [Swap(added=[_info("a")], db=0, table=3), Swap(added=[_info("b")], db=0, table=3)])
    assert (a.id, b.id) == (1, 2)
    assert [p for p in os.listdir(os.path.join(root, FX.HOST, "snapshots")) if p.endswith(".json")] == [
        metadata.INGEST_SNAPSHOT
    ]

    [a2] = commit(root, FX.HOST, [Swap(added=[ParquetFileInfo(**{**vars(_info("a")), "row_count": 11})])])
    assert a2.id == 1
    manifest = load_manifest(root, FX.HOST)
    assert [(f.path, f.id, f.row_count) for _, _, f in manifest] == [
        (a.path, 1, 11),
        (b.path, 2, 10),
    ]

    # a second snapshot holding b: the swap lands in both snapshots
    second = metadata.snapshot_from_entries([(0, 3, b)], writer_id=FX.HOST)
    metadata.write_snapshot_atomic(second, os.path.join(root, FX.HOST, "snapshots", "0002.info.json"))
    [c] = commit(root, FX.HOST, [Swap(removed=[b.path], added=[_info("c")])])
    assert c.id == 3
    for sp in metadata.snapshot_paths(root, FX.HOST):
        snap = metadata.read_snapshot(sp)
        paths = {f.path for _, _, f in snap.all_files()}
        assert b.path not in paths and c.path in paths
        assert snap.row_count == sum(f.row_count for _, _, f in snap.all_files())

    # one swap with nowhere to go refuses the whole commit
    with pytest.raises(RuntimeError, match="none of the removed files"):
        commit(root, FX.HOST, [Swap(removed=[c.path], added=[_info("e")]), Swap(removed=[b.path], added=[_info("d")])])
    assert {f.path for _, _, f in load_manifest(root, FX.HOST)} == {a.path, c.path}


def test_load_manifest_as_of_and_later_wins(tmp_path):
    root = str(tmp_path)
    snap_dir = os.path.join(root, FX.HOST, "snapshots")
    os.makedirs(snap_dir)
    old, new = _info("a"), ParquetFileInfo(**{**vars(_info("a")), "row_count": 99})
    for i, info in enumerate([old, new], start=1):
        meta = metadata.snapshot_from_entries([(0, 3, info)], writer_id=FX.HOST)
        metadata.write_snapshot_atomic(meta, os.path.join(snap_dir, f"{i:04d}.info.json"))
    assert [f.row_count for _, _, f in load_manifest(root, FX.HOST)] == [99]
    assert [f.row_count for _, _, f in load_manifest(root, FX.HOST, as_of=1)] == [10]
    assert load_manifest(root, FX.HOST, as_of=0) == []
    assert load_manifest(str(tmp_path / "nowhere"), FX.HOST) == []


def _commit_many(root: str, tag: str, n: int) -> None:
    for i in range(n):
        commit(root, FX.HOST, [Swap(added=[_info(f"{tag}{i:04d}")], db=0, table=3)])


def test_commit_is_process_safe(tmp_path):
    """Two processes committing at once lose no file and share no id."""
    root = str(tmp_path)
    ctx = multiprocessing.get_context("spawn")
    procs = [ctx.Process(target=_commit_many, args=(root, tag, 200)) for tag in ("p", "q")]
    for p in procs:
        p.start()
    for p in procs:
        p.join(300)
    assert [p.exitcode for p in procs] == [0, 0]
    files = [f for _, _, f in load_manifest(root, FX.HOST)]
    assert len(files) == 400
    assert len({f.id for f in files}) == 400


def _count_catalog_calls(monkeypatch) -> dict[str, int]:
    """From now on, count the calls of ``metadata.read_snapshot`` and
    ``metadata.write_snapshot_atomic``, patched where a tracer patches
    them."""
    calls = {"read": 0, "write": 0}
    for kind, name in (("read", "read_snapshot"), ("write", "write_snapshot_atomic")):

        def wrapped(*args, _kind=kind, _fn=getattr(metadata, name), **kwargs):
            calls[_kind] += 1
            return _fn(*args, **kwargs)

        monkeypatch.setattr(metadata, name, wrapped)
    return calls


def test_parallel_groups_commit_every_output(spark, tmp_path, monkeypatch):
    """Eight hour groups compacted in one run of one snapshot make one
    commit: every output is cataloged once, with its own id, nothing
    else is, and the run reads the snapshot twice (plan and commit) and
    writes it once."""
    from kompactor_spark.compaction import CompactionJob
    from kompactor_spark.compaction.fsck import fsck_host

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

    calls = _count_catalog_calls(monkeypatch)
    [report] = CompactionJob(spark, root, [FX.HOST]).run()
    assert calls == {"read": 2, "write": 1}
    assert report.compacted_groups == 8
    outputs = {p for r in report.results for p in r.output_paths}
    files = [f for _, _, f in load_manifest(root, FX.HOST)]
    assert {f.path for f in files} == outputs
    assert len({f.id for f in files}) == 8
    assert fsck_host(root, FX.HOST).ok


def test_every_catalog_path_goes_through_the_metadata_module(spark, tmp_path, monkeypatch):
    """Wrappers installed on ``metadata.read_snapshot`` /
    ``metadata.write_snapshot_atomic`` see the reads and writes of every
    catalog path, so a tracer patching the module counts them all."""
    from kompactor_spark.compaction import CompactionJob
    from kompactor_spark.compaction.fsck import fsck_host
    from kompactor_spark.compaction.metadata import expire_snapshots
    from kompactor_spark.compaction.readers import files_as_of
    from kompactor_spark.compaction.retention import enforce_retention
    from kompactor_spark.streaming.ingest import IngestJob

    calls = _count_catalog_calls(monkeypatch)

    root = str(tmp_path)
    b = FX.multi_hour(root)  # hours 10, 11, 12 with 1, 2, 4 files
    b.write_snapshot("0002.info.json", b.files[:1])

    def counted(fn):
        before = dict(calls)
        fn()
        return calls["read"] - before["read"], calls["write"] - before["write"]

    hour = 3600 * FX.NS
    h11 = (FX.BASE_NS // hour + 11) * hour
    batch = spark.createDataFrame(FX.make_rows(10, h11 + 3 * hour, 60 * FX.NS, seed=7).to_pandas())

    assert counted(lambda: files_as_of(root, FX.HOST))[0] > 0
    assert counted(lambda: fsck_host(root, FX.HOST))[0] > 0
    reads, writes = counted(lambda: expire_snapshots(root, FX.HOST))
    assert reads > 0 and writes > 0
    reads, writes = counted(lambda: enforce_retention(root, [FX.HOST], cutoff_ns=h11))
    assert reads > 0 and writes > 0
    reads, writes = counted(lambda: CompactionJob(spark, root, [FX.HOST]).run())
    assert reads > 0 and writes > 0
    reads, writes = counted(lambda: IngestJob(root, FX.HOST, db=0, table=3).write_batch(batch, 99))
    assert reads > 0 and writes > 0
    assert fsck_host(root, FX.HOST).ok


@pytest.mark.parametrize("caller", ["compaction", "retention", "compaction_multi_table", "land_fails"])
def test_failed_snapshot_write_deletes_nothing(spark, tmp_path, monkeypatch, caller):
    """A commit whose snapshot write fails raises before it deletes a
    file: every input stays on disk and cataloged and readers see the
    same rows. A compaction run makes one commit for all its groups, so
    a failed run commits none of them, also when moving the last group's
    output fails before the commit (``land_fails``): the outputs landed
    so far are only orphans. Once the fault is gone, a rerun converges
    fsck-clean with every group compacted."""
    from kompactor_spark.compaction import CompactionJob, job
    from kompactor_spark.compaction.fsck import fsck_host
    from kompactor_spark.compaction.readers import read_table
    from kompactor_spark.compaction.retention import enforce_retention

    root = str(tmp_path)
    b = FX.basic_hour(root) if caller in ("compaction", "retention") else FX.multi_table(root)
    inputs = {e["info"]["path"] for e in b.files}
    tables = sorted({(e["db"], e["table"]) for e in b.files})
    cutoff = sorted(e["info"]["max_time"] for e in b.files)[1]  # expires one file

    def run():
        if caller == "retention":
            return enforce_retention(root, [FX.HOST], cutoff_ns=cutoff)
        return CompactionJob(spark, root, [FX.HOST]).run()

    def rows():
        return sorted((db, t, *r) for db, t in tables for r in read_table(spark, root, FX.HOST, db, t).collect())

    def failing(*args):
        raise OSError("injected fault")

    real_land = job.land

    def land_but_the_last_group(staged, data_dir, rel):
        if f"/db-{tables[-1][0]}/table-{tables[-1][1]}/" in rel:
            failing()
        return real_land(staged, data_dir, rel)

    before = rows()
    if caller == "land_fails":
        monkeypatch.setattr(job, "land", land_but_the_last_group)
    else:
        monkeypatch.setattr(metadata, "write_snapshot_atomic", failing)
    with pytest.raises(OSError, match="injected"):
        run()
    assert all(os.path.exists(os.path.join(root, p)) for p in inputs)
    assert {f.path for _, _, f in load_manifest(root, FX.HOST)} == inputs
    assert rows() == before
    report = fsck_host(root, FX.HOST)
    assert not report.dangling
    landed = {"retention": 0, "land_fails": len(tables) - 1}.get(caller, len(tables))
    assert len(report.orphans) == landed and all("/c_" in p for p in report.orphans)

    monkeypatch.undo()
    [rep] = run()
    assert fsck_host(root, FX.HOST).ok
    if caller == "retention":
        assert len(rep.pruned_paths) == 1 and len(rows()) == len(before) - 50
    else:
        assert rep.compacted_groups == len(tables) and rows() == before


def test_only_the_metadata_module_deletes_lake_files():
    """In the compaction package and the ingest job only ``metadata.py``
    deletes files, prunes directories or takes the catalog lock, so the
    B7 order (catalog first, deletes second) lives in ``commit`` alone.
    The one exception is the writer removing its own staging directory."""
    import kompactor_spark

    pkg = os.path.dirname(kompactor_spark.__file__)
    deletes = {("os", "unlink"), ("os", "remove"), ("os", "rmdir"), ("os", "removedirs"), ("shutil", "rmtree")}
    private = {"catalog_lock", "_remove_empty_dirs_upward"}
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "compaction", "*.py"))) + [os.path.join(pkg, "streaming", "ingest.py")]:
        name = os.path.relpath(path, pkg)
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                if (node.value.id, node.attr) in deletes:
                    found.append((name, f"{node.value.id}.{node.attr}"))
            if isinstance(node, ast.ImportFrom):
                found += [(name, f"{node.module}.{a.name}") for a in node.names
                          if (node.module, a.name) in deletes or a.name in private]
            ident = getattr(node, "id", None) or getattr(node, "attr", None)
            if isinstance(node, (ast.Name, ast.Attribute)) and ident in private:
                found.append((name, ident))
    assert [f for f in found if f[0] != os.path.join("compaction", "metadata.py")] == [
        (os.path.join("compaction", "writer.py"), "shutil.rmtree")
    ]
