"""``session.read_parquet``: the schema it hands Spark is the schema
Spark infers itself, cold or cached, and a cached read launches no
Spark job."""

from __future__ import annotations

import contextlib
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kompactor_spark import session
from kompactor_spark.session import read_parquet

from tests import fixtures_compaction as FX
from tests.conftest import SF_SMOKE

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

LAYOUTS = [
    FX.basic_hour,
    FX.multi_hour,
    FX.multi_table,
    FX.recompact,
    FX.overlapping_snapshots,
    FX.missing_input,
    FX.ns_precision,
    FX.replayed_first_input,
]


@pytest.fixture
def cold(monkeypatch):
    """An empty schema cache for the test."""
    monkeypatch.setattr(session, "_footer_schemas", {})


@contextlib.contextmanager
def counted_jobs(spark):
    """Yields a list that holds, on exit, the ids of the Spark jobs the
    block launched."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # jobs of an earlier block stay in the group while Spark retains them
    earlier = set(tracker.getJobIdsForGroup("counted_jobs")) | set(tracker.getJobIdsForGroup(None))
    jobs: list[int] = []
    sc.setJobGroup("counted_jobs", "jobs of one operation")
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        found = set(tracker.getJobIdsForGroup("counted_jobs")) | set(tracker.getJobIdsForGroup(None))
        jobs.extend(sorted(found - earlier))


def outcome(read):
    """The schema ``read()`` gives, or the class of the error it raises."""
    try:
        return read().schema
    except Exception as e:  # compared, not handled
        return type(e).__name__


def assert_same_as_spark(spark, *paths):
    want = spark.read.parquet(*paths).schema
    assert read_parquet(spark, *paths).schema == want  # cold for a new footer
    assert read_parquet(spark, *paths).schema == want  # warm


@pytest.mark.parametrize("layout", LAYOUTS, ids=lambda f: f.__name__)
def test_fixture_layouts(spark, tmp_path, cold, layout):
    b = layout(str(tmp_path))
    paths = [os.path.join(str(tmp_path), e["info"]["path"]) for e in b.files]
    paths = [p for p in paths if os.path.exists(p)]
    for p in paths:
        assert_same_as_spark(spark, p)
    assert_same_as_spark(spark, *paths)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_testdata_tables(spark, cold, sf):
    files = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMOKE), sf, "*.parquet")))
    assert len(files) == 10
    for p in files:
        assert_same_as_spark(spark, p)


def test_spark_written_lake_files(spark, tmp_path, cold):
    """WAL files from ``IngestJob`` and the ``c_`` file ``CompactionJob``
    merges them into carry Spark's row metadata."""
    from kompactor_spark.compaction import CompactionJob
    from kompactor_spark.streaming.ingest import IngestJob

    root = str(tmp_path)
    ingest = IngestJob(root, FX.HOST, db=0, table=3)
    h14 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS)
    for batch in range(2):
        rows = FX.make_rows(20, h14 + batch * 7 * FX.NS, 2000 * FX.NS, seed=batch)
        ingest.write_batch(spark.createDataFrame(rows.to_pandas()), batch)
    wal = sorted(glob.glob(os.path.join(root, FX.HOST, "dbs", "**", "*.parquet"), recursive=True))
    assert len(wal) == 2
    assert_same_as_spark(spark, *wal)

    [report] = CompactionJob(spark, root, [FX.HOST]).run()
    (out,) = report.results[0].output_paths
    assert_same_as_spark(spark, os.path.join(root, out))


def test_nanos_column_follows_conf(spark, tmp_path, cold):
    """A TIMESTAMP(NANOS) column reads as ``long`` under nanosAsLong.
    With the conf off the helper does what ``spark.read.parquet`` does,
    not hand back the cached ``long`` schema."""
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2, 3], pa.timestamp("ns")), "v": [1.0, 2.0, 3.0]}), path)
    before = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        assert_same_as_spark(spark, path)
        assert read_parquet(spark, path).schema["ts"].dataType.simpleString() == "bigint"
        spark.conf.set(NANOS_AS_LONG, "false")
        want = outcome(lambda: spark.read.parquet(path))
        assert outcome(lambda: read_parquet(spark, path)) == want
        assert outcome(lambda: read_parquet(spark, path)) == want
    finally:
        spark.conf.set(NANOS_AS_LONG, before)


def test_directory_reads_like_spark(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(FX.make_rows(5, FX.BASE_NS, FX.NS, seed=1), str(d / "a.parquet"))
    assert read_parquet(spark, str(d)).schema == spark.read.parquet(str(d)).schema
    assert read_parquet(spark, str(d)).count() == 5


def test_warm_read_table_launches_no_job(spark, tmp_path):
    from kompactor_spark.compaction.readers import read_table

    root = str(tmp_path)
    FX.multi_hour(root)
    read_table(spark, root, FX.HOST, 0, 3)
    with counted_jobs(spark) as jobs:
        df = read_table(spark, root, FX.HOST, 0, 3, min_time_ns=FX.BASE_NS)
        df.schema
    assert jobs == []


def test_warm_load_table_launches_no_job(spark):
    from kompactor_spark.tables import SCHEMAS, TABLES, load_table

    for name in TABLES:
        load_table(spark, SF_SMOKE, name)
    with counted_jobs(spark) as jobs:
        frames = {name: load_table(spark, SF_SMOKE, name) for name in TABLES}
        got = {name: df.schema.simpleString() for name, df in frames.items()}
    assert jobs == []
    assert got == SCHEMAS


def test_cold_k1_run_infers_once(spark, tmp_path, cold):
    """``test_run_writes_once``'s eight groups of one schema, on an empty
    cache: one inference and the write, not a read job per group."""
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

    from kompactor_spark.compaction import CompactionJob

    with counted_jobs(spark) as jobs:
        [report] = CompactionJob(spark, root, [FX.HOST]).run()
    assert report.compacted_groups == 8
    assert len(jobs) <= 3, jobs
