"""The lake writer's two backends, in-process (pyarrow) and Spark, write
the same data: every file reads back through ``session.read_parquet``
with the same Spark schema and the same rows, time-sorted, and an
in-process file of thousands of rows is within 5 % of the Spark file's
bytes."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from kompactor_spark.compaction import CompactionJob, writer
from kompactor_spark.compaction.fsck import fsck_host
from kompactor_spark.session import read_parquet
from kompactor_spark.streaming.ingest import IngestJob

from tests import fixtures_compaction as FX
from tests.test_compaction import _lake_bytes, disk_parquets
from tests.test_read_parquet import LAYOUTS

# LOCAL_WRITE_MAX_BYTES that pins each backend: above Spark's Long.MaxValue
# for an unknown size, and below any estimate
BACKENDS = {"local": 2**63, "spark": -1}


def read_back(spark, path):
    """(Spark schema, sorted rows) of one file; asserts it is time-sorted."""
    t = pq.read_table(path, columns=["time"]).column("time").to_pylist()
    assert t == sorted(t), f"not time-sorted: {path}"
    df = read_parquet(spark, path)
    return df.schema, sorted(map(repr, df.collect()))


def frame(spark, table, path):
    """``table`` as a Spark frame read from a Parquet file, as a file
    source's micro-batch is."""
    pq.write_table(table, path)
    return read_parquet(spark, path)


def assert_same_files(spark, local_root, spark_root, size_tol=0.05):
    files = sorted(disk_parquets(local_root))
    assert files and files == sorted(disk_parquets(spark_root))
    for rel in files:
        a, b = os.path.join(local_root, rel), os.path.join(spark_root, rel)
        assert read_back(spark, a) == read_back(spark, b), rel
        if size_tol is not None:
            assert abs(os.path.getsize(a) - os.path.getsize(b)) <= size_tol * os.path.getsize(b), (
                rel,
                os.path.getsize(a),
                os.path.getsize(b),
            )
    # the same findings on both (a layout may catalog a missing input),
    # and none that a write can cause
    report = fsck_host(local_root, FX.HOST)
    assert report == fsck_host(spark_root, FX.HOST)
    assert not report.orphans and not report.stat_mismatches


# replayed_first_input is refused before anything is written
@pytest.mark.parametrize(
    "layout", [f for f in LAYOUTS if f is not FX.replayed_first_input], ids=lambda f: f.__name__
)
def test_compaction_backends_write_the_same_data(spark, tmp_path, monkeypatch, layout):
    roots = {}
    for name, limit in BACKENDS.items():
        roots[name] = str(tmp_path / name)
        layout(roots[name])
        monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", limit)
        [report] = CompactionJob(spark, roots[name], [FX.HOST]).run()
        assert report.compacted_groups >= 1
    # 60-120-row outputs, a third of whose bytes are footer and page
    # headers: pyarrow's ran 4-6 % larger, so sizes are compared only on
    # the 4000-row files of the stream below
    assert_same_files(spark, roots["local"], roots["spark"], size_tol=None)


def test_ingest_stream_backends_write_the_same_data(spark, tmp_path, monkeypatch):
    """``ingest_query``'s shape: 4 micro-batches of 4000 rows, 20 minutes
    each, through an auto-compacting ingest. The fourth batch crosses
    into the next hour, so the first hour's four files merge."""
    hour0 = (FX.BASE_NS // (3600 * FX.NS)) * 3600 * FX.NS
    step = 20 * 60 * FX.NS
    batches = [
        frame(spark, FX.make_rows(4000, hour0 + k * step, step, seed=k), str(tmp_path / f"batch{k}.parquet"))
        for k in range(4)
    ]
    roots = {}
    for name, limit in BACKENDS.items():
        roots[name] = str(tmp_path / name)
        monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", limit)
        job = IngestJob(roots[name], FX.HOST, auto_compact=True)
        for k, df in enumerate(batches):
            job.write_batch(df, k)
    files = sorted(disk_parquets(roots["local"]))
    assert len(files) == 2 and os.path.basename(files[0]).startswith("c_"), files
    assert_same_files(spark, roots["local"], roots["spark"])


def test_type_matrix_backends_write_the_same_data(spark, tmp_path, monkeypatch):
    fields = [
        ("k", T.LongType()),
        ("time", T.LongType()),
        ("i", T.IntegerType()),
        ("sh", T.ShortType()),
        ("by", T.ByteType()),
        ("d", T.DoubleType()),
        ("f", T.FloatType()),
        ("s", T.StringType()),
        ("b", T.BinaryType()),
        ("bo", T.BooleanType()),
        ("d12", T.DecimalType(12, 2)),
        ("d30", T.DecimalType(30, 4)),
        ("dt", T.DateType()),
        ("ts", T.TimestampType()),
        ("tsn", T.TimestampNTZType()),
        ("arr", T.ArrayType(T.LongType())),
        ("st", T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())])),
        ("m", T.MapType(T.StringType(), T.DoubleType())),
        ("all_null", T.StringType()),
        ("some_null", T.LongType()),
    ]
    rows = [
        (
            r % 3,
            (300 - r) * 1000,
            r,
            r % 100,
            r % 50,
            r / 7,
            r / 3.0,
            f"s{r % 17}",
            bytes([r % 256]),
            r % 2 == 0,
            decimal.Decimal(r) / 100,
            decimal.Decimal(r * 12345) / 10000,
            datetime.date(2020, 1, 1 + r % 28),
            datetime.datetime(2024, 1, 1, r % 24, r % 60),
            datetime.datetime(2024, 2, 1, r % 24),
            [r, r + 1] if r % 5 else None,
            (r, f"y{r}") if r % 4 else None,
            {f"a{r % 3}": r / 2} if r % 6 else None,
            None,
            r if r % 7 else None,
        )
        for r in range(300)
    ]
    schema = T.StructType([T.StructField(n, t) for n, t in fields])
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    df = read_parquet(spark, *glob.glob(os.path.join(src, "*.parquet")))
    out = {}
    for name, limit in BACKENDS.items():
        monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", limit)
        with writer.staged_write(df, "k", str(tmp_path / name), FX.HOST) as staged:
            out[name] = {k: read_back(spark, p) for k, p in staged.items()}
    assert sorted(out["local"]) == ["0", "1", "2"]
    assert out["local"] == out["spark"]
    assert all(s == df.drop("k").schema for s, _ in out["local"].values())


@pytest.mark.parametrize("backend", BACKENDS)
def test_null_time_batch_leaves_the_lake_as_it_was(spark, tmp_path, monkeypatch, backend):
    """A row with a null ``time`` stages no hour: the batch raises before
    any file moves, so the lake stays byte-identical and fsck is ok."""
    monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", BACKENDS[backend])
    root = str(tmp_path / "lake")
    hour0 = (FX.BASE_NS // (3600 * FX.NS)) * 3600 * FX.NS
    job = IngestJob(root, FX.HOST)
    job.write_batch(frame(spark, FX.make_rows(4, hour0, 60 * FX.NS, seed=1), str(tmp_path / "good.parquet")), 0)
    before = _lake_bytes(root)

    times = [hour0 + 5, hour0 + 9, hour0 + 3600 * FX.NS + 1, hour0 + 3600 * FX.NS + 2, None]
    bad = pa.table(
        {
            "time": pa.array(times, pa.int64()),
            "tag1": ["a"] * 5,
            "tag2": ["b"] * 5,
            "f_int": np.arange(5, dtype=np.int64),
            "f_dbl": np.zeros(5),
            "f_str": ["v"] * 5,
        },
        schema=FX.data_schema(),
    )
    with pytest.raises(ValueError, match="null 'time'"):
        job.write_batch(frame(spark, bad, str(tmp_path / "bad.parquet")), 1)
    assert _lake_bytes(root) == before
    assert sorted(os.listdir(os.path.join(root, FX.HOST))) == ["dbs", "snapshots"]
    assert fsck_host(root, FX.HOST).ok
