"""End-to-end product flow: streaming ingest → bare Parquet layout →
metadata.adopt (catalog adoption, footer-stats only) → hour
compaction → generation compaction, invariants at every step.
This is the full lifecycle a reference user runs: an external writer
lands files, the engine takes ownership and compacts."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kompactor_spark.compaction import CompactionJob
from kompactor_spark.compaction.metadata import INGEST_SNAPSHOT, adopt

from tests import fixtures_compaction as FX
from tests.test_compaction import assert_invariants, disk_parquets
from tests.test_streaming import BASE, EVENTS_SCHEMA, NS, _rows, _write_batches


def ingest_snapshot(root):
    """The snapshot an ingest into a fresh lake writes."""
    return os.path.join(root, FX.HOST, "snapshots", INGEST_SNAPSHOT)


# the events schema as the lake takes it: event time in a column named ``time``
LAKE_SCHEMA = T.StructType(
    [T.StructField("time", f.dataType) if f.name == "ts" else f for f in EVENTS_SCHEMA.fields]
)


def test_ingest_bootstrap_compact(spark, tmp_path):
    # 1. streaming ingest: file source → partitioned parquet sink
    src = str(tmp_path / "src")
    batches = [
        _rows(0, BASE, user=1, n=40, step_ns=30 * NS),
        _rows(100, BASE + 600 * NS, user=2, n=40, step_ns=30 * NS),
        _rows(200, BASE + 3600 * NS, user=3, n=30, step_ns=30 * NS),
    ]
    _write_batches(spark, src, batches)
    staged = str(tmp_path / "staged")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    hour_ns = 3600 * NS
    q = (
        stream.withColumn("time", F.col("ts"))
        .withColumn("date", F.from_unixtime((F.col("ts") / NS).cast("long"), "yyyy-MM-dd"))
        .withColumn("hour", F.from_unixtime((F.col("ts") / NS).cast("long"), "HH"))
        .writeStream.format("parquet")
        .partitionBy("date", "hour")
        .option("path", staged)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # 2. external-writer layout: relocate into <host>/dbs/db-0/table-0/<date>/<HH-00>/
    root = str(tmp_path / "lake")
    host = FX.HOST
    os.makedirs(os.path.join(root, host, "snapshots"), exist_ok=True)
    moved = 0
    for p in glob.glob(os.path.join(staged, "date=*", "hour=*", "*.parquet")):
        date = p.split("date=")[1].split("/")[0]
        hour = p.split("hour=")[1].split("/")[0]
        dest = os.path.join(root, host, "dbs", "db-0", "table-0", date, f"{hour}-00", f"ingest_{moved:04d}_{os.path.basename(p)}")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copy(p, dest)
        moved += 1
    assert moved >= 3  # micro-batches × hours

    # 3. adopt: catalog the layout from footers alone
    total_before = sum(f.row_count for f in adopt(root, host))
    assert total_before == 110
    assert_invariants(root)  # catalog ↔ disk agree from the start

    # 4. hour compaction over adopted files
    job = CompactionJob(spark, root, [host])
    rep = job.run()[0]
    assert rep.compacted_groups >= 1

    # 5. generation pass
    CompactionJob(spark, root, [host]).run_generation()

    # end state: catalog integrity + row conservation + sortedness
    assert_invariants(root)
    con_total = 0
    import pyarrow.parquet as pq

    for rel in disk_parquets(root):
        con_total += pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows
    assert con_total == total_before


def test_ingest_job_writes_wal_layout(spark, tmp_path):
    """IngestJob: streaming events → WAL-numbered files in the
    reference layout + live snapshot catalog → compaction just works."""
    from kompactor_spark.streaming.ingest import IngestJob

    src = str(tmp_path / "isrc")
    batches = [
        _rows(0, BASE, user=1, n=30, step_ns=60 * NS),
        _rows(100, BASE + 120 * NS, user=2, n=30, step_ns=60 * NS),
        _rows(200, BASE + 3600 * NS, user=3, n=20, step_ns=60 * NS),
    ]
    _write_batches(spark, src, batches, schema=LAKE_SCHEMA)

    root = str(tmp_path / "ilake")
    job = IngestJob(root, FX.HOST, db=0, table=0)
    stream = (
        spark.readStream.schema(LAKE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = job.attach(stream, checkpoint=str(tmp_path / "ickpt"))
    q.awaitTermination(120)

    # WAL-named files in the reference layout, cataloged from birth
    on_disk = sorted(disk_parquets(root))
    assert on_disk, "no files ingested"
    import re

    assert all(re.search(r"\d{10}\.parquet$", p) for p in on_disk)
    snap_files = glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json"))
    assert len(snap_files) == 1

    # catalog ↔ disk agree; rows conserved
    from kompactor_spark.compaction.metadata import read_snapshot

    snap = read_snapshot(snap_files[0])
    assert snap.row_count == 80
    cataloged = {f.path for _, _, f in snap.all_files()}
    assert cataloged == set(on_disk)

    # the compactor consumes it directly
    rep = CompactionJob(spark, root, [FX.HOST]).run()[0]
    assert rep.compacted_groups >= 1
    snap2 = read_snapshot(snap_files[0])
    assert snap2.row_count == 80


def test_ingest_batch_replay_idempotent(spark, tmp_path):
    """foreachBatch redelivery: replaying the same batch_id overwrites
    the same WAL files and leaves the catalog byte-identical — the
    crash-recovery contract."""
    from kompactor_spark.streaming.ingest import IngestJob

    root = str(tmp_path / "rlake")
    job = IngestJob(root, FX.HOST, db=0, table=0)
    rows = spark.createDataFrame(_rows(0, BASE, user=1, n=25, step_ns=60 * NS), LAKE_SCHEMA)

    job.write_batch(rows, 0)
    files_1 = sorted(disk_parquets(root))
    snap_1 = open(ingest_snapshot(root)).read()

    job.write_batch(rows, 0)  # replay of batch 0
    assert sorted(disk_parquets(root)) == files_1
    assert open(ingest_snapshot(root)).read() == snap_1

    job.write_batch(spark.createDataFrame(_rows(100, BASE + 60 * NS, user=2, n=5), LAKE_SCHEMA), 1)
    assert len(disk_parquets(root)) == len(files_1) + len(
        {p for p in disk_parquets(root) if "0000000002" in p}
    )


def test_ingest_auto_compacts_closed_hours(spark, tmp_path):
    """Continuous compaction: once the event clock passes an hour (plus
    grace), that hour's WAL files merge into one c_ file; the hour
    still receiving writes is never compacted."""
    import re

    from kompactor_spark.streaming.ingest import IngestJob

    root = str(tmp_path / "alake")
    job = IngestJob(root, FX.HOST, db=0, table=0, auto_compact=True)

    # two batches inside hour A: nothing is closed yet -> no c_ files
    job.write_batch(spark.createDataFrame(_rows(0, BASE, user=1, n=20, step_ns=60 * NS), LAKE_SCHEMA), 0)
    job.write_batch(spark.createDataFrame(_rows(50, BASE + 10 * NS, user=2, n=20, step_ns=60 * NS), LAKE_SCHEMA), 1)
    assert not [p for p in disk_parquets(root) if "/c_" in "/" + os.path.basename(p)]

    # batch in hour A+1 closes hour A -> its two WAL files merge
    job.write_batch(
        spark.createDataFrame(_rows(100, BASE + 3700 * NS, user=3, n=10, step_ns=6 * NS), LAKE_SCHEMA), 2
    )
    on_disk = sorted(disk_parquets(root))
    compacted = [p for p in on_disk if re.search(r"c_\d{10}_\d{10}_h\d+\.parquet$", p)]
    assert len(compacted) == 1, on_disk
    # open hour (A+1) keeps its raw WAL file
    assert any(re.search(r"/\d{10}\.parquet$", p) for p in on_disk)

    # catalog tracks the merge exactly; rows conserved
    from kompactor_spark.compaction.metadata import read_snapshot

    snap = read_snapshot(ingest_snapshot(root))
    assert snap.row_count == 50
    assert {f.path for _, _, f in snap.all_files()} == set(on_disk)


def test_cli_ingest_auto_compact(spark, tmp_path):
    """CLI ingest mode: --ingest-source streams a directory into the WAL
    layout with --auto-compact merging event-time-closed hours."""
    import re

    from kompactor_spark.cli import main as cli_main
    from kompactor_spark.compaction.metadata import read_snapshot

    src = str(tmp_path / "csrc")
    batches = [
        _rows(0, BASE, user=1, n=20, step_ns=60 * NS),
        _rows(50, BASE + 10 * NS, user=2, n=20, step_ns=60 * NS),
        _rows(100, BASE + 3700 * NS, user=3, n=10, step_ns=6 * NS),
    ]
    _write_batches(spark, src, batches, schema=LAKE_SCHEMA)

    root = str(tmp_path / "clake")
    rc = cli_main(
        [
            root,
            "--hosts",
            FX.HOST,
            "--ingest-source",
            os.path.join(src, "*"),
            "--auto-compact",
            "--max-files-per-trigger",
            "1",
            "--checkpoint",
            str(tmp_path / "cckpt"),
        ],
        spark=spark,
    )
    assert rc == 0
    on_disk = sorted(disk_parquets(root))
    assert on_disk, "nothing ingested"
    snap = read_snapshot(os.path.join(root, FX.HOST, "snapshots", "0001.info.json"))
    assert snap.row_count == 50
    assert {f.path for _, _, f in snap.all_files()} == set(on_disk)
    # hour A closed by the hour-A+1 batch -> compacted output exists
    assert any(re.search(r"c_\d{10}_\d{10}_h\d+\.parquet$", p) for p in on_disk)


def test_cli_ingest_requires_single_host(spark, tmp_path):
    from kompactor_spark.cli import main as cli_main

    rc = cli_main(
        [str(tmp_path), "--hosts", "a,b", "--ingest-source", str(tmp_path)],
        spark=spark,
    )
    assert rc == 2


def test_cli_ingest_line_protocol(spark, tmp_path):
    """Line-protocol text → streaming ingest → WAL parquet layout with
    map-typed tags/fields and ns-long time; malformed lines dropped."""
    src = tmp_path / "lpsrc"
    src.mkdir()
    base = BASE
    lines = []
    for i in range(30):
        lines.append(f"cpu,host=h{i % 3} usage={i / 10:.1f},n={i}i {base + i * 60 * NS}")
    lines.append('bad line usage="unterminated 123')  # malformed -> dropped
    lines.append(f"cpu,host=h9 usage=9.9 {base + 3700 * NS}")  # next hour
    (src / "w0.lp").write_text("\n".join(lines) + "\n")

    from kompactor_spark.cli import main as cli_main

    root = str(tmp_path / "lplake")
    rc = cli_main(
        [
            root,
            "--hosts",
            FX.HOST,
            "--ingest-source",
            str(src),
            "--ingest-format",
            "lineprotocol",
            "--checkpoint",
            str(tmp_path / "lpckpt"),
        ],
        spark=spark,
    )
    assert rc == 0
    files = disk_parquets(root)
    assert files, "no WAL files written"
    back = spark.read.parquet(*[os.path.join(root, "") + f if not f.startswith("/") else f for f in files])
    assert back.count() == 31  # 30 hour-A + 1 hour-B, malformed dropped
    row = back.where(F.col("tags.host") == "h9").first()
    assert row.measurement == "cpu" and row.fields["usage"] == "9.9"
    from kompactor_spark.compaction.metadata import read_snapshot

    snap = read_snapshot(os.path.join(root, FX.HOST, "snapshots", "0001.info.json"))
    assert snap.row_count == 31


def test_ingest_single_batch_spans_hours(spark, tmp_path, monkeypatch):
    """One micro-batch spanning 3 hours → exactly one time-sorted WAL
    file per hour in a SINGLE pass (one lake write), with footer-
    derived catalog stats matching the real row ranges, on both of the
    lake writer's backends."""
    import pyarrow.parquet as pq

    from kompactor_spark.compaction import writer
    from kompactor_spark.compaction.metadata import read_snapshot
    from kompactor_spark.streaming.ingest import IngestJob

    hour_start = (BASE // (3600 * NS)) * 3600 * NS
    # 90 rows, 2 min apart: 3 full hours starting at an aligned boundary
    df = spark.createDataFrame(_rows(0, hour_start, user=1, n=90, step_ns=120 * NS), LAKE_SCHEMA)
    for backend, limit in {"local": 2**63, "spark": -1}.items():
        monkeypatch.setattr(writer, "LOCAL_WRITE_MAX_BYTES", limit)
        root = str(tmp_path / backend)
        job = IngestJob(root, FX.HOST, db=0, table=0)
        job.write_batch(df, 0)

        on_disk = sorted(disk_parquets(root))
        assert len(on_disk) == 3, on_disk  # one file per hour, same wal number
        assert all(os.path.basename(p) == "0000000001.parquet" for p in on_disk)

        snap = read_snapshot(ingest_snapshot(root))
        infos = sorted((f for _, _, f in snap.all_files()), key=lambda f: f.min_time)
        assert [f.row_count for f in infos] == [30, 30, 30]
        for i, f in enumerate(infos):
            lo = hour_start + i * 3600 * NS
            assert f.min_time == lo and f.max_time == lo + 58 * 60 * NS
            # file content is time-sorted (the compactor's input invariant)
            ts = pq.read_table(os.path.join(root, f.path), columns=["time"]).column("time").to_pylist()
            assert ts == sorted(ts) and len(ts) == 30
        # staging is cleaned up
        assert not glob.glob(os.path.join(root, FX.HOST, "_staging_*"))


def test_cli_ingest_empty_source_reports_zero(spark, tmp_path, capsys):
    """An empty source leaves no catalog behind; the summary reads the
    catalog through load_manifest and reports zero instead of failing."""
    from kompactor_spark.cli import main as cli_main

    src = tmp_path / "empty"
    src.mkdir()
    rc = cli_main(
        [
            str(tmp_path / "lake"),
            "--hosts",
            FX.HOST,
            "--ingest-source",
            str(src),
            "--ingest-format",
            "lineprotocol",
            "--checkpoint",
            str(tmp_path / "ckpt"),
        ],
        spark=spark,
    )
    assert rc == 0
    assert "0 rows in 0 files" in capsys.readouterr().out
