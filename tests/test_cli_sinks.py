"""CLI (reference C1 parity) and S6 size-targeted multi-file sink."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from kompactor_spark.cli import main
from kompactor_spark.sources import write_range_sorted
from kompactor_spark.tables import load_table

from tests import fixtures_compaction as FX


def test_cli_hour_pass(spark, tmp_path, capsys):
    root = str(tmp_path / "cli")
    FX.basic_hour(root)
    rc = main([root, "--hosts", FX.HOST], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert f"{FX.HOST}: compacted 1/1 groups" in out
    assert "150 rows" in out


def test_cli_dry_run_then_generation(spark, tmp_path, capsys):
    root = str(tmp_path / "clig")
    FX.multi_hour(root)
    before = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    assert main([root, "--hosts", FX.HOST, "--dry-run"], spark=spark) == 0
    assert sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)) == before

    assert main([root, "--hosts", FX.HOST], spark=spark) == 0
    assert main([root, "--hosts", FX.HOST, "--generation"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "_g" in out
    gen = [p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True) if "_g" in os.path.basename(p)]
    assert len(gen) == 1


def test_cli_requires_hosts():
    with pytest.raises(SystemExit):
        main(["/tmp/nowhere"])


def test_s6_range_sorted_multi_file(spark, tmp_path):
    """S6: multi-file write is globally range-sorted — files cover
    disjoint, increasing time ranges and are sorted within (the 100 TB
    write path: no single-writer bottleneck)."""
    events = load_table(spark, "/root/testdata/sf0.01", "events")
    out = str(tmp_path / "s6")
    write_range_sorted(events, out, sort_col="ts", num_files=4)

    parts = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    assert len(parts) == 4
    ranges = []
    total = 0
    for p in parts:
        t = pq.read_table(p, columns=["ts"]).column("ts").to_pylist()
        total += len(t)
        assert t == sorted(t), f"not sorted within: {p}"
        if t:
            ranges.append((min(t), max(t)))
    assert total == events.count()
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file ranges overlap"


def test_multimodal_resize_and_frames(spark):
    """Resize + frame-sample plumbing: schema, determinism, fan-out."""
    from kompactor_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synthesize_media,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(8)
    media = synthesize_media(docs, "doc_id", kind="video")

    from kompactor_spark.operators.multimodal import decode_bmp

    resized = resize_images(media, 16, 16).collect()
    assert len(resized) == 8
    assert all((r.width, r.height) == (16, 16) for r in resized)
    # output payloads are themselves valid BMPs with the target dims
    assert all(decode_bmp(bytes(r.payload)).shape == (16, 16, 3) for r in resized)

    frames = sample_frames(media, every_ms=250)
    per = frames.groupBy("media_id").count().collect()
    assert len(per) == 8
    assert all(r["count"] == 4 for r in per)  # 1000ms / 250ms
    # deterministic: second run identical
    a = sorted((r.media_id, r.frame_idx) for r in frames.collect())
    b = sorted((r.media_id, r.frame_idx) for r in sample_frames(media, every_ms=250).collect())
    assert a == b


def test_cli_bootstrap_adopts_bare_layout(spark, tmp_path, capsys):
    """--bootstrap: a dbs/ tree with NO snapshot catalog is adopted
    (footer stats) and then compacted in the same invocation."""
    root = str(tmp_path / "boot")
    b = FX.LayoutBuilder(root)
    hstart = (FX.BASE_NS // (3600 * FX.NS)) * 3600 * FX.NS
    for wal in (1, 2, 3):
        rows = FX.make_rows(20, hstart + wal * 11 * FX.NS, 2000 * FX.NS, seed=wal)
        b.add_parquet(0, 3, "2025-01-26", 14, f"{wal:010d}.parquet", rows)
    # deliberately no b.write_snapshot()

    rc = main([root, "--hosts", FX.HOST, "--bootstrap"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "bootstrapped catalog (60 rows" in out
    assert "compacted 1/1 groups" in out


def test_cli_fsck(spark, tmp_path, capsys):
    """--fsck: clean lake passes; deleting a data file or corrupting a
    stat is detected with a non-zero exit."""
    import json

    root = str(tmp_path / "fsck")
    FX.basic_hour(root)
    assert main([root, "--hosts", FX.HOST, "--fsck"], spark=spark) == 0
    assert "OK" in capsys.readouterr().out

    # compact, then damage the lake: remove one file, corrupt one stat
    main([root, "--hosts", FX.HOST], spark=spark)
    assert main([root, "--hosts", FX.HOST, "--fsck"], spark=spark) == 0
    capsys.readouterr()

    (snap_path,) = glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.info.json"))
    meta = json.load(open(snap_path))
    meta["databases"][0][1]["tables"][0][1][0]["row_count"] += 1
    json.dump(meta, open(snap_path, "w"))
    assert main([root, "--hosts", FX.HOST, "--fsck"], spark=spark) == 2
    assert "stat mismatches" in capsys.readouterr().out


def test_cli_catalog_modes_start_no_session(tmp_path, monkeypatch, capsys):
    """--fsck, --retention-cutoff-ns and --expire-snapshots only read and
    write metadata, so they start no Spark session."""
    from kompactor_spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("a catalog-only mode started a Spark session")

    monkeypatch.setattr(session, "get_spark", no_session)
    root = str(tmp_path / "lake")
    FX.basic_hour(root)
    assert main([root, "--hosts", FX.HOST, "--fsck"]) == 0
    assert "OK" in capsys.readouterr().out
    assert main([root, "--hosts", FX.HOST, "--retention-cutoff-ns", "0"]) == 0
    assert "pruned 0" in capsys.readouterr().out
    assert main([root, "--hosts", FX.HOST, "--expire-snapshots"]) == 0
    assert "kept=1" in capsys.readouterr().out


def test_line_protocol_roundtrip(spark, tmp_path):
    """events → rendered line protocol → text file → parse → identical
    (measurement, tags, typed fields, ns time). All built-in
    expressions — the text path must not lose ns precision or field
    types (SURVEY §1.1: the reference lake IS materialized line
    protocol)."""
    from pyspark.sql import functions as F

    from kompactor_spark.sources import (
        lp_field_double,
        lp_field_long,
        lp_field_string,
        read_line_protocol,
        to_line_protocol,
    )
    from kompactor_spark.tables import loader

    T = loader("/root/testdata/sf0.001", spark)
    ev = T("events").select("event_id", "ts", "user_id", "event_type", "value").limit(500)

    lines = to_line_protocol(
        ev,
        measurement="events",
        tag_cols=["event_type"],
        field_cols={"event_id": "int", "user_id": "int", "value": "float"},
        time_col="ts",
    )
    out = str(tmp_path / "lp")
    lines.coalesce(1).write.text(out)

    parsed = read_line_protocol(spark, out)
    assert parsed.where(F.col("malformed").isNotNull()).count() == 0
    back = parsed.select(
        lp_field_long(F.col("fields"), "event_id").alias("event_id"),
        F.col("time").alias("ts"),
        lp_field_long(F.col("fields"), "user_id").alias("user_id"),
        F.element_at("tags", "event_type").alias("event_type"),
        lp_field_double(F.col("fields"), "value").alias("value"),
        F.col("measurement"),
    )
    assert back.where(F.col("measurement") != "events").count() == 0
    a = ev.orderBy("event_id").collect()
    b = back.drop("measurement").orderBy("event_id").collect()
    assert len(a) == len(b) == 500
    for ra, rb in zip(a, b):
        assert ra.event_id == rb.event_id and ra.ts == rb.ts
        assert ra.user_id == rb.user_id and ra.event_type == rb.event_type
        assert abs(ra.value - rb.value) < 5e-7  # %.6f text precision


def test_line_protocol_grammar_cases(spark, tmp_path):
    """Tagless lines, string/bool fields, missing timestamp, escaped
    separators (parsed per the wire grammar), genuinely-bad lines
    surfaced as malformed (never misparsed)."""
    from pyspark.sql import functions as F

    from kompactor_spark.sources import lp_field_bool, lp_field_string, read_line_protocol

    src = tmp_path / "cases.lp"
    src.write_text(
        'cpu,host=h1,region=eu usage=0.5,ok=true 1740000000123456789\n'
        'mem free=42i\n'
        'disk,mount=/data used="almost full" 1740000000000000000\n'
        'sys\\ load,dc=us\\,east q\\=len=3i,msg="he said \\"hi\\"" 123\n'
        'unterminated s="oops 5\n'
        'noequals,tagonly v=1\n'
        '\n'
    )
    df = read_line_protocol(spark, str(src))
    rows = {r.measurement: r for r in df.collect() if r.measurement}
    assert rows["cpu"].tags == {"host": "h1", "region": "eu"}
    assert rows["cpu"].time == 1740000000123456789
    assert rows["mem"].tags == {} and rows["mem"].time is None
    assert rows["mem"].fields == {"free": "42i"}
    assert rows["disk"].fields["used"] == '"almost full"'
    # escaped space in measurement, escaped comma in tag value,
    # escaped = in field key, escaped quotes inside string value
    assert rows["sys load"].tags == {"dc": "us,east"}
    assert rows["sys load"].fields["q=len"] == "3i"
    said = (
        df.where(F.col("measurement") == "sys load")
        .select(lp_field_string(F.col("fields"), "msg").alias("s"))
        .first()
    )
    assert said.s == 'he said "hi"'
    disk_used = (
        df.where(F.col("measurement") == "disk")
        .select(lp_field_string(F.col("fields"), "used").alias("s"))
        .first()
    )
    assert disk_used.s == "almost full"
    cpu_ok = df.where(F.col("measurement") == "cpu").select(lp_field_bool(F.col("fields"), "ok").alias("b")).first()
    assert cpu_ok.b is True
    malformed = sorted(r.malformed for r in df.collect() if r.malformed)
    assert malformed == ['noequals,tagonly v=1', 'unterminated s="oops 5']


def test_cli_export_zorder(spark, tmp_path):
    """CLI --export-zorder: catalog-scoped read → z-ordered parquet copy
    with conserved rows; the catalog's own layout is untouched."""
    import glob as _glob

    from tests import fixtures_compaction as FXC
    from kompactor_spark.cli import main as cli_main

    root = str(tmp_path / "lake")
    FXC.basic_hour(root)
    before = set(_glob.glob(f"{root}/{FXC.HOST}/dbs/**/*.parquet", recursive=True))
    dest = str(tmp_path / "zexport")
    rc = cli_main(
        [
            root, "--hosts", FXC.HOST, "--db", "0", "--table", "3",
            "--export-zorder", dest, "--zorder-cols", "f_int,time",
            "--zorder-files", "4",
        ],
        spark=spark,
    )
    assert rc == 0
    out = spark.read.parquet(dest)
    assert out.count() == 150  # 3 files x 50 rows in the fixture
    assert len(_glob.glob(f"{dest}/*.parquet")) == 4
    assert set(_glob.glob(f"{root}/{FXC.HOST}/dbs/**/*.parquet", recursive=True)) == before


def test_cli_expire_snapshots(spark, tmp_path, capsys):
    from tests import fixtures_compaction as FXC

    root = str(tmp_path / "gc")
    b = FXC.LayoutBuilder(root)
    h = (FXC.BASE_NS // (3600 * FXC.NS)) * 3600 * FXC.NS
    e1 = [b.add_parquet(0, 3, "2025-01-26", 14, "0000000001.parquet",
                        FXC.make_rows(10, h, 1000 * FXC.NS, seed=1))]
    b.write_snapshot("0001.info.json", e1)
    e2 = [b.add_parquet(0, 3, "2025-01-26", 14, "0000000002.parquet",
                        FXC.make_rows(10, h + 5 * FXC.NS, 1000 * FXC.NS, seed=2))]
    b.write_snapshot("0002.info.json", e2)
    assert main([root, "--hosts", FXC.HOST, "--expire-snapshots"], spark=spark) == 0
    assert "merged=2 kept=1" in capsys.readouterr().out


def test_cli_export_rollup_exact_reaggregation(spark, tmp_path):
    """CLI --export-rollup: hourly exact state materialized from the
    catalog; a daily re-aggregation of those rows equals a direct daily
    aggregation over raw data EXACTLY (limb sums are associative)."""
    from pyspark.sql import functions as F

    from tests import fixtures_compaction as FXC
    from kompactor_spark import fixedpoint as fx
    from kompactor_spark.cli import main as cli_main
    from kompactor_spark.compaction.readers import read_table
    from kompactor_spark.operators.rollup import exact_reaggregate

    root = str(tmp_path / "lake")
    FXC.basic_hour(root)
    dest = str(tmp_path / "rollup")
    rc = cli_main(
        [
            root, "--hosts", FXC.HOST, "--db", "0", "--table", "3",
            "--export-rollup", dest, "--rollup-value-col", "f_dbl",
            "--rollup-key-cols", "tag1",
        ],
        spark=spark,
    )
    assert rc == 0
    rollup = spark.read.parquet(dest)
    day_ns = 24 * 3600 * 10**9
    daily = {
        (r.tag1, r.bucket_ns): r
        for r in exact_reaggregate(rollup, day_ns, key_cols=("tag1",)).collect()
    }
    raw = read_table(spark, root, FXC.HOST, 0, 3)
    units = fx.to_units("f_dbl", 6)
    hi, lo = fx.limb_split(units)
    direct = (
        raw.select(
            "tag1",
            (F.col("time") - F.col("time") % day_ns).cast("long").alias("bucket_ns"),
            hi.alias("h"), lo.alias("l"), units.alias("u"),
        )
        .groupBy("tag1", "bucket_ns")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            fx.exact_sum("h", "l", 6).cast("double").alias("value_sum"),
            F.min("u").alias("v_min_units"),
            F.max("u").alias("v_max_units"),
        )
        .collect()
    )
    assert len(direct) == len(daily) > 0
    for r in direct:
        o = daily[(r.tag1, r.bucket_ns)]
        assert (o.n, o.value_sum, o.v_min_units, o.v_max_units) == (
            r.n, r.value_sum, r.v_min_units, r.v_max_units
        )


def test_cli_skew_report(spark, tmp_path, capsys):
    """CLI --skew-report: top-key census over the catalog-scoped table,
    shares sum to <= 1 and print in descending order."""
    from tests import fixtures_compaction as FXC
    from kompactor_spark.cli import main as cli_main

    root = str(tmp_path / "lake")
    FXC.basic_hour(root)
    rc = cli_main(
        [root, "--hosts", FXC.HOST, "--db", "0", "--table", "3", "--skew-report", "tag1"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "key skew" in out and "share=" in out
    shares = [float(line.split("share=")[1].split()[0]) for line in out.splitlines() if "share=" in line]
    assert shares and all(0 < s <= 1.0 for s in shares)


def test_cli_bootstrap_adopts_only_uncataloged_files(spark, tmp_path, capsys):
    """--bootstrap over a cataloged lake with one bare file adopts only
    that file, through the locked commit, so ids stay distinct; a second
    --bootstrap changes nothing. --dry-run keeps hour 14 as it is, so
    all four files can be checked."""
    from kompactor_spark.compaction.metadata import load_manifest

    root = str(tmp_path)
    FX.basic_hour(root)  # ids 1-3 in hour 14
    h13 = FX.BASE_NS - FX.BASE_NS % (3600 * FX.NS) - 3600 * FX.NS
    bare = os.path.join(root, FX.HOST, "dbs/db-0/table-3/2025-01-26/13-00/0000000009.parquet")
    os.makedirs(os.path.dirname(bare))
    pq.write_table(FX.make_rows(10, h13, 600 * FX.NS, seed=9), bare)
    on_disk = sorted(
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, FX.HOST, "dbs", "**", "*.parquet"), recursive=True)
    )

    def snapshots():
        return {p: open(p, "rb").read() for p in glob.glob(os.path.join(root, FX.HOST, "snapshots", "*.json"))}

    argv = [root, "--hosts", FX.HOST, "--bootstrap", "--dry-run"]
    assert main(argv, spark=spark) == 0
    assert "bootstrapped catalog (10 rows, 1 files)" in capsys.readouterr().out
    files = [f for _, _, f in load_manifest(root, FX.HOST)]
    assert sorted(f.path for f in files) == on_disk and len(on_disk) == 4
    assert len({f.id for f in files}) == 4

    after = snapshots()
    assert main(argv, spark=spark) == 0
    assert "bootstrapped catalog (0 rows, 0 files)" in capsys.readouterr().out
    assert snapshots() == after
