"""B-class streaming tests (SURVEY §5.2): drive the X1-X5 jobs
incrementally (file source, multiple micro-batches via maxFilesPerTrigger,
availableNow trigger) and assert the final state matches the one-shot
batch run; watermark semantics exercised with injected late rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kompactor_spark.streaming import jobs as J

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch ns
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

NS = 1_000_000_000
BASE = 1_700_000_000 * NS


def _write_batches(spark, path, batches, schema=EVENTS_SCHEMA):
    import glob as _glob
    import time

    now = time.time()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        d = os.path.join(path, f"b{i}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        # file source orders micro-batches by mtime — make it unambiguous
        for f in _glob.glob(os.path.join(d, "*.parquet")):
            os.utime(f, (now + i * 30, now + i * 30))


def _run_stream(spark, src_dir, builder, out_name, tmp):
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per input file
        .parquet(os.path.join(src_dir, "*"))
    )
    q = (
        builder(stream)
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode("complete" if out_name != "dedup" else "append")
        .option("checkpointLocation", os.path.join(tmp, f"ckpt_{out_name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {out_name}")


def _rows(n0, t0, user=1, etype="click", n=5, step_ns=60 * NS):
    return [
        (n0 + i, t0 + i * step_ns, user, etype, float(i), "{}")
        for i in range(n)
    ]


@pytest.fixture()
def src(tmp_path, spark):
    p = str(tmp_path / "src")
    batches = [
        _rows(0, BASE, user=1),
        _rows(10, BASE + 3600 * NS, user=1) + _rows(20, BASE + 2 * 3600 * NS, user=2),
        _rows(30, BASE + 3 * 3600 * NS, user=2, etype="purchase"),
    ]
    _write_batches(spark, p, batches)
    return p


def _canon(df, keys):
    return sorted(tuple(r) for r in df.select(*keys).collect())


def test_x1_tumbling_incremental_matches_batch(spark, src, tmp_path):
    streamed = _run_stream(spark, src, J.tumbling_counts, "x1", str(tmp_path))
    batch = J.tumbling_counts(spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*")))
    cols = ["window_start_ns", "event_type", "n_events", "total_value"]
    assert _canon(streamed, cols) == _canon(batch, cols)


def test_x2_sliding_incremental_matches_batch(spark, src, tmp_path):
    streamed = _run_stream(spark, src, J.sliding_counts, "x2", str(tmp_path))
    batch = J.sliding_counts(spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*")))
    cols = ["window_start_ns", "n_events", "total_value"]
    assert _canon(streamed, cols) == _canon(batch, cols)


def test_x3_session_incremental_matches_batch(spark, src, tmp_path):
    streamed = _run_stream(spark, src, J.session_counts, "x3", str(tmp_path))
    batch = J.session_counts(spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*")))
    cols = ["session_start_ns", "user_id", "n_events"]
    assert _canon(streamed, cols) == _canon(batch, cols)
    # 5 events at 1-min spacing per burst → each burst is one session
    assert streamed.count() == 4


def test_x4_watermark_drops_late_rows(spark, tmp_path):
    """Deterministic micro-batch sequence via checkpoint restarts: a row
    arriving behind the watermark is dropped; the closed window
    finalizes WITHOUT it."""
    p = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "ckpt_x4")
    os.makedirs(p, exist_ok=True)

    out = str(tmp_path / "x4_out")
    dropped_counts: list[int] = []

    def step(qname):
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(os.path.join(p, "*"))
        q = (
            J.tumbling_counts(stream, watermark="10 minutes")
            .writeStream.format("parquet")  # file sink: append + restartable
            .option("path", out)
            .outputMode("append")  # append emits only FINALIZED windows
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        dropped_counts.extend(
            int(so["numRowsDroppedByWatermark"])
            for pp in q.recentProgress
            for so in pp["stateOperators"]
        )

    batches = [
        _rows(0, BASE, user=1, n=3),  # window W0 = [22:00, 23:00)
        _rows(10, BASE + 4 * 3600 * NS, user=1, n=3),  # watermark → far past W0
        [(99, BASE + 1 * NS, 1, "click", 9.9, "{}")],  # late: behind watermark
        _rows(20, BASE + 8 * 3600 * NS, user=1, n=3),  # flush remaining state
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(p, f"step{i}"))
        step(f"x4_s{i}")

    emitted = [tuple(r) for r in spark.read.parquet(out).collect()]
    w0 = BASE - BASE % (3600 * NS)
    w0_rows = [r for r in emitted if r[0] == w0]
    # W0 finalized exactly once, with only the 3 on-time rows
    assert len(w0_rows) == 1, f"W0 emissions: {w0_rows}"
    assert w0_rows[0][2] == 3
    # the late row was dropped by the watermark, observably
    assert sum(dropped_counts) >= 1, f"expected a watermark drop, got {dropped_counts}"


def test_x16_stream_m4_incremental_matches_batch(spark, src, tmp_path):
    """X16-stream: the continuous M4 downsample must converge to the
    one-shot batch result after incremental micro-batches (min_by/max_by
    state merged across batches)."""
    streamed = _run_stream(spark, src, J.m4_downsample, "m4", str(tmp_path))
    batch = J.m4_downsample(spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*")))
    cols = ["bucket_ns", "n", "v_min", "v_max", "v_first", "v_last", "t_first", "t_last"]
    assert _canon(streamed, cols) == _canon(batch, cols)
    # per-bucket first/last must be the time-ordered endpoints
    row = {r.bucket_ns: r for r in streamed.collect()}
    first_bucket = row[BASE - BASE % (3600 * NS)]
    assert first_bucket.n == 5
    assert first_bucket.v_first == 0.0 and first_bucket.v_last == 4.0


def test_x5_stateful_dedup(spark, tmp_path):
    p = str(tmp_path / "dup_src")
    rows = _rows(0, BASE, n=4)
    dup_rows = rows[:2]  # same event_ids again, within watermark
    _write_batches(spark, p, [rows, dup_rows])
    streamed = _run_stream(spark, p, J.stateful_dedup, "dedup", str(tmp_path))
    assert sorted(r.event_id for r in streamed.select("event_id").collect()) == [0, 1, 2, 3]


def test_x6_stateful_running_user_stats(spark, src, tmp_path):
    """X6: applyInPandasWithState running per-user totals — the final
    update per user matches the one-shot batch aggregation."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        J.running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("x6")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_x6"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    updates = spark.sql("SELECT * FROM x6").collect()
    # n_events grows monotonically per user → the max-n row is final state
    final = {}
    for r in updates:
        if r.user_id not in final or r.n_events > final[r.user_id].n_events:
            final[r.user_id] = r

    batch = J.running_user_stats(
        spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*"))
    ).collect()
    expect = {r.user_id: r for r in batch}
    assert set(final) == set(expect)
    for uid, r in final.items():
        e = expect[uid]
        assert (r.n_events, r.max_ts) == (e.n_events, e.max_ts)
        assert abs(r.total_value - e.total_value) < 1e-6


def test_x9_stream_stream_join_matches_batch(spark, tmp_path):
    """X9: watermarked stream-stream join, incremental == batch."""
    p = str(tmp_path / "ss_src")
    batches = [
        _rows(0, BASE, user=1, etype="signup", n=2, step_ns=600 * NS),
        _rows(10, BASE + 1800 * NS, user=1, etype="error", n=3, step_ns=600 * NS)
        + _rows(20, BASE, user=2, etype="signup", n=1),
        _rows(30, BASE + 7200 * NS, user=2, etype="error", n=2, step_ns=600 * NS),
    ]
    _write_batches(spark, p, batches)

    def split(df):
        return (
            df.where(F.col("event_type") == "error"),
            df.where(F.col("event_type") == "signup"),
        )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(p, "*"))
    )
    q = (
        J.error_signup_join(*split(stream))
        .writeStream.format("memory")
        .queryName("x9")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_x9"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM x9")

    batch = J.error_signup_join(*split(spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(p, "*"))))
    cols = ["err_id", "user_id", "signup_id", "err_ts", "signup_ts"]
    assert _canon(streamed, cols) == _canon(batch, cols)
    assert streamed.count() > 0


def test_x13_stream_static_enrichment_matches_batch(spark, tmp_path):
    """X13: stream-static broadcast join, incremental == batch; the
    static dim is joined fresh into every micro-batch, statelessly."""
    p = str(tmp_path / "en_src")
    batches = [
        _rows(0, BASE, user=1, n=3, step_ns=600 * NS),
        _rows(10, BASE + 1800 * NS, user=2, n=3, step_ns=600 * NS),
        _rows(20, BASE + 3600 * NS, user=3, n=2, step_ns=600 * NS),
    ]
    _write_batches(spark, p, batches)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic"), (4, "gold")], ["user_id", "tier"]
    )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(p, "*"))
    )
    q = (
        J.enrich_stream(stream, dim)
        .writeStream.format("memory")
        .queryName("x13")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_x13"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM x13")

    batch = J.enrich_stream(spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(p, "*")), dim)
    cols = ["event_id", "user_id", "tier"]
    assert _canon(streamed, cols) == _canon(batch, cols)
    assert streamed.count() == 8
    # left semantics: user 3 has no dim row -> tier NULL, rows kept
    assert streamed.where(F.col("user_id") == 3).where(F.col("tier").isNull()).count() == 2


def test_x14_streaming_upsert_keyed_sink(spark, tmp_path):
    """X14: foreachBatch keyed MERGE sink — after two micro-batches
    with overlapping keys the live table equals the one-shot
    latest-per-key over all input; a checkpointed re-run applies
    nothing new (exactly-once)."""
    import os

    from kompactor_spark.streaming.jobs import read_upsert_table, streaming_upsert

    src = str(tmp_path / "src")
    _write_batches(
        spark,
        src,
        [
            [
                (1, BASE + 10 * NS, 1, "signup", 1.0, "{}"),
                (2, BASE + 20 * NS, 2, "signup", 2.0, "{}"),
                (3, BASE + 30 * NS, 2, "purchase", 3.0, "{}"),  # same key, later
            ],
            [
                (4, BASE + 40 * NS, 2, "error", 4.0, "{}"),  # update key 2
                (5, BASE + 50 * NS, 3, "signup", 5.0, "{}"),  # insert key 3
            ],
        ],
    )
    target = str(tmp_path / "keyed")
    os.makedirs(target)

    def run():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q = streaming_upsert(
            stream, target, keys=["user_id"], order_col="ts",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    run()
    live = read_upsert_table(spark, target)
    got = {r.user_id: (r.event_id, r.event_type, r.value) for r in live.collect()}
    assert got == {1: (1, "signup", 1.0), 2: (4, "error", 4.0), 3: (5, "signup", 5.0)}

    with open(os.path.join(target, "_LATEST"), encoding="utf-8") as fh:
        v_before = fh.read()
    run()  # restart from checkpoint: no new files -> no new version
    with open(os.path.join(target, "_LATEST"), encoding="utf-8") as fh:
        assert fh.read() == v_before
    assert read_upsert_table(spark, target).count() == 3


def test_x19_stream_ewma_incremental_matches_batch(spark, src, tmp_path):
    """X19-stream: bounded-state streaming EWMA — appended per-event
    rows across micro-batches equal the one-shot batch lag expression."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        J.ewma_stream(stream)
        .writeStream.format("memory")
        .queryName("x19s")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_x19"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM x19s").collect()
    batch = J.ewma_stream(
        spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*"))
    ).collect()
    assert len(streamed) == len(batch) > 0
    skey = {(r.user_id, r.event_id): r for r in streamed}
    for b in batch:
        s = skey[(b.user_id, b.event_id)]
        assert s.ts_ns == b.ts_ns
        assert abs(s.ewma - b.ewma) < 1e-9


def test_x20_stream_cusum_transform_with_state(spark, src, tmp_path):
    """X20-stream: Spark 4 transformWithStateInPandas ValueState CUSUM —
    appended per-event rows across micro-batches equal the batch window
    cumsum exactly (float fold order is the per-user event order on
    both paths)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        J.cusum_stream(stream)
        .writeStream.format("memory")
        .queryName("x20s")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_x20"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM x20s").collect()
    batch = J.cusum_stream(
        spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*"))
    ).collect()
    assert len(streamed) == len(batch) > 0
    skey = {(r.user_id, r.event_id): r for r in streamed}
    for b in batch:
        s = skey[(b.user_id, b.event_id)]
        assert s.ts_ns == b.ts_ns
        assert abs(s.cusum - b.cusum) < 1e-9


def test_x22_stream_threshold_crossings(spark, src, tmp_path):
    """X22-stream: one-scalar state edge detector — appended crossings
    across micro-batches equal the batch lag expression."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        J.threshold_crossing_stream(stream)
        .writeStream.format("memory")
        .queryName("x22s")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_x22"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        ((r.user_id, r.event_id, r.ts_ns, r.prev_value, r.value, r.direction)
         for r in spark.sql("SELECT * FROM x22s").collect())
    )
    batch = sorted(
        ((r.user_id, r.event_id, r.ts_ns, r.prev_value, r.value, r.direction)
         for r in J.threshold_crossing_stream(
             spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*"))
         ).select("user_id", "event_id", "ts_ns", "prev_value", "value", "direction").collect())
    )
    assert streamed == batch and len(batch) > 0


def test_x23_stream_concurrency_incremental_matches_batch(spark, src, tmp_path):
    """X23-stream: new-peak rows appended across micro-batches equal the
    batch sweep-line's new-peak rows exactly (bounded open-interval
    state, emission only on peak increase)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        J.concurrency_stream(stream)
        .writeStream.format("memory")
        .queryName("x23s")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_x23"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = _canon(spark.sql("SELECT * FROM x23s"), ["event_type", "ts_ns", "peak"])
    batch = _canon(
        J.concurrency_stream(spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*"))),
        ["event_type", "ts_ns", "peak"],
    )
    assert streamed == batch
    assert len(streamed) > 0
    # peaks are strictly increasing per series
    by_type: dict = {}
    for et, ts, pk in streamed:
        by_type.setdefault(et, []).append((ts, pk))
    for seq in by_type.values():
        seq.sort()
        peaks = [pk for _, pk in seq]
        assert peaks == sorted(set(peaks))


def test_x23_stream_multichunk_arrow_batches(spark, src, tmp_path):
    """The order-sensitivity fix (ADVICE r4): a group's rows can arrive
    in MULTIPLE Arrow chunks within one micro-batch, and the stateful
    sweep must concatenate them before its single time sort — per-chunk
    sorting replays events out of order across chunk boundaries. The
    default 10k-row chunks never exercise this on test data, so force
    2-row chunks and require exact batch equivalence for the most
    order-sensitive op (interval-pruning concurrency sweep) and the
    EWMA recursion."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q = (
            J.concurrency_stream(stream)
            .writeStream.format("memory")
            .queryName("x23mc")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_x23mc"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = _canon(
            spark.sql("SELECT * FROM x23mc"), ["event_type", "ts_ns", "peak"]
        )
        batch = _canon(
            J.concurrency_stream(
                spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*"))
            ),
            ["event_type", "ts_ns", "peak"],
        )
        assert streamed == batch and len(streamed) > 0

        stream2 = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q2 = (
            J.ewma_stream(stream2)
            .writeStream.format("memory")
            .queryName("x19mc")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_x19mc"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        streamed2 = spark.sql("SELECT * FROM x19mc").collect()
        batch2 = J.ewma_stream(
            spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(src, "*"))
        ).collect()
        assert len(streamed2) == len(batch2) > 0
        skey = {(r.user_id, r.event_id): r for r in streamed2}
        for b in batch2:
            assert abs(skey[(b.user_id, b.event_id)].ewma - b.ewma) < 1e-12
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_x5_dedup_state_survives_restart(spark, tmp_path):
    """X5 recovery semantics (round 14): the dedup state must come back
    from the CHECKPOINT, not from memory — a duplicate arriving in a
    fresh run after the first query stopped must still be dropped, and
    a restart with no new input must emit nothing (exactly-once against
    the file sink). This is the crash-recovery story a 1000-executor
    deployment relies on; the in-run test above never restarts."""
    p = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "ckpt_x5r")
    out = str(tmp_path / "x5r_out")
    os.makedirs(p, exist_ok=True)

    def step(dirname, rows):
        if rows is not None:
            df = spark.createDataFrame(rows, EVENTS_SCHEMA)
            df.coalesce(1).write.mode("overwrite").parquet(os.path.join(p, dirname))
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(os.path.join(p, "*"))
        q = (
            J.stateful_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    rows = _rows(0, BASE, n=4)
    step("b0", rows)                       # run 1: ids 0-3 pass, state written
    step("b1", rows[:2])                   # run 2 (RESTART): ids 0-1 are dups
    step(None, None)                       # run 3: no new input → no output

    emitted = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert emitted == [0, 1, 2, 3], f"restart broke dedup state: {emitted}"
