"""Streaming twins: run each streaming transformation over the fixture
events via a bounded stream and assert parity with the batch operator —
differential testing across execution modes (SURVEY.md §2.9 X5)."""

from __future__ import annotations

import pytest

from ask_duckdb_spark.operators import QUERIES
from ask_duckdb_spark.sources.catalog import load_table
from ask_duckdb_spark.streaming import events as stream_ops
from tests.conftest import SF_DIR


def _stream_dir(tmp_path_factory) -> str:
    """The parquet file source needs a DIRECTORY; expose the single
    fixture file through a symlinked temp dir."""
    import os

    d = tmp_path_factory.mktemp("events_stream")
    os.symlink(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


@pytest.fixture(scope="module")
def stream_path(tmp_path_factory):
    return _stream_dir(tmp_path_factory)


def _run_stream(spark, build, schema_src, stream_path):
    """Drive a streaming query over a file source until exhaustion and
    return the sink rows (complete mode → final aggregates)."""
    stream = (
        spark.readStream.schema(schema_src.schema)
        .format("parquet")
        .load(stream_path)
    )
    out = build(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table("sink")


@pytest.fixture(scope="module")
def raw_events(spark):
    # the streaming source reads the parquet directly: the fixtures store
    # ts as TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
    # timestamp_ntz, so _normalize's nanos fixup is a no-op on them
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    return df


def _normalize(events):
    import pyspark.sql.functions as F

    if dict(events.dtypes).get("ts") == "bigint":
        return events.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return events


def test_streaming_tumbling_matches_batch(spark, raw_events, stream_path):
    got = _run_stream(
        spark, lambda s: stream_ops.tumbling_counts(_normalize(s)), raw_events,
        stream_path,
    ).orderBy("window_start", "event_type")
    want = QUERIES["x15_tumbling_window"](spark, SF_DIR)
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_streaming_sessions_match_batch(spark, raw_events, stream_path):
    got = _run_stream(
        spark, lambda s: stream_ops.session_rollup(_normalize(s)), raw_events,
        stream_path,
    ).orderBy("user_id", "session_start")
    want = QUERIES["x14_session_window"](spark, SF_DIR)
    got_rows = [(r.user_id, r.n_events) for r in got.collect()]
    want_rows = [(r.user_id, r.n_events) for r in want.collect()]
    assert got_rows == want_rows


def test_streaming_dedup_drops_redelivered_events(spark, raw_events, tmp_path):
    """Duplicate the whole input (at-least-once redelivery) across two
    files; streaming dedup must emit each event_id exactly once."""
    src = _normalize(raw_events)
    d = str(tmp_path / "dup_stream")
    src.write.parquet(d)
    src.write.mode("append").parquet(d)  # redelivery

    stream = (
        spark.readStream.schema(src.schema).format("parquet").load(d)
    )
    q = (
        stream_ops.dedup_events(_normalize(stream))
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("dedup_sink")
    assert out.count() == src.count()
    assert out.select("event_id").distinct().count() == src.count()


def test_stateful_totals_carry_across_microbatches(spark, raw_events, tmp_path):
    """applyInPandasWithState: state must survive batch boundaries.

    The fixture is split into 4 files streamed one per micro-batch; the
    final emitted totals per user must equal the batch groupBy — which
    can only happen if per-key state carried across all 4 batches."""
    import pyspark.sql.functions as F

    from ask_duckdb_spark.streaming.stateful import running_user_totals

    src = _normalize(raw_events)
    chunks = str(tmp_path / "chunks")
    src.repartition(4).write.parquet(chunks)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(chunks)
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("stateful_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 3  # really ran multiple batches

    # n_events grows monotonically per user -> max() is the final state
    got = (
        spark.table("stateful_sink")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    want = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    got_m = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in got.collect()}
    want_m = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in want.collect()}
    assert got_m == want_m


def test_stateful_sessionizer_matches_batch_closed_sessions(
    spark, raw_events, stream_path
):
    """Custom EventTimeTimeout session machine vs batch sessionization.

    Sessions still OPEN at end-of-stream can only close via a
    watermark-driven timeout that availableNow may never fire, so the
    exact expectation is: emitted == batch sessions minus each user's
    final session (all of which provably closed in-batch)."""
    import pyspark.sql.functions as F

    from ask_duckdb_spark.operators import QUERIES
    from ask_duckdb_spark.streaming.stateful import sessionize_stateful

    stream = (
        spark.readStream.schema(raw_events.schema)
        .format("parquet")
        .load(stream_path)
    )
    src = _normalize(stream).withColumn(
        "event_time", F.col("ts").cast("timestamp")
    ).withWatermark("event_time", "10 minutes")
    q = (
        sessionize_stateful(src)
        .writeStream.format("memory")
        .queryName("sess_machine")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.table("sess_machine").collect()
    }

    batch = QUERIES["x13_sessionize"](spark, SF_DIR).collect()
    last_per_user = {}
    for r in batch:
        cur = last_per_user.get(r.user_id)
        if cur is None or r.sess_no > cur.sess_no:
            last_per_user[r.user_id] = r
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in batch
        if last_per_user[r.user_id].sess_no != r.sess_no
    }
    # emitted must cover every provably-closed session; a final no-data
    # batch MAY additionally close some end-of-stream sessions
    assert want <= got
    extras = got - want
    all_sessions = {(r.user_id, r.session_start, r.n_events) for r in batch}
    assert extras <= all_sessions - want
    assert len(want) > 100  # substantive comparison, not vacuous


def test_checkpoint_restart_resumes_exactly_once(spark, raw_events, tmp_path):
    """Durability: a watermarked aggregation stopped mid-stream and
    restarted from its checkpoint must process the remaining files
    exactly once — final counts equal the batch result."""
    import pyspark.sql.functions as F

    src = _normalize(raw_events)
    data_dir = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    half1 = src.filter(F.col("event_id") % 2 == 0)
    half2 = src.filter(F.col("event_id") % 2 == 1)
    half1.write.parquet(data_dir)

    def start():
        stream = (
            spark.readStream.schema(src.schema).format("parquet").load(data_dir)
        )
        agg = (
            stream_ops.tumbling_counts(_normalize(stream))
            .select("window_start", "event_type", "n")
        )
        return (
            agg.writeStream.format("memory")
            .queryName("ckpt_sink")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    q1.awaitTermination(120)
    first_total = sum(r.n for r in spark.table("ckpt_sink").collect())
    assert first_total == half1.count()

    half2.write.mode("append").parquet(data_dir)  # late-arriving files
    q2 = start()  # same checkpoint -> resumes, reads ONLY the new files
    q2.awaitTermination(120)
    out = spark.table("ckpt_sink")
    assert sum(r.n for r in out.collect()) == src.count()

    want = (
        QUERIES["x15_tumbling_window"](spark, SF_DIR)
        .select("window_start", "event_type", "n")
        .collect()
    )
    got = {(r.window_start, r.event_type): r.n for r in out.collect()}
    assert got == {(r.window_start, r.event_type): r.n for r in want}


def test_streaming_sliding_total(spark, raw_events, stream_path):
    got = _run_stream(
        spark, lambda s: stream_ops.sliding_counts(_normalize(s)), raw_events,
        stream_path,
    )
    # every event lands in exactly 2 sliding windows
    total = sum(r.n for r in got.collect())
    assert total == 2 * raw_events.count()


class _FakeState:
    """Minimal GroupState stand-in for unit-driving _session_machine."""

    def __init__(self, value=None):
        self._value = value
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = tuple(v)

    def remove(self):
        self._value = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _drive_machine(batches, state):
    """Feed timestamp batches (seconds) through _session_machine."""
    import pandas as pd

    from ask_duckdb_spark.streaming.stateful import _session_machine

    emitted = []
    for batch in batches:
        pdf = pd.DataFrame(
            {"event_time": pd.to_datetime(pd.Series(batch), unit="s")}
        )
        emitted.extend(_session_machine((1,), iter([pdf]), state))
    return emitted


def test_session_machine_late_event_within_watermark_extends_not_shrinks():
    """ADVICE r2 (medium): an event OLDER than the stored session end —
    but inside the 10-minute watermark the pipeline tolerates — must
    extend the open session's interval, not drag session_end backward
    (which set a premature timeout and could split one session in two).
    """
    state = _FakeState()
    # batch 1: events at t=1000s and t=1200s -> open session [1000,1200]
    # batch 2: late event at t=900s (within watermark, within gap)
    emitted = _drive_machine([[1000, 1200], [900]], state)
    assert emitted == []  # still one open session, nothing closed
    start_us, last_us, n = state.get
    assert start_us == 900 * 1_000_000  # start extended backward
    assert last_us == 1200 * 1_000_000  # end NOT dragged backward
    assert n == 3
    # timeout must track the (unchanged) max event time
    assert state.timeout_ms == 1200 * 1000 + 30 * 60 * 1000


def test_session_machine_late_event_bridges_two_sessions():
    """A late event landing in the gap between the open session and an
    in-batch successor must merge them into ONE session, not let the
    scan close the first half."""
    gap = 30 * 60  # SESSION_GAP_SEC
    state = _FakeState()
    # batch 1: session A ends at t=0; batch 2 opens B at t=2*gap-100
    # (beyond the gap, so A would close on an in-order scan) BUT the
    # same batch carries a late bridge event at t=gap-50: A..bridge..B
    # are each within the gap -> one merged session, zero emissions.
    emitted = _drive_machine([[0], [2 * gap - 100, gap - 50]], state)
    assert emitted == []
    start_us, last_us, n = state.get
    assert start_us == 0
    assert last_us == (2 * gap - 100) * 1_000_000
    assert n == 3


def test_session_machine_in_order_gap_still_closes():
    """Regression guard: the interval merge must keep the original
    in-order behavior — a batch event a full gap after the open
    session closes it and opens a new one."""
    gap = 30 * 60
    state = _FakeState()
    emitted = _drive_machine([[100], [100 + gap + 1]], state)
    assert len(emitted) == 1
    row = emitted[0].iloc[0]
    assert row["n_events"] == 1
    assert int(row["session_start"].timestamp()) == 100
    start_us, _, n = state.get
    assert start_us == (100 + gap + 1) * 1_000_000 and n == 1


def test_stream_stream_interval_join_matches_batch(spark, raw_events, stream_path):
    """Stream-stream interval join (purchases within 30 min after a
    click, per user) must emit exactly the batch join's pairs — inner
    interval joins emit as soon as both sides arrive, so availableNow
    over a bounded source produces the complete result."""
    import pyspark.sql.functions as F

    stream = (
        spark.readStream.schema(raw_events.schema)
        .format("parquet")
        .load(stream_path)
    )
    q = (
        stream_ops.purchases_after_clicks(_normalize(stream))
        .writeStream.format("memory")
        .queryName("ssj_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.table("ssj_sink").collect()
    }

    e = _normalize(raw_events).withColumn(
        "event_time", F.col("ts").cast("timestamp")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("event_time").alias("click_time"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("event_time").alias("purchase_time"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in clicks.join(
            purchases,
            F.expr(
                "c_user = p_user AND purchase_time > click_time "
                "AND purchase_time <= click_time + INTERVAL 30 MINUTES"
            ),
        ).collect()
    }
    assert want, "fixture produced no click->purchase pairs (vacuous)"
    assert got == want


def test_foreachbatch_file_sink_idempotent_across_restart(
    spark, raw_events, tmp_path
):
    """foreachBatch + dynamic partition overwrite must survive a
    stop/restart without duplicating output: stream half the files,
    restart over all files with the same checkpoint, and the parquet
    directory must equal the batch aggregation exactly."""
    import pyspark.sql.functions as F

    src = _normalize(raw_events)
    data_dir = str(tmp_path / "data")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # split by EVENT TIME, not randomly: the restarted run must only
    # deliver data newer than the checkpointed watermark, or update
    # mode correctly drops it as late and batch parity cannot hold
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cutoff = int(
        src.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    )
    half1 = src.filter(us <= cutoff)
    half2 = src.filter(us > cutoff)
    half1.repartition(2).write.parquet(data_dir)

    def run():
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(data_dir)
        )
        q = stream_ops.write_tumbling_counts_idempotent(
            _normalize(stream), out_dir, ckpt
        )
        q.awaitTermination(120)

    run()
    first = spark.read.parquet(out_dir).count()
    assert first > 0

    half2.repartition(2).write.mode("append").parquet(data_dir)
    run()  # same checkpoint: resumes, rewrites only touched partitions

    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in QUERIES["x15_tumbling_window"](spark, SF_DIR).collect()
    }
    assert got == want


def test_stream_static_join_enriches_every_event(spark, raw_events, stream_path):
    """Stream-static join needs no watermark and must serve every
    event whose key exists in the dim (fixture user_ids are all
    customer keys), carrying the dim attributes through."""
    from ask_duckdb_spark.sources.catalog import load_table

    customer = load_table(spark, SF_DIR, "customer")
    stream = (
        spark.readStream.schema(raw_events.schema)
        .format("parquet")
        .load(stream_path)
    )
    q = (
        stream_ops.enrich_with_customer_dim(_normalize(stream), customer)
        .writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("enrich_sink")
    src = _normalize(raw_events)
    matched = src.join(
        customer, src.user_id == customer.c_custkey, "left_semi"
    ).count()
    assert matched > 0
    assert out.count() == matched
    assert out.filter("user_name IS NULL OR segment IS NULL").count() == 0


