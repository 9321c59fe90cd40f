"""Streaming lift tests: frame assembly with TTL, run lifecycle FSM,
foreachBatch nexus sink, DAQ stats — driven through real Structured
Streaming queries over file sources (the test analog of the Kafka topics)."""

import time
from datetime import datetime, timedelta, timezone

from supermusr_data_pipeline_spark.operators.frame_assembly import assemble_frames
from supermusr_data_pipeline_spark.streaming import (
    DIGITISER_MESSAGE_SCHEMA,
    assemble_frames_stream,
    daq_stats_batch,
    run_lifecycle_stream,
    runs_from_control,
    write_nexus_stream,
)
from supermusr_data_pipeline_spark.streaming.nexus_stream import NexusStreamWriter
from supermusr_data_pipeline_spark.streaming.run_lifecycle import CONTROL_SCHEMA

import pytest

# slow set (pytest.ini deselects by default; opt in with -m slow):
# multi-minute soak / streaming end-to-end / large-SF coverage whose
# operators' value-correctness stays pinned by the default sf0.001
# parity + plan audits
pytestmark = pytest.mark.slow


T0 = datetime(2024, 1, 1, 12, 0, 0)


def _drain(spark, q, table, min_rows, timeout=120):
    """Poll the memory sink until ``min_rows`` appear, then gracefully stop
    (T8).  availableNow cannot be used as a drain here: with
    ProcessingTimeTimeout state Spark 4.1 keeps scheduling cleanup batches
    even after the state empties, so stateful queries never self-terminate."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if spark.sql(f"SELECT * FROM {table}").count() >= min_rows:
            break
        time.sleep(0.3)
    q.stop()


def _msg(did, frame, channels, times, volts, ts=None, veto=0):
    return (
        did,
        ts or (T0 + timedelta(milliseconds=20 * frame)),
        1,  # period_number
        8,  # protons_per_pulse
        True,  # running
        frame,
        veto,
        channels,
        times,
        volts,
    )


def test_frame_assembly_stream_complete_matches_batch(spark, tmp_path):
    """A complete frame dispatches immediately; its arrays equal the batch
    operator's output on the same messages."""
    msgs = [
        _msg(0, 1, [0, 1], [10, 20], [5.0, 6.0]),
        _msg(1, 1, [7], [15], [9.0], veto=2),
        _msg(0, 2, [3], [11], [4.0]),  # frame 2 incomplete (missing did 1)
    ]
    src = str(tmp_path / "msgs")
    spark.createDataFrame(msgs, DIGITISER_MESSAGE_SCHEMA).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(DIGITISER_MESSAGE_SCHEMA).parquet(src)
    frames = assemble_frames_stream(stream, expected_digitizers=[0, 1], frame_ttl_ms=50)
    q = (
        frames.writeStream.format("memory")
        .queryName("t_frames_complete")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    _drain(spark, q, "t_frames_complete", 1)
    out = {r.frame_number: r for r in spark.sql("SELECT * FROM t_frames_complete").collect()}

    assert 1 in out, "complete frame must dispatch in the first batch"
    f1 = out[1]
    assert f1.complete is True
    assert f1.digitizers_present == [0, 1]
    assert f1.veto_flags == 2
    assert f1.channel == [0, 1, 7]
    assert f1.event_time == [10, 20, 15]
    assert f1.event_voltage == [5.0, 6.0, 9.0]

    # parity with the batch operator (explode messages back to long form)
    long_rows = []
    for m in msgs[:2]:
        for c, t, v in zip(m[7], m[8], m[9]):
            long_rows.append((m[0], m[1], m[2], m[3], m[4], m[5], m[6], c, t, v))
    from supermusr_data_pipeline_spark.schemas import DIGITISER_EVENT_SCHEMA

    batch = assemble_frames(
        spark.createDataFrame(long_rows, DIGITISER_EVENT_SCHEMA), [0, 1]
    ).collect()[0]
    assert batch.channel == f1.channel
    assert batch.event_time == f1.event_time
    assert batch.event_voltage == f1.event_voltage
    assert batch.veto_flags == f1.veto_flags


def test_frame_assembly_stream_ttl_flushes_incomplete(spark, tmp_path):
    """An incomplete frame is dispatched ~TTL after its first message
    (processing-time timeout), marked complete=false."""
    src = str(tmp_path / "msgs")
    spark.createDataFrame(
        [_msg(0, 5, [2], [100], [7.5])], DIGITISER_MESSAGE_SCHEMA
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(DIGITISER_MESSAGE_SCHEMA).parquet(src)
    frames = assemble_frames_stream(stream, expected_digitizers=[0, 1], frame_ttl_ms=300)
    q = (
        frames.writeStream.format("memory")
        .queryName("t_frames_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM t_frames_ttl").collect()
            if rows:
                break
            time.sleep(0.3)
        assert rows, "timed-out frame never dispatched"
        f = rows[0]
        assert f.frame_number == 5
        assert f.complete is False
        assert f.digitizers_present == [0]
        assert f.channel == [2] and f.event_time == [100] and f.event_voltage == [7.5]
    finally:
        q.stop()


def test_duplicate_digitiser_message_rejected(spark, tmp_path):
    """J5/T6: a second message from the same (frame, digitiser) is dropped."""
    msgs = [
        _msg(0, 1, [0], [10], [5.0]),
        _msg(0, 1, [9], [99], [9.9]),  # duplicate (frame 1, did 0)
        _msg(1, 1, [1], [20], [6.0]),
    ]
    src = str(tmp_path / "msgs")
    spark.createDataFrame(msgs, DIGITISER_MESSAGE_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(DIGITISER_MESSAGE_SCHEMA).parquet(src)
    frames = assemble_frames_stream(stream, [0, 1], frame_ttl_ms=50)
    q = (
        frames.writeStream.format("memory")
        .queryName("t_frames_dup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    _drain(spark, q, "t_frames_dup", 1)
    rows = spark.sql("SELECT * FROM t_frames_dup").collect()
    assert len(rows) == 1
    assert rows[0].channel == [0, 1]  # the duplicate's channel 9 is absent


def test_late_message_after_dispatch_rejected(spark, tmp_path):
    """T3: a straggler arriving after its frame was dispatched (here via
    TTL) must NOT re-open the frame and emit a second row — the tombstone
    analog of the reference's reject-at-or-before-last-dispatched-timestamp
    (digitiser-aggregator/src/frame/cache.rs:55-63, test cache.rs:156-387)."""
    src = tmp_path / "msgs"
    src.mkdir()
    spark.createDataFrame(
        [_msg(0, 5, [2], [100], [7.5])], DIGITISER_MESSAGE_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(DIGITISER_MESSAGE_SCHEMA).parquet(str(src))
    frames = assemble_frames_stream(
        stream, expected_digitizers=[0, 1], frame_ttl_ms=300, tombstone_ttl_ms=60_000
    )
    q = (
        frames.writeStream.format("memory")
        .queryName("t_frames_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM t_frames_late").collect()
            if rows:
                break
            time.sleep(0.3)
        assert rows and rows[0].complete is False, "TTL dispatch expected first"

        # straggler for the SAME frame key, from the missing digitiser
        spark.createDataFrame(
            [_msg(1, 5, [9], [999], [9.9])], DIGITISER_MESSAGE_SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(src))

        # wait until the straggler batch has definitely been processed
        target = time.time() + 3.0
        while time.time() < target:
            time.sleep(0.3)
        rows = spark.sql("SELECT * FROM t_frames_late").collect()
        assert len(rows) == 1, "late message re-opened a dispatched frame"
        assert rows[0].digitizers_present == [0]
    finally:
        q.stop()


def test_frame_state_survives_restart(spark, tmp_path):
    """T5: an in-flight partial frame lives in the checkpointed state store;
    after stop + restart, a message completing it dispatches ONE complete
    frame containing events from BOTH sides of the restart (the Spark analog
    of the writer's reopen-orphaned-file resume, engine.rs:144-173)."""
    src = tmp_path / "msgs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(
        [_msg(0, 9, [3], [30], [3.5], veto=4)], DIGITISER_MESSAGE_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))

    def start():
        stream = spark.readStream.schema(DIGITISER_MESSAGE_SCHEMA).parquet(str(src))
        frames = assemble_frames_stream(
            stream, expected_digitizers=[0, 1], frame_ttl_ms=600_000
        )
        # file sink: the memory sink is not fault-tolerant / recoverable
        return (
            frames.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def _out_rows():
        try:
            return spark.read.parquet(out_dir).collect()
        except Exception:
            return []

    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["numInputRows"] > 0:
                break
            time.sleep(0.3)
    finally:
        q.stop()  # partial frame for did 0 is now only in the state store

    assert _out_rows() == []

    # completing message arrives while the service is down
    spark.createDataFrame(
        [_msg(1, 9, [5], [50], [5.5], veto=8)], DIGITISER_MESSAGE_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))

    q2 = start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if len(_out_rows()) >= 1:
                break
            time.sleep(0.3)
    finally:
        q2.stop()
    rows = _out_rows()
    assert len(rows) == 1
    f = rows[0]
    assert f.complete is True
    assert f.digitizers_present == [0, 1]
    assert f.channel == [3, 5] and f.event_time == [30, 50]
    assert f.veto_flags == 4 | 8  # OR across both sides of the restart


def test_runs_from_control_batch(spark):
    """T4 batch fold: stop closes, new start aborts unstopped predecessor,
    last run stays open, stray stop ignored."""
    ctl = spark.createDataFrame(
        [
            ("start", "run_a", T0, "MUSR"),
            ("stop", "run_a", T0 + timedelta(minutes=10), "MUSR"),
            ("start", "run_b", T0 + timedelta(minutes=20), "MUSR"),
            ("start", "run_c", T0 + timedelta(minutes=30), "MUSR"),  # aborts run_b
            ("stop", "run_x", T0 + timedelta(minutes=31), "MUSR"),  # stray: ignored
        ],
        CONTROL_SCHEMA,
    )
    runs = {r.run_name: r for r in runs_from_control(ctl).collect()}
    assert runs["run_a"].collect_until == T0 + timedelta(minutes=10)
    assert runs["run_a"].aborted is False
    assert runs["run_b"].collect_until == T0 + timedelta(minutes=30)
    assert runs["run_b"].aborted is True
    assert runs["run_c"].collect_until is None
    assert "run_x" not in runs


def test_run_lifecycle_stream(spark, tmp_path):
    """Streaming T4: closed runs emit; abort semantics preserved."""
    src = str(tmp_path / "ctl")
    spark.createDataFrame(
        [
            ("start", "run_a", T0, "MUSR"),
            ("stop", "run_a", T0 + timedelta(minutes=10), "MUSR"),
            ("start", "run_b", T0 + timedelta(minutes=20), "MUSR"),
            ("start", "run_c", T0 + timedelta(minutes=30), "MUSR"),
        ],
        CONTROL_SCHEMA,
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(CONTROL_SCHEMA).parquet(src)
    q = (
        run_lifecycle_stream(stream, run_ttl_ms=100)
        .writeStream.format("memory")
        .queryName("t_runs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    _drain(spark, q, "t_runs", 2)
    runs = {r.run_name: r for r in spark.sql("SELECT * FROM t_runs").collect()}
    assert runs["run_a"].aborted is False
    assert runs["run_a"].collect_until == T0 + timedelta(minutes=10)
    assert runs["run_b"].aborted is True
    assert runs["run_b"].collect_until == T0 + timedelta(minutes=30)
    # run_c is still open: either not yet emitted, or flushed open
    # (collect_until NULL) by the run TTL if a later trigger fired
    if "run_c" in runs:
        assert runs["run_c"].collect_until is None
        assert runs["run_c"].aborted is False


def test_nexus_stream_matches_batch(spark, tmp_path):
    """foreachBatch sink: two successive micro-batches append to the run
    parquet with CONTINUOUS frame_seq / event_index across batches."""
    from supermusr_data_pipeline_spark.schemas import RUN_SCHEMA

    runs = spark.createDataFrame(
        [("run_1", None, "MUSR", T0 - timedelta(minutes=1), None, 1)], RUN_SCHEMA
    ).select("run_name", "collect_from", "collect_until")

    frames_dir = str(tmp_path / "frames")
    sink = str(tmp_path / "nexus")
    ckpt = str(tmp_path / "ckpt")

    from supermusr_data_pipeline_spark.schemas import FRAME_EVENT_LIST_SCHEMA

    def frame_row(frame, n_events, t_base):
        return (
            T0 + timedelta(milliseconds=20 * frame),
            1,
            8,
            True,
            frame,
            0,
            True,
            [0, 1],
            list(range(n_events)),
            [t_base + 10 * i for i in range(n_events)],
            [float(i) for i in range(n_events)],
        )

    # batch 1: frames 1, 2
    spark.createDataFrame(
        [frame_row(1, 3, 100), frame_row(2, 2, 200)], FRAME_EVENT_LIST_SCHEMA
    ).coalesce(1).write.mode("append").parquet(frames_dir)
    stream = spark.readStream.schema(FRAME_EVENT_LIST_SCHEMA).parquet(frames_dir)
    q = write_nexus_stream(stream, runs, sink, ckpt)
    q.awaitTermination(120)

    # batch 2: frame 3 (new writer instance = restart ⇒ T5 resume from sink)
    spark.createDataFrame([frame_row(3, 4, 300)], FRAME_EVENT_LIST_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(frames_dir)
    stream2 = spark.readStream.schema(FRAME_EVENT_LIST_SCHEMA).parquet(frames_dir)
    q2 = write_nexus_stream(stream2, runs, sink, ckpt)
    q2.awaitTermination(120)

    out = spark.read.parquet(sink).orderBy("frame_seq", "event_time_offset").collect()
    assert len(out) == 9
    by_frame = {}
    for r in out:
        by_frame.setdefault(r.frame_number, []).append(r)
    assert [r.event_index for r in by_frame[1]] == [0, 0, 0]
    assert by_frame[1][0].frame_seq == 0
    assert by_frame[2][0].event_index == 3 and by_frame[2][0].frame_seq == 1
    # continuation across the restart: frame 3 continues seq and index
    assert by_frame[3][0].frame_seq == 2
    assert by_frame[3][0].event_index == 5
    # frame 3 ts = collect_from + 1 min + 60 ms → ns offset
    assert by_frame[3][0].event_time_zero == (60_000_000 + 60_000) * 1000


def test_nexus_stream_batch_spanning_two_runs_single_job(spark, tmp_path):
    """A micro-batch whose frames straddle a run transition must write
    BOTH runs correctly (the one-job partitionBy path that replaced the
    per-run write loop — ADVICE r7: independent per-run jobs could
    duplicate the first run's rows on a crash-replay).  Per-run frame_seq
    and event_index each start at 0."""
    from pyspark.sql import functions as F

    from supermusr_data_pipeline_spark.schemas import FRAME_EVENT_LIST_SCHEMA

    runs = spark.createDataFrame(
        [
            ("run_A", T0 - timedelta(minutes=1), T0 + timedelta(milliseconds=30)),
            ("run_B", T0 + timedelta(milliseconds=30), None),
        ],
        "run_name string, collect_from timestamp, collect_until timestamp",
    )

    def frame_row(frame, n_events, t_base):
        return (
            T0 + timedelta(milliseconds=20 * frame), 1, 8, True, frame, 0, True,
            [0, 1], list(range(n_events)),
            [t_base + 10 * i for i in range(n_events)],
            [float(i) for i in range(n_events)],
        )

    frames_dir = str(tmp_path / "frames2r")
    # frames 1 (ts +20ms -> run_A) and 2, 3 (ts +40/+60ms -> run_B), ONE batch
    spark.createDataFrame(
        [frame_row(1, 3, 100), frame_row(2, 2, 200), frame_row(3, 4, 300)],
        FRAME_EVENT_LIST_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(frames_dir)
    stream = spark.readStream.schema(FRAME_EVENT_LIST_SCHEMA).parquet(frames_dir)
    q = write_nexus_stream(stream, runs, str(tmp_path / "sink2r"), str(tmp_path / "ckpt2r"))
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "sink2r"))
    per_run = {
        r.run_name: r.n
        for r in out.groupBy("run_name").agg(F.count("*").alias("n")).collect()
    }
    assert per_run == {"run_A": 3, "run_B": 6}
    a = out.filter("run_name = 'run_A'").collect()
    assert {r.frame_seq for r in a} == {0} and {r.event_index for r in a} == {0}
    b = sorted(
        out.filter("run_name = 'run_B'").collect(),
        key=lambda r: (r.frame_seq, r.event_time_offset),
    )
    assert b[0].frame_seq == 0 and b[0].event_index == 0
    assert b[-1].frame_seq == 1 and b[-1].event_index == 2
    # event_time_zero measured from EACH run's own collect_from:
    # run_A frame at +20 ms of a run starting -60 s -> 60.02e9 ns;
    # run_B frame at +40 ms of a run starting +30 ms -> 10 ms = 1e7 ns
    assert {r.event_time_zero for r in a} == {60_020_000_000}
    assert b[0].event_time_zero == 10_000_000


def test_daq_stats_batch(spark):
    msgs = [
        _msg(0, 1, [0, 1], [10, 20], [5.0, 6.0]),
        _msg(0, 2, [2], [30], [7.0]),
        _msg(1, 1, [3], [40], [8.0]),
    ]
    from supermusr_data_pipeline_spark.streaming import DIGITISER_MESSAGE_SCHEMA

    df = spark.createDataFrame(msgs, DIGITISER_MESSAGE_SCHEMA)
    out = {r.digitizer_id: r for r in daq_stats_batch(df, "1 minute").collect()}
    assert out[0].n_msgs == 2
    assert out[0].n_events == 3
    assert out[0].arrays_consistent is True
    assert out[1].n_msgs == 1
    assert out[0].last_frame == 2


def test_daq_stats_stream(spark, tmp_path):
    src = str(tmp_path / "msgs")
    spark.createDataFrame(
        [_msg(0, 1, [0], [10], [5.0]), _msg(0, 2, [1, 2], [20, 30], [6.0, 7.0])],
        DIGITISER_MESSAGE_SCHEMA,
    ).coalesce(1).write.parquet(src)
    from supermusr_data_pipeline_spark.streaming import daq_stats_stream

    stream = spark.readStream.schema(DIGITISER_MESSAGE_SCHEMA).parquet(src)
    q = (
        daq_stats_stream(stream, "1 minute", "2 minutes")
        .writeStream.format("memory")
        .queryName("t_daq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_daq").collect()
    # append mode only emits windows finalized by the watermark; with
    # availableNow + no later data the window may be withheld — accept both,
    # but the query itself must run clean
    assert rows is not None


def test_dispatch_order_resequencable_within_batch(spark, tmp_path):
    """Cross-frame OUTPUT ORDER is completion order, not arrival order: the
    reference aggregator pops only the FRONT frame so frames dispatch in
    arrival sequence (digitiser-aggregator/src/frame/cache.rs:121-142),
    while the streaming lift emits each frame independently the moment it
    completes (or expires).  Downstream consumers here (run matching, the
    nexus sink) are order-insensitive, so the engine's contract is the
    weaker one pinned by this test: every frame appears EXACTLY ONCE and
    the canonical sequence is recoverable by sorting on (frame_number, ts)
    — a foreachBatch sink needing strict arrival order must apply that
    orderBy per epoch."""
    msgs = [  # arrival order deliberately 3, 1, 2 — all frames complete
        _msg(0, 3, [0], [12], [1.0]),
        _msg(1, 3, [4], [13], [2.0]),
        _msg(0, 1, [1], [10], [3.0]),
        _msg(1, 1, [5], [11], [4.0]),
        _msg(0, 2, [2], [14], [5.0]),
        _msg(1, 2, [6], [15], [6.0]),
    ]
    src = str(tmp_path / "msgs")
    spark.createDataFrame(msgs, DIGITISER_MESSAGE_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(DIGITISER_MESSAGE_SCHEMA).parquet(src)
    frames = assemble_frames_stream(stream, [0, 1], frame_ttl_ms=10_000)
    q = (
        frames.writeStream.format("memory")
        .queryName("t_frames_order")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    _drain(spark, q, "t_frames_order", 3)
    rows = spark.sql("SELECT * FROM t_frames_order").collect()
    assert len(rows) == 3  # exactly once each, regardless of emit order
    reseq = sorted(rows, key=lambda r: (r.frame_number, r.ts))
    assert [r.frame_number for r in reseq] == [1, 2, 3]
    # ts tracks frame_number, so either sort key alone recovers the sequence
    assert [r.ts for r in reseq] == sorted(r.ts for r in rows)
    assert all(r.complete for r in rows)


# ---- the write-ahead intent protocol of the FSM door's writer ----

T0_US = int(datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc).timestamp() * 1_000_000)


def _runs(spark, name="run_a", from_us=None, until_us=None):
    from pyspark.sql import functions as F

    rows = [(name, from_us or (T0_US - 1_000_000), until_us)]
    return spark.createDataFrame(
        rows, "run_name string, from_us long, until_us long"
    ).select(
        "run_name",
        F.timestamp_micros("from_us").alias("collect_from"),
        F.timestamp_micros(F.col("until_us")).alias("collect_until"),
    )


def _frame_row(frame, n_events, veto=0):
    ts = datetime.fromtimestamp((T0_US + frame * 20_000) / 1e6, tz=timezone.utc)
    return (
        ts, frame // 1000, 4, True, frame, veto, True, [0, 1],
        [e % 8 for e in range(n_events)],
        [100 * frame + 10 * e for e in range(n_events)],
        [float(e) for e in range(n_events)],
    )


def _frames(spark, rows):
    from supermusr_data_pipeline_spark.schemas import FRAME_EVENT_LIST_SCHEMA

    return spark.createDataFrame(rows, FRAME_EVENT_LIST_SCHEMA)


def test_fsm_writer_intent_recovers_committed_append(spark, tmp_path):
    """NexusStreamWriter: a crash between the append and the engine's
    commit leaves the intent on disk; the restarted writer detects the
    committed append via totals and short-circuits the replay."""
    sink = str(tmp_path / "sink")
    runs = _runs(spark)
    w = NexusStreamWriter(runs, sink)
    w(_frames(spark, [_frame_row(0, 2)]), 0)
    b1 = _frames(spark, [_frame_row(1, 3)])
    w(b1, 1)  # intent for bid 1 stays on disk (never removed)
    n = spark.read.parquet(sink).count()

    w2 = NexusStreamWriter(runs, sink)  # crash-restart
    w2(b1, 1)  # engine replays batch 1
    assert spark.read.parquet(sink).count() == n
    w2(_frames(spark, [_frame_row(2, 2)]), 2)
    f2 = spark.read.parquet(sink).filter("frame_number = 2").collect()
    assert {r.frame_seq for r in f2} == {2}
    assert {r.event_index for r in f2} == {5}


def test_fsm_writer_intent_replays_uncommitted_append(spark, tmp_path):
    """NexusStreamWriter: intent written but the append never landed —
    the replay redoes the batch exactly once."""
    import json as _json
    import os

    sink = str(tmp_path / "sink")
    runs = _runs(spark)
    w = NexusStreamWriter(runs, sink)
    w(_frames(spark, [_frame_row(0, 2)]), 0)
    totals_b0 = dict(w._totals)
    os.makedirs(os.path.join(sink, "_writer_state"), exist_ok=True)
    with open(os.path.join(sink, "_writer_state", "intent.json"), "w") as fh:
        _json.dump(
            {"bid": 1, "totals": {k: list(v) for k, v in totals_b0.items()}}, fh
        )

    w2 = NexusStreamWriter(runs, sink)
    w2(_frames(spark, [_frame_row(1, 3)]), 1)
    out = spark.read.parquet(sink)
    f1 = out.filter("frame_number = 1").collect()
    assert len(f1) == 3
    assert {r.frame_seq for r in f1} == {1}
    assert {r.event_index for r in f1} == {2}
