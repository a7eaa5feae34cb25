"""Structured Streaming surface: AvailableNow file-source runs with the
foreachBatch-upsert sink, stateful dedup, and batch/stream parity of the
windowed aggregation (SURVEY.md §2.10)."""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import threading

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from etl_tiki_webscraping_spark.streaming.events import (
    foreach_batch_upsert,
    run_available_now_to_memory,
    streaming_dedup,
    windowed_event_counts,
    windowed_event_counts_batch,
)

SCHEMA = "event_id string, ts timestamp, event_type string, value double"

ROWS = [
    {"event_id": "e1", "ts": "2024-01-01 10:05:00", "event_type": "view", "value": 1.0},
    {"event_id": "e2", "ts": "2024-01-01 10:45:00", "event_type": "view", "value": 2.0},
    {"event_id": "e2", "ts": "2024-01-01 10:45:00", "event_type": "view", "value": 2.0},  # dup id
    {"event_id": "e3", "ts": "2024-01-01 11:10:00", "event_type": "click", "value": 5.0},
]


def _write_json_source(tmp_path) -> str:
    src = tmp_path / "stream-in"
    src.mkdir()
    with open(src / "part-0.json", "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")
    return str(src)


def test_windowed_counts_batch_and_stream_agree(spark, tmp_path):
    src = _write_json_source(tmp_path)
    static = spark.read.schema(SCHEMA).json(src)
    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts_batch(static).collect()
    }

    stream = spark.readStream.schema(SCHEMA).json(src)
    agg = windowed_event_counts(stream)
    out_dir = str(tmp_path / "stream-out")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    q.awaitTermination(60)
    streamed = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from win_counts").collect()
    }
    assert streamed == batch
    assert batch[("2024-01-01 10:00:00", "view")] == (3, 5.0)


def test_memory_run_leaves_no_checkpoint_dir(spark, tmp_path):
    """The runner's checkpoint is scratch: no ``ckpt-<name>-`` dir
    outlives the call, and the returned memory table keeps its rows."""
    src = _write_json_source(tmp_path)
    prefix = "ckpt-ckpt_cleanup_counts-"

    def ckpt_dirs():
        return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith(prefix)}

    before = ckpt_dirs()
    stream = windowed_event_counts(spark.readStream.schema(SCHEMA).json(src))
    out = run_available_now_to_memory(stream, "ckpt_cleanup_counts", "complete")
    assert ckpt_dirs() == before
    assert out.count() == 2


class _Progress(StreamingQueryListener):
    """Per query name: each micro-batch's state-partition counts, and
    the caller's session conf as read while the batch was reported."""

    def __init__(self, spark):
        self.spark = spark
        self.parts: dict = {}
        self.conf: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.parts.setdefault(p.name, []).extend(o.numShufflePartitions for o in p.stateOperators)
        self.conf.append(tuple(self.spark.conf.get(k) for k in RUNNER_CONF))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


RUNNER_CONF = ("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")


@contextlib.contextmanager
def _progress(spark):
    listener = _Progress(spark)
    spark.streams.addListener(listener)
    try:
        yield listener
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)


def _fixture_counts(spark, tmp_path):
    src = _write_batches(tmp_path, "agg-in", [ROWS[:2], ROWS[2:]])
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").json(src)
    return stream.groupBy("event_type").count()


def _rate_counts(spark):
    """A source the runner cannot size: one 30-row micro-batch."""
    stream = spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 30).load()
    return stream.groupBy((F.col("value") % 3).alias("k")).count()


def test_runner_conf_is_never_seen_by_the_callers_session(spark, tmp_path):
    """The runner sets the state-partition count and the no-data switch
    only across ``start()``: while the stream runs, the caller's session
    reads its own values."""
    own = tuple(spark.conf.get(k) for k in RUNNER_CONF)
    with _progress(spark) as seen:
        out = run_available_now_to_memory(
            _fixture_counts(spark, tmp_path), "conf_probe", "complete", no_data_batches=False
        )
    assert len(seen.conf) == 2 and set(seen.conf) == {own}
    assert tuple(spark.conf.get(k) for k in RUNNER_CONF) == own
    assert sorted(map(tuple, out.collect())) == [("click", 1), ("view", 3)]


def test_state_partitions_are_sized_from_the_input(spark, tmp_path):
    """A fixture aggregate gets one state partition; a Python state
    kernel at least one per core; a source that cannot be sized the
    session's ``spark.sql.shuffle.partitions``."""
    from etl_tiki_webscraping_spark.streaming.events import sessionize_stream

    src = _write_batches(tmp_path, "sess-in", [[dict(r, user_id=1) for r in ROWS]])
    schema = SCHEMA + ", user_id long"
    with _progress(spark) as seen:
        run_available_now_to_memory(_fixture_counts(spark, tmp_path), "sized_agg", "complete")
        run_available_now_to_memory(
            sessionize_stream(spark.readStream.schema(schema).json(src)), "sized_sess", "append"
        )
        run_available_now_to_memory(_rate_counts(spark), "sized_rate", "complete")
    assert set(seen.parts["sized_agg"]) == {1}
    assert min(seen.parts["sized_sess"]) >= spark.sparkContext.defaultParallelism
    assert set(seen.parts["sized_rate"]) == {int(spark.conf.get("spark.sql.shuffle.partitions"))}


def test_runner_threads_each_get_their_own_partition_count(spark, tmp_path):
    """Two runs started together from two threads: each stream starts
    under its own count, and each returns its own rows."""
    streams = {"thread_agg": _fixture_counts(spark, tmp_path), "thread_rate": _rate_counts(spark)}
    barrier = threading.Barrier(len(streams))
    rows, errors = {}, []

    def run(name):
        try:
            barrier.wait()
            out = run_available_now_to_memory(streams[name], name, "complete")
            rows[name] = sorted(map(tuple, out.collect()))
        except Exception as e:  # surfaced below; a thread swallows it
            errors.append(e)

    with _progress(spark) as seen:
        threads = [threading.Thread(target=run, args=(n,)) for n in streams]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    assert not errors, errors
    assert rows == {
        "thread_agg": [("click", 1), ("view", 3)],
        "thread_rate": [(0, 10), (1, 10), (2, 10)],
    }
    assert set(seen.parts["thread_agg"]) == {1}
    assert set(seen.parts["thread_rate"]) == {int(spark.conf.get("spark.sql.shuffle.partitions"))}


def test_streaming_dedup_drops_duplicate_event_ids(spark, tmp_path):
    src = _write_json_source(tmp_path)
    stream = spark.readStream.schema(SCHEMA).json(src)
    deduped = streaming_dedup(stream, keys=["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(60)
    ids = [r["event_id"] for r in spark.sql("select event_id from dedup_out").collect()]
    assert sorted(ids) == ["e1", "e2", "e3"]


def test_foreach_batch_upsert_is_idempotent_per_key(spark, tmp_path):
    src = _write_json_source(tmp_path)
    target = str(tmp_path / "warehouse")
    stream = spark.readStream.schema(SCHEMA).json(src)
    writer = foreach_batch_upsert(
        stream, target, keys=["event_id"], checkpoint_dir=str(tmp_path / "ckpt3")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(60)
    from etl_tiki_webscraping_spark.sinks.upsert import read_parquet_table

    out = read_parquet_table(spark, target)
    assert out.count() == 3  # dup event_id merged by PK
    assert sorted(r["event_id"] for r in out.select("event_id").collect()) == ["e1", "e2", "e3"]


def test_foreach_batch_upsert_evolves_additive_schema(spark, tmp_path):
    """VERDICT r6 ask #7: a streaming source's schema is fixed per
    query, so mid-stream evolution arrives as a RESTART with a wider
    schema.  With evolve_schema=True the second query's extra column
    lands in the committed snapshot and pre-evolution rows read NULL;
    rows keyed the same are updated in place across the two schemas."""
    src1 = _write_json_source(tmp_path)
    target = str(tmp_path / "warehouse-evolve")
    q = (
        foreach_batch_upsert(
            spark.readStream.schema(SCHEMA).json(src1),
            target,
            keys=["event_id"],
            checkpoint_dir=str(tmp_path / "ckpt-ev1"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    # redeployed query: same feed format plus a new `region` column,
    # updating e3 and inserting e4
    src2 = tmp_path / "stream-in-v2"
    src2.mkdir()
    rows_v2 = [
        {"event_id": "e3", "ts": "2024-01-01 11:10:00", "event_type": "click",
         "value": 6.0, "region": "eu"},
        {"event_id": "e4", "ts": "2024-01-01 12:00:00", "event_type": "view",
         "value": 9.0, "region": "us"},
    ]
    with open(src2 / "part-0.json", "w") as f:
        for r in rows_v2:
            f.write(json.dumps(r) + "\n")
    q2 = (
        foreach_batch_upsert(
            spark.readStream.schema(SCHEMA + ", region string").json(str(src2)),
            target,
            keys=["event_id"],
            checkpoint_dir=str(tmp_path / "ckpt-ev2"),
            evolve_schema=True,
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)

    from etl_tiki_webscraping_spark.sinks.upsert import read_parquet_table

    out = read_parquet_table(spark, target)
    assert "region" in out.columns
    got = {r["event_id"]: (r["value"], r["region"]) for r in out.collect()}
    assert got == {
        "e1": (1.0, None),   # pre-evolution row null-fills the new column
        "e2": (2.0, None),
        "e3": (6.0, "eu"),   # updated across schemas
        "e4": (9.0, "us"),   # inserted with the new column
    }


def test_stateful_sessionize_stream(spark, tmp_path):
    """3 micro-batches (maxFilesPerTrigger=1): a session closed inline
    by a later event in the same key, and a session flushed by the
    event-time timeout when the watermark passes it."""
    from etl_tiki_webscraping_spark.streaming.events import sessionize_stream

    src = tmp_path / "sess-in"
    src.mkdir()
    batches = [
        [  # batch 1: u1 two events (one session), u2 one event
            {"event_id": "a", "ts": "2024-01-01 10:00:00", "event_type": "view", "value": 1.0, "user_id": 1},
            {"event_id": "b", "ts": "2024-01-01 10:05:00", "event_type": "view", "value": 2.0, "user_id": 1},
            {"event_id": "c", "ts": "2024-01-01 10:00:00", "event_type": "view", "value": 7.0, "user_id": 2},
        ],
        [  # batch 2: u1 far later -> closes u1's first session inline
            {"event_id": "d", "ts": "2024-01-01 12:00:00", "event_type": "view", "value": 3.0, "user_id": 1},
        ],
        [  # batch 3: watermark moves past u2's timeout -> u2 session emits
            {"event_id": "e", "ts": "2024-01-01 14:00:00", "event_type": "view", "value": 9.0, "user_id": 3},
        ],
    ]
    for i, rows in enumerate(batches):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # file source orders batches by modification time — make the
        # intended order explicit (same-ms writes tie otherwise)
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    schema = "event_id string, ts timestamp, event_type string, value double, user_id long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    sessions = sessionize_stream(stream, gap="30 minutes")
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt-sess"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from sess_out").collect()
    }
    # u1's 10:00-10:05 session closed inline by the 12:00 event
    assert got[(1, "2024-01-01 10:00:00")] == (2, 3.0)
    # u2's session flushed by timeout once the watermark passed 10:30
    assert got[(2, "2024-01-01 10:00:00")] == (1, 7.0)
    # u1's 12:00 session flushed when the 14:00 batch moved the watermark
    assert got[(1, "2024-01-01 12:00:00")] == (1, 3.0)
    # u3's 14:00 session is still open (timeout 14:30 > final watermark 14:00)
    assert len(got) == 3


def _write_batches(tmp_path, name, batches, schema_cols=None):
    src = tmp_path / name
    src.mkdir()
    for i, rows in enumerate(batches):
        p = src / f"part-{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))
    return str(src)


def test_stage_event_batches_lands_time_ordered_files(spark, tmp_path):
    """The stager lands ``n_batches`` ascending ``ts`` ranges and then
    the heartbeat spacers as one file each, with strictly increasing
    mtimes in that order, and leaves nothing else in the caller's dir."""
    from etl_tiki_webscraping_spark.plans.catalog import _LOJ_MULTIBATCH_KW
    from etl_tiki_webscraping_spark.streaming.events import stage_event_batches

    events = spark.range(60).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 60).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.when(F.col("id") % 2 == 0, "view").otherwise("purchase").alias("event_type"),
        F.col("id").cast("double").alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    out = str(tmp_path / "in")
    stage_event_batches(events, out, **_LOJ_MULTIBATCH_KW)
    files = sorted(os.listdir(out))
    assert files == [f"batch-{i:05d}.parquet" for i in range(5)]
    mtimes = [os.path.getmtime(os.path.join(out, f)) for f in files]
    assert mtimes == sorted(set(mtimes))
    batches = [spark.read.parquet(os.path.join(out, f)).collect() for f in files]
    ranges = [(min(r["ts"] for r in b), max(r["ts"] for r in b)) for b in batches]
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))
    assert sum(len(b) for b in batches[:3]) == 60
    margin = _LOJ_MULTIBATCH_KW["spacer_margin_seconds"]
    for b, spacer in enumerate(batches[3:]):
        assert sorted(r["user_id"] for r in spacer) == [-2, -1]
        assert {(r["ts"] - ranges[2][1]).total_seconds() for r in spacer} == {margin + 60 * b}


def test_readers_leave_the_session_conf_alone(spark, sf_dir):
    """The batch and streaming events readers give ``ts`` as a
    timestamp without touching the caller's session conf."""
    from pyspark.sql import types as T

    from etl_tiki_webscraping_spark.io import load_table
    from etl_tiki_webscraping_spark.streaming.events import read_events_stream

    key = "spark.sql.legacy.parquet.nanosAsLong"
    session = spark.newSession()
    session.conf.set(key, "false")
    for df in (load_table(session, sf_dir, "events"), read_events_stream(session, sf_dir)):
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert session.conf.get(key) == "false"


def test_windowed_counts_multibatch_watermark_evicts_late_rows(spark, tmp_path):
    """4 micro-batches in append mode: the 10:00 window's state spans
    batch 1, the watermark advanced by batch 2 finalizes+emits+evicts it
    during batch 3, and a batch-4 row arriving BEHIND the watermark is
    dropped (numRowsDroppedByWatermark) — eviction behavior a
    single-batch run can never exercise.  (The watermark's drop
    guarantee is only firm once the state was evicted in an EARLIER
    batch — Spark documents that data later than the delay 'may or may
    not' be aggregated if it races the same batch as the eviction —
    hence the spacer batch.)"""
    batches = [
        [
            {"event_id": "e1", "ts": "2024-01-01 10:05:00", "event_type": "view", "value": 1.0},
            {"event_id": "e2", "ts": "2024-01-01 10:45:00", "event_type": "view", "value": 2.0},
        ],
        [  # moves max event time to 12:00 -> watermark 11:50 next batch
            {"event_id": "e4", "ts": "2024-01-01 12:00:00", "event_type": "click", "value": 8.0},
        ],
        [  # runs WITH watermark 11:50: 10:00-11:00 window finalized + evicted
            {"event_id": "e6", "ts": "2024-01-01 12:10:00", "event_type": "click", "value": 1.0},
        ],
        [  # late row far behind the watermark, state already evicted: dropped
            {"event_id": "e5", "ts": "2024-01-01 10:30:00", "event_type": "view", "value": 100.0},
        ],
    ]
    src = _write_batches(tmp_path, "wm-in", batches)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").json(src)
    )
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("append")  # append emits only finalized windows
        .format("memory")
        .queryName("wm_counts")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt-wm"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from wm_counts").collect()
    }
    # exactly the finalized 10:00 view window without the late row; the
    # 12:00 click window is still open (never finalized, never emitted)
    assert got == {("2024-01-01 10:00:00", "view"): (2, 3.0)}
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
    )
    assert dropped == 1  # the late row was evicted by the watermark, not lost


def test_streaming_dedup_multibatch_state_spans_and_expires(spark, tmp_path):
    """5 micro-batches: a duplicate key in a LATER batch is dropped by
    the cross-batch state store; once the watermark passes the key's
    horizon its state is evicted (one batch after the watermark
    advances — hence the spacer batch) and the key may legitimately
    reappear (dropDuplicatesWithinWatermark's contract)."""
    batches = [
        [
            {"event_id": "e1", "ts": "2024-01-01 10:00:00", "event_type": "view", "value": 1.0},
            {"event_id": "e2", "ts": "2024-01-01 10:05:00", "event_type": "view", "value": 2.0},
        ],
        [  # duplicate of e1 within the watermark horizon -> dropped
            {"event_id": "e1", "ts": "2024-01-01 10:06:00", "event_type": "view", "value": 1.5},
        ],
        [  # advances the watermark to 11:50 for the NEXT batch
            {"event_id": "e3", "ts": "2024-01-01 12:00:00", "event_type": "click", "value": 3.0},
        ],
        [  # spacer: runs with watermark 11:50 -> e1/e2 state evicted here
            {"event_id": "e7", "ts": "2024-01-01 12:01:00", "event_type": "click", "value": 4.0},
        ],
        [  # e1 again, far past its evicted horizon -> re-emitted
            {"event_id": "e1", "ts": "2024-01-01 12:05:00", "event_type": "view", "value": 9.0},
        ],
    ]
    src = _write_batches(tmp_path, "dedup-in", batches)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").json(src)
    )
    deduped = streaming_dedup(stream, keys=["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_mb")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt-dmb"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select event_id, value from dedup_mb").collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == ["e1", "e1", "e2", "e3", "e7"]  # dup dropped; expired key re-emitted
    vals = {r["value"] for r in rows if r["event_id"] == "e1"}
    assert vals == {1.0, 9.0}  # the in-horizon duplicate (1.5) never surfaced


def test_stream_stream_join_multibatch_state_cleanup(spark, tmp_path):
    """Stream-stream inner join with watermarks on BOTH sides (VERDICT
    r3 ask #4): a view and its purchase land in DIFFERENT micro-batches
    (cross-batch buffered-state join); after both watermarks advance
    past ``view_ts + horizon`` the buffered view state is EVICTED
    (numRowsRemoved > 0), so a purchase arriving later that would have
    matched an evicted view joins nothing — bounded state, by
    construction, not by luck."""
    from etl_tiki_webscraping_spark.streaming.events import stream_stream_purchase_views

    schema = "event_id string, ts timestamp, user_id bigint, event_type string, value double"
    batches = [
        [  # two views, different users
            {"event_id": "v1", "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "view", "value": 0.0},
            {"event_id": "v2", "ts": "2024-01-01 10:10:00", "user_id": 2, "event_type": "view", "value": 0.0},
        ],
        [  # p1 matches v1 ACROSS batches; the 12:00 pair advances both
           # sides' watermarks to 11:50 for the NEXT batch
            {"event_id": "p1", "ts": "2024-01-01 10:30:00", "user_id": 1, "event_type": "purchase", "value": 5.0},
            {"event_id": "v9", "ts": "2024-01-01 12:00:00", "user_id": 9, "event_type": "view", "value": 0.0},
            {"event_id": "p9", "ts": "2024-01-01 12:00:00", "user_id": 8, "event_type": "purchase", "value": 1.0},
        ],
        [  # spacer: runs WITH watermark 11:50 -> v1/v2 state
           # (view_ts + 1h < 11:50) evicted here
            {"event_id": "v10", "ts": "2024-01-01 12:10:00", "user_id": 10, "event_type": "view", "value": 0.0},
        ],
        [  # late purchase for user 2, inside v2's horizon BY EVENT TIME
           # (10:10 <= 10:15 <= 11:10) but far behind the watermark: v2's
           # state is gone, so it must NOT produce a join row
            {"event_id": "p2", "ts": "2024-01-01 10:15:00", "user_id": 2, "event_type": "purchase", "value": 7.0},
        ],
    ]
    src = _write_batches(tmp_path, "ssj-in", batches)

    def source():
        return (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
        )

    views = source().filter(F.col("event_type") == "view")
    purchases = source().filter(F.col("event_type") == "purchase")
    joined = stream_stream_purchase_views(views, purchases)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt-ssj"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["view_id"], r["purchase_id"])
        for r in spark.sql("select view_id, purchase_id from ssj_out").collect()
    }
    assert got == {("v1", "p1")}  # cross-batch match lands; late p2 does not
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0) for p in q.recentProgress
    )
    assert removed > 0, "join state was never evicted"


def test_stream_stream_join_state_plateaus_over_many_batches(spark, tmp_path):
    """Round-11 VERDICT ask #7 — the 10x-batch stress of the heaviest
    streaming headliner: over 30 micro-batches of steadily advancing
    event time, the join's buffered state must PLATEAU (bounded by
    horizon + watermark delay of traffic, ~7 batches' worth here), not
    grow with the stream, and eviction (numRowsRemoved) must run
    CONTINUOUSLY once the watermark starts moving — bounded state by
    construction at any stream length."""
    from etl_tiki_webscraping_spark.streaming.events import (
        stream_stream_purchase_views,
    )

    schema = (
        "event_id string, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    n_batches = 30
    per_batch = 10
    batches = []
    for b in range(n_batches):
        rows = []
        for u in range(per_batch):
            uid = b * per_batch + u
            mins = b * 10
            rows.append(
                {"event_id": f"v{uid}", "ts": f"2024-01-01 {10 + mins // 60:02d}:{mins % 60:02d}:00",
                 "user_id": uid, "event_type": "view", "value": 0.0}
            )
            rows.append(
                {"event_id": f"p{uid}", "ts": f"2024-01-01 {10 + (mins + 5) // 60:02d}:{(mins + 5) % 60:02d}:00",
                 "user_id": uid, "event_type": "purchase", "value": 1.0}
            )
        batches.append(rows)
    src = _write_batches(tmp_path, "ssj-plateau-in", batches)

    def source():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )

    views = source().filter(F.col("event_type") == "view")
    purchases = source().filter(F.col("event_type") == "purchase")
    joined = stream_stream_purchase_views(views, purchases)
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ssj_plateau_out")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt-ssj-plateau"))
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    # every in-batch pair joins (purchase 5 min after its view)
    n_rows = spark.sql("select count(*) n from ssj_plateau_out").collect()[0]["n"]
    assert n_rows == n_batches * per_batch
    progress = [p for p in q.recentProgress if p["stateOperators"]]
    state = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
    removed = [
        p["stateOperators"][0].get("numRowsRemoved", 0) for p in progress
    ]
    assert len(state) >= 25  # the stress actually ran many batches
    total_in = n_batches * per_batch * 2
    # PLATEAU: the high-water mark is a fraction of total input, and
    # the second half of the run never exceeds the ramp-up peak —
    # state is watermark-bounded, not stream-length-bounded
    ramp_peak = max(state[: len(state) // 2])
    assert max(state) < total_in / 2
    assert max(state[len(state) // 2 :]) <= ramp_peak
    # CONTINUOUS eviction: once the watermark moves (eviction lags one
    # batch), most batches remove rows, and total removals approach
    # total insertions (everything but the watermark-tail gets evicted)
    evicting_batches = sum(1 for r in removed if r > 0)
    assert evicting_batches >= len(progress) // 2
    assert sum(removed) >= total_in * 0.6


def test_foreach_batch_upsert_recovers_from_checkpoint_without_replay(spark, tmp_path):
    """Exactly-once across restarts: a second run on the SAME checkpoint
    must process only files that arrived after the first run — committed
    micro-batches are never re-applied.  The probe: run 1 commits
    (e1, v=0); new files then update e1 to v=1; if recovery replayed the
    first batch after the update, last-writer-wins would regress e1 to
    0."""
    src = tmp_path / "stream-in-rec"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt-rec")
    target = str(tmp_path / "warehouse-rec")

    def emit(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    emit("f0.json", [
        {"event_id": "e1", "ts": "2024-01-01 10:00:00", "event_type": "view", "value": 0.0},
        {"event_id": "e2", "ts": "2024-01-01 10:01:00", "event_type": "view", "value": 9.0},
    ])

    def run_once():
        stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
        writer = foreach_batch_upsert(stream, target, keys=["event_id"], checkpoint_dir=ckpt)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once()  # processes f0, then "crashes" (terminates)

    emit("f1.json", [
        {"event_id": "e1", "ts": "2024-01-01 10:02:00", "event_type": "view", "value": 1.0},
    ])
    emit("f2.json", [
        {"event_id": "e3", "ts": "2024-01-01 10:03:00", "event_type": "click", "value": 7.0},
    ])
    run_once()  # restart on the same checkpoint: must see only f1, f2

    from etl_tiki_webscraping_spark.sinks.upsert import read_parquet_table

    rows = {r["event_id"]: r["value"] for r in read_parquet_table(spark, target).collect()}
    assert rows == {"e1": 1.0, "e2": 9.0, "e3": 7.0}


def test_foreach_batch_apply_changes_folds_cdc_stream(spark, tmp_path):
    """Three CDC micro-batches (insert wave, update+insert, delete)
    stream through foreach_batch_apply_changes; the replica commits one
    version per non-empty batch and ends at the sequential fold."""
    import glob
    import os
    import shutil

    from etl_tiki_webscraping_spark.sinks.upsert import read_parquet_table
    from etl_tiki_webscraping_spark.streaming.events import (
        foreach_batch_apply_changes,
    )

    batches = [
        [(1, "a", "U", 1), (2, "b", "U", 1), (3, "c", "U", 1)],
        [(2, "b2", "U", 2), (4, "d", "U", 2)],
        [(1, None, "D", 3), (3, None, "D", 3)],
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, rows in enumerate(batches, start=1):
        df = spark.createDataFrame(rows, "k int, v string, op string, seq int")
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = os.path.join(in_dir, f"{i:04d}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (i * 1000, i * 1000))

    replica = str(tmp_path / "replica")
    stream = (
        spark.readStream.schema("k int, v string, op string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    (
        foreach_batch_apply_changes(stream, replica, ["k"], str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )

    got = {(r.k, r.v) for r in read_parquet_table(spark, replica).collect()}
    assert got == {(2, "b2"), (4, "d")}
    # one committed version per micro-batch
    versions = sorted(
        e for e in os.listdir(replica) if e.startswith("v") and e[1:].isdigit()
    )
    assert versions == ["v00000002", "v00000003"] or versions == [
        "v00000001",
        "v00000002",
        "v00000003",
    ]  # v1 may be pruned by default retention


class TestStreamingSketchMaintenance:
    def test_sketch_table_estimates_within_tolerance(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from etl_tiki_webscraping_spark.io import load_table
        from etl_tiki_webscraping_spark.plans.catalog import QUERIES

        est = {
            str(r["day"]): r["approx_users"]
            for r in QUERIES["streaming_sketch_maintenance"].fn(spark, sf_dir).collect()
        }
        exact = {
            str(r["day"]): r["n"]
            for r in load_table(spark, sf_dir, "events")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        # the stream covered the WHOLE fixture across 3 micro-batches:
        # every day present, each estimate within 5% of exact distinct
        assert set(est) == set(exact)
        for day, n in exact.items():
            assert abs(est[day] - n) <= max(1.0, 0.05 * n), (day, est[day], n)


def test_stream_stream_left_outer_emits_nulls_only_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a view with no purchase in its
    horizon emits a NULL-extended row — but only once the watermark
    proves no match can still arrive.  Without the trailing
    watermark-advancing batches the unmatched tail must stay buffered
    (zero premature nulls)."""
    from etl_tiki_webscraping_spark.streaming.events import (
        stream_stream_purchase_views,
    )

    schema = "event_id string, ts timestamp, user_id bigint, event_type string, value double"
    base = [
        [
            {"event_id": "v1", "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "view", "value": 0.0},
            {"event_id": "v2", "ts": "2024-01-01 10:10:00", "user_id": 2, "event_type": "view", "value": 0.0},
        ],
        [  # p1 matches v1; u2 purchase OUTSIDE the 1h horizon
            {"event_id": "p1", "ts": "2024-01-01 10:30:00", "user_id": 1, "event_type": "purchase", "value": 5.0},
            {"event_id": "p2", "ts": "2024-01-01 11:30:00", "user_id": 2, "event_type": "purchase", "value": 7.0},
        ],
    ]
    spacers = [
        [  # advance both sides' watermarks past every expiry...
            {"event_id": "hb-v", "ts": "2024-01-01 14:00:00", "user_id": -1, "event_type": "view", "value": 0.0},
            {"event_id": "hb-p", "ts": "2024-01-01 14:00:00", "user_id": -2, "event_type": "purchase", "value": 0.0},
        ],
        [  # ...then the flush batch, which RUNS with that watermark
            {"event_id": "hb-v2", "ts": "2024-01-01 14:01:00", "user_id": -1, "event_type": "view", "value": 0.0},
            {"event_id": "hb-p2", "ts": "2024-01-01 14:01:00", "user_id": -2, "event_type": "purchase", "value": 0.0},
        ],
    ]

    def run(batches, name):
        src = _write_batches(tmp_path, f"loj-{name}", batches)
        views = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .json(src).filter(F.col("event_type") == "view")
        )
        purchases = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .json(src).filter(F.col("event_type") == "purchase")
        )
        joined = stream_stream_purchase_views(views, purchases, how="leftOuter")
        q = (
            joined.writeStream.outputMode("append").format("memory")
            .queryName(f"loj_{name}").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["view_id"], r["purchase_id"])
            for r in spark.sql(
                f"select view_id, purchase_id from loj_{name} where user_id >= 0"
            ).collect()
        }

    # no spacer: the match emits, the unmatched view CANNOT (watermark
    # never passed its expiry) — no premature null row
    assert run(base, "noflush") == {("v1", "p1")}
    # with spacers the tail flushes: v2 emits null-extended
    assert run(base + spacers, "flush") == {("v1", "p1"), ("v2", None)}


def test_loj_spacer_margin_covers_horizon_and_delay(spark):
    """The catalog LOJ's heartbeat spacers flush the null-extended tail
    only if they land more than horizon + watermark delay past the
    data; the margin must cover the join's actual defaults."""
    import inspect

    from etl_tiki_webscraping_spark.plans.catalog import _LOJ_MULTIBATCH_KW
    from etl_tiki_webscraping_spark.streaming.events import (
        stream_stream_purchase_views,
    )

    params = inspect.signature(stream_stream_purchase_views).parameters
    horizon_s, delay_s = (
        spark.range(1).select(
            F.expr(
                "unix_seconds(TIMESTAMP'1970-01-01 00:00:00 UTC' + "
                f"INTERVAL {params[p].default})"
            )
        ).first()[0]
        for p in ("horizon", "watermark_delay")
    )
    assert _LOJ_MULTIBATCH_KW["spacer_margin_seconds"] > horizon_s + delay_s


def test_stream_stream_join_rejects_unknown_how(spark):
    import pytest

    from etl_tiki_webscraping_spark.streaming.events import (
        stream_stream_purchase_views,
    )

    df = spark.createDataFrame([], "event_id string, ts timestamp, user_id bigint")
    with pytest.raises(ValueError, match="leftOuter"):
        stream_stream_purchase_views(df, df, how="full")


def test_streaming_media_triage_equals_batch_triage(spark, sf_dir):
    """The streaming triage's committed rollup must equal the batch
    query's rollup — per-document triage is stateless, so batch
    boundaries cannot change verdicts."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    streaming = {
        (r["container"], r["decodable"]): (r["n_blobs"], r["n_samples_total"])
        for r in QUERIES["streaming_media_triage"].fn(spark, sf_dir).collect()
    }
    batch = {
        (r["container"], r["decodable"]): (
            r["n_blobs"],
            r["n_samples_total"],
        )
        for r in (
            QUERIES["audio_format_quarantine"].fn(spark, sf_dir)
            .groupBy("container", "decodable")
            .agg(
                F.count(F.lit(1)).alias("n_blobs"),
                F.sum(F.coalesce(F.col("n_samples"), F.lit(0))).alias(
                    "n_samples_total"
                ),
            )
            .collect()
        )
    }
    assert streaming == batch and streaming
