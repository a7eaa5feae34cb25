"""Structured Streaming surface (SURVEY.md §2.10).

The reference is batch-only: a daily full re-scrape + PK upsert
(``schedule_interval="@daily"`` /root/reference/dags/etl.py:296-297;
merge loads :181-202).  That pattern IS incremental-by-merge, and its
idiomatic Spark form is ``Trigger.AvailableNow`` streaming with
``foreachBatch(upsert)`` — each micro-batch merged idempotently, state
carried by the checkpoint instead of re-reading the world.

Exercised against the ``events`` fixture: event-time tumbling windows
with watermarks for late data, stateful dropDuplicates on event_id,
and the foreachBatch-upsert sink.  Each streaming transform has a
batch twin (same logical plan on a static frame) used by the
correctness oracle; the streaming path is covered by unit tests with
file sources + AvailableNow, run as REAL multi-batch streams
(maxFilesPerTrigger=1 over time-ordered files) so cross-batch state,
watermark advancement, and eviction are actually exercised.

WHICH SINK SHIPS: the deployable production path is
:func:`foreach_batch_upsert` — ``outputMode("update")`` +
``foreachBatch`` merging each micro-batch into the partitioned
snapshot table by PK.  Its state is bounded by the watermark and the
sink table absorbs the history, so it scales to unbounded streams.
The ``complete``-mode memory sink used by the correctness catalog
(:func:`run_available_now_to_memory` in ``q_stream_windowed``) is an
ORACLE HARNESS ONLY: complete mode retains every window's state
forever and the memory sink collects to the driver — both fine for a
bounded fixture comparison, both wrong for production.  Do not deploy
the harness path.
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import threading
from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from etl_tiki_webscraping_spark.io import normalize_event_ts

# stream_stream_purchase_views defaults.  A left-outer flush needs the
# watermark past view_ts + horizon, and the watermark trails the data
# by the delay — so heartbeat spacers must land more than horizon +
# delay past the data (the catalog's LOJ spacer margin derives from
# these, tests/test_streaming.py guards it).
PURCHASE_VIEW_HORIZON_SECONDS = 3600
WATERMARK_DELAY_SECONDS = 600


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of the ``events`` fixture.

    Streams the parquet directory with a glob pinned to the events
    file (a real deployment would point at an arriving-files dir).
    ``ts`` goes through the batch loader's normalizer
    (:func:`etl_tiki_webscraping_spark.io.normalize_event_ts`), so the
    streaming and batch plans see identical schemas.
    """
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    return normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def land_in_order(frame: DataFrame, out_dir: str) -> None:
    """Append each partition of ``frame`` to ``out_dir`` as one parquet
    file, in partition order, after the files already landed there.

    A file stream source takes files oldest first, so the ``i``-th file
    landed gets mtime ``i`` minutes past a fixed epoch: under
    ``maxFilesPerTrigger=1`` each partition is one micro-batch, in
    landing order, whatever order the write tasks finished in.  An
    empty partition lands no file."""
    landing = os.path.join(out_dir, "_landing")
    frame.write.parquet(landing)
    start = sum(f.startswith("batch-") for f in os.listdir(out_dir))
    parts = sorted(
        f for f in os.listdir(landing)
        if f.startswith("part-") and f.endswith(".parquet")
    )  # part-00000 is partition 0
    for i, f in enumerate(parts, start):
        dst = os.path.join(out_dir, f"batch-{i:05d}.parquet")
        shutil.move(os.path.join(landing, f), dst)
        os.utime(dst, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
    shutil.rmtree(landing)


def stage_event_batches(
    events: DataFrame,
    out_dir: str,
    n_batches: int = 3,
    spacer_batches: int = 0,
    spacer_margin_seconds: int = 0,
) -> None:
    """Land ``events`` in ``out_dir`` (the caller's) as ``n_batches``
    REAL micro-batches for a ``maxFilesPerTrigger=1`` stream.

    One parquet file would be consumed by AvailableNow in a single
    batch — exercising none of the cross-batch machinery.  This lands
    ``n_batches`` disjoint ``ts`` ranges as time-ordered files
    (:func:`land_in_order`), so windows and dedup keys spanning
    adjacent ranges carry state ACROSS batches and the watermark
    advances batch-by-batch exactly as in production.  Because arrival
    order follows event time, no row is ever late — results stay equal
    to the batch twin / SQL oracle.  (Late-data EVICTION is proven
    separately in tests/test_streaming.py with out-of-order batches.)

    ``spacer_batches`` appends that many trailing single-file
    micro-batches of sentinel heartbeat rows (one 'view' + one
    'purchase', ``user_id`` -1/-2, ``event_id`` < 0) whose timestamps
    start ``spacer_margin_seconds`` past the data's max ``ts``; they
    take the events fixture's six columns.  Outer-join null emissions
    and state evictions only materialize once the watermark PASSES a
    row's expiry — and a result-emitting micro-batch uses the watermark
    computed at the END of the previous one — so a stream that just
    ends never flushes its tail.  In production a heartbeat/punctuation
    topic plays this role; two spacer batches (advance, then flush) are
    the availableNow equivalent.  Callers filter ``user_id < 0`` out of
    results.
    """
    land_in_order(
        events.repartitionByRange(n_batches, "ts").sortWithinPartitions("ts"), out_dir
    )
    if spacer_batches:
        # one bounded scalar read: the sentinel ts must clear every
        # real row's state expiry (caller adds horizon+delay margin)
        mx = events.agg(F.max("ts").alias("m")).collect()[0]["m"]
        for b in range(spacer_batches):
            ts = mx + datetime.timedelta(seconds=spacer_margin_seconds + 60 * b)
            rows = [
                (-(2 * b + 1), ts, -1, "view", 0.0, None),
                (-(2 * b + 2), ts, -2, "purchase", 0.0, None),
            ]
            spacer = events.sparkSession.createDataFrame(rows, schema=events.schema)
            land_in_order(spacer.coalesce(1), out_dir)


_SP_KEY = "spark.sql.shuffle.partitions"
_ND_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
# serializes the set/start/restore of the caller's session conf: two
# runner threads on one session must not start under each other's values
_START_LOCK = threading.Lock()


def _source_bytes(session: SparkSession, relation) -> int | None:
    """Bytes under the ``path`` of a file-source streaming leaf, or None
    for any other source and for a path that cannot be listed."""
    jvm = session._jvm
    source = relation.dataSource()
    file_format = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.datasources.FileFormat"
    )
    path = source.options().get("path")
    if not file_format.isAssignableFrom(source.providingClass()) or path.isEmpty():
        return None
    try:
        root = jvm.org.apache.hadoop.fs.Path(path.get())
        fs = root.getFileSystem(session._jsparkSession.sessionState().newHadoopConf())
        return int(fs.getContentSummary(root).getLength())
    except Py4JJavaError:  # a glob path, a missing dir
        return None


def _state_partitions(stream: DataFrame) -> int:
    """State-store partitions for ``stream``, sized from its input.

    ``ceil(bytes / spark.sql.files.maxPartitionBytes)``, at least 1 and
    at most the session's ``spark.sql.shuffle.partitions``, where bytes
    are everything under the ``path`` of each file-source leaf of the
    analyzed plan (a ``pathGlobFilter`` can only make that an
    overestimate).  A plan holding a Python state kernel gets at least
    ``defaultParallelism`` partitions (:func:`spread`'s small-input
    rule: one partition would run the kernel serially).  A source that
    cannot be sized (a rate or Kafka source, a glob path) keeps the
    session value.  The optimizer's size estimate cannot stand in: a
    streaming leaf reports ``sizeInBytes`` = 2^63-1.
    """
    session = stream.sparkSession
    n = int(session.conf.get(_SP_KEY))
    total, sized, python_state = 0, True, False
    stack = [stream._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        python_state |= name == "FlatMapGroupsInPandasWithState"
        if name.startswith("StreamingRelation"):  # V2 leaves: never sized
            size = _source_bytes(session, node) if name == "StreamingRelation" else None
            sized &= size is not None
            total += size or 0
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    if sized:
        split_bytes = session._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        n = min(n, max(1, -(-total // split_bytes)))
    if python_state:
        n = max(n, session.sparkContext.defaultParallelism)
    return n


def run_available_now_to_memory(
    stream: DataFrame,
    query_name: str,
    output_mode: str,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (``Trigger.AvailableNow`` — the idiomatic form of the reference's
    daily batch re-run, dags/etl.py:296-297) into an in-memory sink and
    return the result table.  The run's checkpoint is a scratch dir,
    removed once the query has terminated.

    The STATE STORE is sized from the input: a streaming query keeps
    one state-store partition per shuffle partition and pays each one's
    load/commit every micro-batch, and the count is frozen into the
    checkpoint.  The runner picks ``ceil(input bytes /
    spark.sql.files.maxPartitionBytes)`` partitions, at most the
    session's ``spark.sql.shuffle.partitions`` and at least
    ``defaultParallelism`` for a Python state kernel; an input it
    cannot size keeps the session value (:func:`_state_partitions`).

    ``no_data_batches=False`` disables the trailing watermark-only
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``).
    Each no-data round costs a full
    state-store reload/commit cycle across every store partition plus
    an incremental re-plan (~1 s at fixture scale, r16 measurement) and
    exists ONLY to emit results an advancing watermark unlocks after
    the last data batch.  Callers may disable it exactly when their
    emitted rows cannot depend on that trailing round: complete-mode
    aggregates (every trigger rewrites the full result), inner
    stream-stream joins (rows emit when the matching data arrives), and
    append sinks whose tail is flushed by trailing DATA batches (the
    left-outer join's heartbeat spacers).  Queries whose tail emission
    NEEDS a watermark-only round must keep the default.

    Both settings reach the stream through the caller's session: a
    stream clones its session's conf inside ``start()``, so the runner
    sets them only across ``start()``, under a module lock, and
    restores them before the run; no other query ever sees them after
    ``start()`` returns.  The stream stays on the caller's session
    because streaming listeners are per session: a stream on
    ``spark.newSession()`` would be invisible to
    :func:`etl_tiki_webscraping_spark.metrics.measure`.
    """
    session = stream.sparkSession
    n = _state_partitions(stream)
    ckpt = tempfile.mkdtemp(prefix=f"ckpt-{query_name}-")
    writer = (
        stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
    )
    q = None
    try:
        with _START_LOCK:
            prev = {k: session.conf.get(k) for k in (_SP_KEY, _ND_KEY)}
            session.conf.set(_SP_KEY, str(n))
            if not no_data_batches:
                session.conf.set(_ND_KEY, "false")
            try:
                q = writer.start()
            finally:
                for k, v in prev.items():
                    session.conf.set(k, v)
        q.awaitTermination()
    finally:
        if q is not None:
            q.stop()  # no-op once terminated
        # the memory sink never reads its checkpoint back
        shutil.rmtree(ckpt, ignore_errors=True)
    return session.table(query_name)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts/sums per event type with a watermark.

    Works on a streaming DataFrame (late rows beyond the watermark are
    dropped; state is bounded) AND on a batch DataFrame (watermark is a
    no-op there) — one definition, both engines.
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col(type_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            type_col,
            "n_events",
            "sum_value",
        )
    )


def windowed_event_counts_batch(events: DataFrame, window_duration: str = "1 hour") -> DataFrame:
    """Batch twin without the watermark node (for oracle comparison)."""
    return (
        events.groupBy(F.window(F.col("ts"), window_duration).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark_delay: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful exactly-once dedup on the event key within the
    watermark horizon — the streaming analog of the reference's
    upsert-based cross-run dedup (PK keyed, SURVEY §2.9 W2).
    """
    return events.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(list(keys))


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "0 seconds",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom STATEFUL streaming sessionization via
    ``applyInPandasWithState`` — the operator Spark's built-ins can't
    express (``session_window`` exists for aggregation, but not with
    arbitrary per-session state transitions / emission logic).

    Per key, consecutive events within ``gap`` belong to one session.
    Sessions that close WITHIN a batch (a later event arrives after the
    gap) emit immediately; the trailing open session is held in state
    with an event-time timeout of ``last_ts + gap`` and emits when the
    watermark passes it.  State per key is four scalars — bounded
    regardless of session length; the batch twin is the catalog's
    ``sessionize_events`` (lag + running-sum windows).
    """
    import pandas as pd  # driver-side too: parse the gap duration

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = "session_start bigint, last_ts bigint, n_events bigint, sum_value double"

    def _emit(user_id, ss, lt, n, sv):
        return {
            "user_id": int(user_id),
            "session_start": pd.to_datetime(ss, unit="ms"),
            "session_end": pd.to_datetime(lt, unit="ms"),
            "n_events": int(n),
            "sum_value": float(sv),
        }

    def fn(key, pdfs, state: GroupState):
        user_id = key[0]
        if state.hasTimedOut:
            ss, lt, n, sv = state.get
            state.remove()
            yield pd.DataFrame([_emit(user_id, ss, lt, n, sv)])
            return
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(ts_col)
        # normalize to ns first — Arrow may hand us datetime64[us] or [ns]
        ts_ms = (
            pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1_000_000
        ).tolist()
        vals = pdf[value_col].tolist()
        ss = lt = n = sv = None
        if state.exists:
            ss, lt, n, sv = state.get
        closed = []
        for t, v in zip(ts_ms, vals):
            if ss is None:
                ss, lt, n, sv = t, t, 1, float(v)
            elif t - lt > gap_ms:
                closed.append(_emit(user_id, ss, lt, n, sv))
                ss, lt, n, sv = t, t, 1, float(v)
            else:
                lt, n, sv = t, n + 1, sv + float(v)
        timeout_at = int(lt) + gap_ms
        wm = state.getCurrentWatermarkMs()
        if timeout_at <= wm:
            # the open session is already expired relative to the
            # watermark (e.g. late-ish batch): emit now — a timeout in
            # the past cannot be registered
            closed.append(_emit(user_id, ss, lt, n, sv))
            if state.exists:
                state.remove()
        else:
            state.update((int(ss), int(lt), int(n), float(sv)))
            state.setTimeoutTimestamp(timeout_at)
        if closed:
            yield pd.DataFrame(closed)

    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def enriched_windowed_counts(
    events: DataFrame,
    dim: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-static join + windowed aggregation: enrich the event
    stream with a broadcast dimension (nation, keyed by
    ``user_id % 25``), then tumbling-window counts per nation.

    The stream-static join is stateless — each micro-batch hash-joins
    against the (re-broadcast-on-update) static side, no join state
    accumulates — so only the windowed agg holds state, bounded by the
    watermark.  Works identically on a batch frame (the oracle twin).
    """
    enriched = events.withWatermark("ts", watermark_delay).join(
        F.broadcast(dim.select("n_nationkey", "n_name")),
        F.pmod(F.col("user_id"), F.lit(25)) == F.col("n_nationkey"),
        "inner",
    )
    return (
        enriched.groupBy(F.window("ts", window_duration).alias("w"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("n_name").alias("nation"),
            "n_events",
            "sum_value",
        )
    )


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    order_by: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
    stable_partitions: bool = True,
    evolve_schema: bool = False,
) -> DataStreamWriter:
    """``writeStream.foreachBatch`` sink that merges every micro-batch
    into a parquet target by PK — the reference's daily staging+merge
    (dags/etl.py:173-202) as a streaming sink.  Idempotent per batch:
    re-processing a batch after failure converges to the same table.

    Lay the table out with ``partition_by`` (typically the event date)
    so each micro-batch rewrites ONLY the partitions it touches — at
    streaming cadence the partition-pruned upsert is what makes a 100 TB
    sink table sustainable (a full-table rewrite per trigger is not).
    It sets the layout of a table the first batch creates; an existing
    table keeps its recorded layout, so omit it or pass that layout.
    Streaming event keys don't migrate partitions when partitioned by
    their own event date, hence ``stable_partitions=True`` here by
    default (see sinks/upsert.py).

    ``evolve_schema=True`` forwards Delta-``mergeSchema``-style ADDITIVE
    evolution to the per-batch merge: when a redeployed query's batches
    carry a column the committed table lacks, the column is appended and
    prior rows read NULL for it (a streaming source's own schema is
    fixed for the lifetime of one query, so mid-stream evolution arrives
    exactly this way — a restart with a wider schema).  Off by default:
    a stray column in a feed should be a loud error, not silent DDL.
    """
    from etl_tiki_webscraping_spark.sinks.upsert import upsert_parquet

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_parquet(
            batch_df.sparkSession,
            batch_df,
            target_path,
            keys,
            order_by,
            partition_by=partition_by,
            stable_partitions=stable_partitions,
            evolve_schema=evolve_schema,
        )

    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge)
    )


def foreach_batch_portable_hll(
    stream: DataFrame,
    target_path: str,
    key_cols: Sequence[str],
    value_col: str,
    checkpoint_dir: str,
    lg_k: int = 8,
) -> "DataStreamWriter":
    """``foreachBatch`` sink maintaining a PORTABLE-HLL register table
    (operators/sketches.py::hll_build).  The maintained state is plain
    integer registers, so it is bit-strict against a SQL oracle, where
    DataSketches binary blobs could only ever be checked rows-only.

    Each micro-batch builds its own ``(keys..., idx, rho)`` register
    rows, folds them into the stored table by per-register MAX (LEFT
    join keeps the update set batch-sized; stored-only registers
    survive via the upsert's anti-join carry-forward), and commits
    through the ordinary snapshot upsert keyed on ``(keys..., idx)``.
    Because register assignment is row-intrinsic and max is
    associative, the final table is IDENTICAL to a one-shot build over
    the full event set — any batch split replays to the same bits,
    which is exactly what the catalog oracle asserts.  State is
    bounded: ``|keys| x 2^lg_k`` rows regardless of stream volume."""
    from etl_tiki_webscraping_spark.operators.sketches import hll_build
    from etl_tiki_webscraping_spark.sinks.upsert import (
        read_parquet_table,
        upsert_parquet,
    )

    keys = list(key_cols)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fresh = hll_build(batch_df, value_col, group_cols=keys, lg_k=lg_k)
        import os

        # emptiness check, not bare exists(): a pre-created empty sink
        # dir would otherwise hit a schema-less parquet read and kill
        # the first micro-batch (same guard the upsert paths use)
        if os.path.isdir(target_path) and any(
            not e.startswith((".", "_")) for e in os.listdir(target_path)
        ):
            stored = read_parquet_table(spark, target_path).select(
                *keys, "idx", F.col("rho").alias("__old")
            )
            fresh = (
                fresh.join(stored, on=[*keys, "idx"], how="left")
                .select(
                    *keys,
                    "idx",
                    F.greatest(F.col("rho"), F.col("__old")).alias("rho"),
                )
            )
        upsert_parquet(spark, fresh, target_path, [*keys, "idx"])

    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge)
    )


def stream_stream_purchase_views(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = f"{PURCHASE_VIEW_HORIZON_SECONDS} seconds",
    watermark_delay: str = f"{WATERMARK_DELAY_SECONDS} seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INNER join with watermarks on BOTH sides and a
    time-range condition (SURVEY §2.10 extension; VERDICT r3 ask #4):
    each purchase joins the same user's views from the preceding
    ``horizon``.

    State-cleanup contract (the part a stream-static join doesn't
    have): both inputs carry their own watermark, and the range
    condition ``view_ts in [purchase_ts - horizon, purchase_ts]`` lets
    Spark derive a state watermark PER SIDE — a buffered view row is
    dropped once the combined watermark passes ``view_ts + horizon``
    (no purchase that could still arrive can match it), and a buffered
    purchase once the watermark passes its own event time.  Without
    the range bound the join state would grow forever; with it, state
    is bounded by ``horizon + watermark_delay`` of traffic per side.
    Works identically on batch frames (watermarks are no-ops) — the
    oracle twin.

    ``how='leftOuter'`` emits every view, null-extending the ones no
    purchase followed within the horizon (abandonment detection) — the
    semantics only a watermark makes possible in a stream: the
    null row for a view can be emitted ONLY once the watermark proves
    no matching purchase can still arrive (watermark past ``view_ts +
    horizon``), so a finite input needs trailing watermark-advancing
    rows to flush its tail (see stage_event_batches's
    ``spacer_batches``).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be 'inner' or 'leftOuter', got {how!r}")
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark_delay)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark_delay)
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "view_ts",
        "purchase_ts",
    )


def foreach_batch_apply_changes(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    op_col: str = "op",
    seq_col: str = "seq",
    partition_by: Sequence[str] | None = None,
) -> DataStreamWriter:
    """``writeStream.foreachBatch`` sink folding a CDC stream into a
    snapshot replica — the streaming form of ``APPLY CHANGES INTO``
    (sinks/upsert.py::apply_changes_parquet): each micro-batch's
    I/U/D rows merge by key with highest-``seq``-wins and deletes
    removing rows; the replica follows the upstream change feed
    batch-by-batch without ever scanning the upstream table.
    Idempotent per batch (a replayed batch converges), which is what
    foreachBatch's at-least-once delivery requires.
    """
    from etl_tiki_webscraping_spark.sinks.upsert import apply_changes_parquet

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_changes_parquet(
            batch_df.sparkSession,
            batch_df,
            target_path,
            keys,
            op_col,
            seq_col,
            partition_by=partition_by,
        )

    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fold)
    )
