"""Structured Streaming queries (memory-sink drained) (split from registry.py, round 7; behavior
identical -- see registry.py for the assembly order)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .q_cdc import *  # noqa: F401,F403
from .q_corpus import *  # noqa: F401,F403
from .q_ann import *  # noqa: F401,F403
from .q_analytics import *  # noqa: F401,F403


from contextlib import contextmanager


@contextmanager
def _stream_state_partitions(spark: SparkSession, n: int = 8):
    """Scope streaming-state partition count to the state size.

    ``spark.sql.shuffle.partitions`` at query START fixes the state-
    store partition count for that checkpoint's lifetime, and every
    micro-batch pays one state-store commit PER partition PER store
    instance (a stream-stream join runs four).  The r4 profile
    (scratch/leftjoin_profile.py): the sf0.1 left-join replay holds
    ~40k state rows, and walls scale with the partition count -- 32
    partitions 7.4 s, 8 partitions 3.0 s, 4 partitions 2.4 s -- pure
    commit overhead, zero compute.  So these replay harnesses size
    state partitions to the state actually held instead of inheriting
    the batch default.  At 100 TB the same dial turns the other way:
    state partitions ~ state volume / executor-heap budget, decoupled
    from the batch shuffle width.  Fresh checkpoints per run make the
    scoped override safe; the conf is restored on exit."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain_to_table(spark: SparkSession, out: DataFrame, name: str, mode: str) -> DataFrame:
    """Shared availableNow drain: start ``out`` as a memory sink under
    a state-partition scope, wait (bounded), stop, return the
    materialized table.  One definition so the conf scoping, timeout,
    and stop discipline can't drift between the ten streaming
    queries that use it."""
    with _stream_state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(f"{name}: availableNow drain exceeded 300s")
        q.stop()
    return spark.table(name)


def _q_events_dedup_stream(spark, sf_dir):
    """Streaming dedup in the driver contract: the events table
    replayed as a file stream with every row DUPLICATED (the
    at-least-once redelivery case), drained through watermarked
    dropDuplicates on event_id via availableNow.  Copies are
    byte-identical, so the survivor set equals the original table
    regardless of arrival order -- which is exactly what the oracle
    states."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column
    from ..streaming.dedup_stream import dedup_stream

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
        .withColumn("__copy", F.explode(F.array(F.lit(0), F.lit(1))))
        .drop("__copy")
    )
    _STREAM_SINK_SEQ += 1
    name = f"events_dedup_stream_sink_{_STREAM_SINK_SEQ}"
    out = dedup_stream(stream).select(
        "event_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return _drain_to_table(spark, out, name, "append")


def _q_events_join_stream(spark, sf_dir):
    """Stream-stream interval join in the driver contract: the events
    table replayed as TWO independent file streams (views / clicks),
    drained through the watermarked time-range inner join via
    availableNow.  Both sides fully arrive inside the watermark
    allowance, so the emitted pairs equal the batch interval join --
    the oracle is the events_view_click_range SQL verbatim."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column
    from ..streaming.join_stream import view_click_join_stream

    ensure_session_conf(spark)

    def _side(event_type):
        return (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", events_ts_column(sf_dir))
            .filter(F.col("event_type") == event_type)
            .select("event_id", "user_id", "ts")
        )

    _STREAM_SINK_SEQ += 1
    name = f"events_join_stream_sink_{_STREAM_SINK_SEQ}"
    out = view_click_join_stream(_side("view"), _side("click"))
    return _drain_to_table(spark, out, name, "append")


def _q_events_left_join_stream(spark, sf_dir):
    """LEFT OUTER stream-stream join in the driver contract: same
    replay harness as events_join_stream, but matchless views must
    emit null-padded once the watermark rules a click out.  The oracle
    states the end-of-replay contract exactly: all inner pairs, plus
    null rows for matchless views older than the final watermark
    horizon (see view_click_left_join_stream's docstring)."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column
    from ..streaming.join_stream import view_click_left_join_stream

    ensure_session_conf(spark)

    def _side(event_type):
        return (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", events_ts_column(sf_dir))
            .filter(F.col("event_type") == event_type)
            .select("event_id", "user_id", "ts")
        )

    _STREAM_SINK_SEQ += 1
    name = f"events_left_join_stream_sink_{_STREAM_SINK_SEQ}"
    out = view_click_left_join_stream(_side("view"), _side("click"))
    return _drain_to_table(spark, out, name, "append")


def _q_cdc_snapshot_incremental(spark, sf_dir):
    """Incremental snapshot maintenance in the driver contract: the
    events table is re-chunked into 4 parquet files (driver-side
    scaffolding, stored), replayed one file per micro-batch, and each
    batch folds into the versioned parquet state via foreachBatch
    (streaming/snapshot_sink.py).  Reading the final snapshot must
    equal batch apply_changes over all events -- the oracle is that SQL
    verbatim.  The chunking is arbitrary on purpose: the state merge is
    associative, so ANY batch boundary yields the same snapshot."""
    from ..streaming.snapshot_sink import maintain_snapshot, read_snapshot

    ensure_session_conf(spark)
    work = scratch_dir("snapshot_inc_")
    stream = _chunked_events_stream(spark, _events_chunk_dir(spark, sf_dir))
    q = maintain_snapshot(
        stream, f"{work}/state", f"{work}/ckpt"
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("snapshot maintenance drain exceeded 300s")
    q.stop()
    return read_snapshot(spark, f"{work}/state")


def _q_events_top_type_stream(spark, sf_dir):
    """Streaming top-1-per-window: the stateful windowed aggregation
    drains via availableNow (complete mode, same machinery as
    events_windowed_stream), then the busiest event type per window is
    ranked over the MATERIALIZED state -- the standard two-stage
    streaming-top-k pattern (Structured Streaming does not run rank
    windows inside a streaming query; production re-ranks the tiny
    complete-mode state per trigger, here once at end of replay).
    Ties break to the lexicographically LARGEST type (max of the
    (count, type) tuple), identical in the oracle."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column
    from ..streaming.windowed_agg import windowed_event_counts

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    _STREAM_SINK_SEQ += 1
    name = f"events_top_type_stream_sink_{_STREAM_SINK_SEQ}"
    state = _drain_to_table(spark, windowed_event_counts(stream), name, "complete")
    return state.groupBy("window_start_ms").agg(
        F.max_by(
            "event_type", F.struct(F.col("n_events"), F.col("event_type"))
        ).alias("top_event_type"),
        F.max(F.struct(F.col("n_events"), F.col("event_type")))["n_events"].alias(
            "top_count"
        ),
    )


def _q_cdc_snapshot_stream(spark, sf_dir):
    """The SAME apply_changes operator, run on a stream: Structured
    Streaming executes the identical logical plan incrementally (the
    max_by aggregate becomes stateful, one state row per live user),
    and complete output mode emits the materialized snapshot -- batch
    and streaming share the operator, which is the point of declaring
    the plan instead of the execution.  Oracle: identical to
    cdc_apply_changes."""
    global _STREAM_SINK_SEQ
    from ..operators.snapshot import apply_changes, snapshot_diff
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    _STREAM_SINK_SEQ += 1
    name = f"cdc_snapshot_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, apply_changes(stream), name, "complete")


def _q_events_hdr_stream(spark, sf_dir):
    """The HDR quantile sketch RUN AS A STREAM: the integer bucket
    aggregation (analytics.hdr_bucket_frame) is a plain streaming
    groupBy -- per-micro-batch counts fold into state exactly like the
    batch partial aggregation folds per partition, because cell-wise
    addition IS the sketch merge -- drained complete-mode, then the
    quantile inversion (hdr_quantile_estimates) runs over the
    materialized few-hundred-row state (the two-stage pattern of
    events_top_type_stream).  The estimates equal the batch sketch's
    bit for bit; the exact-percentile exhibit column is batch-only by
    nature and the oracle states the sketch contract alone."""
    global _STREAM_SINK_SEQ
    from ..operators.analytics import hdr_bucket_frame, hdr_quantile_estimates
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    hist = hdr_bucket_frame(stream).groupBy("event_type", "__idx").agg(
        F.count("*").alias("__n")
    )
    _STREAM_SINK_SEQ += 1
    name = f"events_hdr_stream_sink_{_STREAM_SINK_SEQ}"
    # localCheckpoint: the memory-sink relation is not multi-instance
    # safe, so the helper's cum x ranks self-join would hit conflicting
    # attribute ids; checkpointing the few-hundred-row state converts
    # it to a self-join-safe LogicalRDD (and the sketch is tiny)
    state = _drain_to_table(spark, hist, name, "complete").localCheckpoint()
    return hdr_quantile_estimates(state, (0.5, 0.9, 0.99)).select(
        "event_type", "q", F.round(F.col("__est_raw"), 6).alias("est_value")
    )


_STREAM_SINK_SEQ = 0


def _q_cdc_findings_stream(spark, sf_dir):
    """The CDC diff itself run as Structured Streaming, driver-checked:
    avro records arrive as JSONL files discovered incrementally
    (maxFilesPerTrigger=1 -> several micro-batches), stream-static
    joined against the closed binlog build side
    (streaming/compare_stream.py).  availableNow drains the source; the
    appended findings equal the batch findings minus the inherently
    end-of-stream BINLOG_ONLY check (module docstring explains why that
    one cannot stream)."""
    global _STREAM_SINK_SEQ
    from ..sources.jsonl import wrap_avro
    from ..streaming import stream_avro_jsonl, streaming_findings

    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    binlog = derive_binlog_events(ev)
    avro_flat = derive_avro_rows(ev).withColumn(
        "primary_keys", F.array(F.col("database"), F.col("table"))
    )
    d = materialized(
        spark,
        "stream_avro",
        lambda d: wrap_avro(avro_flat).repartition(4).write.mode("overwrite").json(d),
        sf_dir,
    )
    stream = stream_avro_jsonl(spark, d, max_files_per_trigger=1)
    _STREAM_SINK_SEQ += 1
    name = f"cdc_findings_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, streaming_findings(binlog, stream), name, "append")


def _q_events_windowed_stream(spark, sf_dir):
    """Structured Streaming in the driver contract: the events table
    replayed as a file stream through the watermarked windowed
    aggregation (streaming/windowed_agg.py), availableNow trigger, then
    the finished result returned as a batch frame.

    Complete output mode is used HERE because it emits every window
    including those the final watermark hasn't passed -- that makes the
    result equal the batch aggregation, which is exactly what the
    DuckDB oracle computes.  The production append-mode contract
    (late-data drop, state eviction) is pinned by pytest
    (test_streaming_state.py)."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column
    from ..streaming.windowed_agg import windowed_event_counts

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    _STREAM_SINK_SEQ += 1
    name = f"events_windowed_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, windowed_event_counts(stream), name, "complete")


def _q_events_session_stream(spark, sf_dir):
    """Engine-native session windows as a streaming drain: the events
    table replayed as a file stream through the watermarked
    ``session_window`` aggregation, availableNow trigger, result
    returned as a batch frame.

    Complete output mode so the drained result equals the batch
    session assignment (every session emitted, none withheld by the
    final watermark) -- which is exactly what the DuckDB lag-gap-island
    oracle computes.  Append-mode eviction behavior is pinned by
    pytest (test_streaming_state.py)."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column
    from ..streaming.session_stream import session_window_stats

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    _STREAM_SINK_SEQ += 1
    name = f"events_session_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, session_window_stats(stream), name, "complete")


def _q_events_running_stats_stream(spark, sf_dir):
    """Custom stateful streaming in the driver contract: per-user
    cumulative (count, max) emitting one row per event
    (streaming/running_stats_stream.py), replayed availableNow from
    the events file and drained append-mode.  Targets the Spark 4
    transformWithState API (named ValueState) and auto-falls-back to
    applyInPandasWithState where the v2 protobuf protocol dependency
    is absent -- both paths run the same fold, so the oracle (the
    batch cumulative window) is api-independent.  Emission is
    per-event (duplicate-free under any batch split) and the
    single-file replay delivers each user's rows in one ordered
    batch."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column
    from ..streaming.running_stats_stream import running_stats_stream

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    _STREAM_SINK_SEQ += 1
    name = f"events_running_stats_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, running_stats_stream(stream), name, "append")


def _q_cdc_payload_findings_stream(spark, sf_dir):
    """FULL OUTER payload findings with BOTH sides live (round-5
    verdict item 8): the watermarked stream-stream join adds the
    BINLOG_ONLY / AVRO_ONLY tiers the stateless stream-static diff
    cannot assert, under the strict post-watermark horizon pinned by
    test_payload_findings_stream_horizons.  Each side replays as one
    JSON file (single micro-batch per source, so no intermediate
    watermark can drop late-listed rows); event time is the source
    event's timestamp on both sides, which the oracle mirrors."""
    global _STREAM_SINK_SEQ
    from ..streaming.compare_stream import streaming_payload_findings

    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")

    def build(d):
        # binlog side: prepared row images (last-write-wins per key,
        # zero-pos and empty-file drops) + event-time ms
        b = derive_binlog_events_with_payload(ev).filter(
            F.col("order_timestamp").isNotNull()
            & (F.col("binlog_file") != "")
            & (F.col("log_position") != 0)
        )
        w = Window.partitionBy("binlog_file", "log_position").orderBy(
            F.col("line_no").desc()
        )
        bframe = (
            b.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "binlog_file",
                F.col("log_position").alias("binlog_position"),
                _payload_map().alias("payload"),
                F.col("order_timestamp").alias("ts_ms"),
            )
        )
        avro = derive_avro_rows(ev).join(derive_avro_payload(ev), "avro_line_no")
        ats = ev.select(
            F.col("event_id").alias("avro_line_no"),
            F.unix_millis("ts").alias("__ats"),
        )
        aframe = (
            C.prepare_avro(avro)
            .join(ats, "avro_line_no")
            .select(
                "binlog_file",
                "binlog_position",
                _payload_map().alias("payload"),
                F.col("__ats").alias("ts_ms"),
            )
        )
        bframe.coalesce(1).write.mode("overwrite").json(d + "/b")
        aframe.coalesce(1).write.mode("overwrite").json(d + "/a")

    d = materialized(spark, "stream_payload_findings", build, sf_dir)
    schema = (
        "binlog_file string, binlog_position bigint, "
        "payload map<string,string>, ts_ms bigint"
    )

    def rd(sub):
        return (
            spark.readStream.schema(schema)
            .json(d + "/" + sub)
            .withColumn("ts", F.timestamp_millis("ts_ms"))
        )

    out = streaming_payload_findings(rd("b"), rd("a"), window_ms=5000)
    _STREAM_SINK_SEQ += 1
    name = f"cdc_payload_findings_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, out, name, "append")


def _q_cdc_parse_binlog_stream(spark, sf_dir):
    """Streaming S2: the binary fixture dir tailed as a file stream
    (maxFilesPerTrigger=1 -> one micro-batch per rotated segment),
    decoded by the SAME Arrow pass as the batch reader and drained
    availableNow.  Stateless decode means append rows equal the batch
    table exactly -- the shared oracle."""
    global _STREAM_SINK_SEQ
    from ..sources.binlog_binary import stream_binlog_binary_dir

    ensure_session_conf(spark)
    d = _binlog_binary_fixture_dir(spark, sf_dir)
    out = stream_binlog_binary_dir(spark, d, max_files_per_trigger=1)
    _STREAM_SINK_SEQ += 1
    name = f"cdc_parse_binlog_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, out, name, "append")


def _q_cdc_parse_stream_binlogbin(spark, sf_dir):
    """Streaming S2 through the r8 BYTE-OFFSET binary tail
    (sources/pyds.BinlogBinaryStreamReader): offset = (segment,
    event-boundary byte pos, carried decoder context), so a growing
    active segment replays incrementally -- here the fixture is
    static, availableNow drains it whole, and the decoded contract
    rows equal the batch decoder exactly (the shared oracle)."""
    global _STREAM_SINK_SEQ
    from ..sources.pyds import register_binlog_binary_source

    ensure_session_conf(spark)
    d = _binlog_binary_fixture_dir(spark, sf_dir)
    register_binlog_binary_source(spark)
    out = spark.readStream.format("binlogbin").option("path", d).load()
    _STREAM_SINK_SEQ += 1
    name = f"cdc_parse_binlogbin_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, out, name, "append").select(
        "event_type",
        "timestamp",
        "immediate_commmit_timestamp",
        "log_position",
        "schema",
        "table",
        "gtid_next",
        "binlog_file",
        "line_no",
    )


def _q_cdc_payload_diff_stream(spark, sf_dir):
    """Streaming twin of cdc_payload_diff: binlog row images static
    (closed files), avro payload records replayed as an incremental
    JSONL file stream (4 files, maxFilesPerTrigger=1 -> several
    micro-batches), drained availableNow through the stateless
    stream-static payload diff.  The appended findings equal the batch
    operator's output, which is what the shared oracle states."""
    global _STREAM_SINK_SEQ
    from ..streaming.compare_stream import streaming_payload_diff

    ensure_session_conf(spark)
    # binlog row images and the avro payload map from the guard-frame
    # store: definitionally identical to the inline derivations this
    # used to repeat, so the Python binary decode is paid once per
    # process, not once per payload-tier query
    bp, ap, _ = _guard_payload_frames(spark, sf_dir)
    d = materialized(
        spark,
        "stream_avro_payload",
        lambda d: ap.repartition(4).write.mode("overwrite").json(d),
        sf_dir,
    )
    ap_stream = (
        spark.readStream.schema(
            "binlog_file string, binlog_position bigint, payload map<string,string>"
        )
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    _STREAM_SINK_SEQ += 1
    name = f"cdc_payload_diff_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(
        spark, streaming_payload_diff(bp, ap_stream), name, "append"
    )


def _q_events_enrich_stream(spark, sf_dir):
    """Stream-static enrichment join in the driver contract: the
    events table replayed as a file stream, left-joined per micro-batch
    to the BATCH per-user profile aggregated from the same table
    (broadcast dimension, stateless join, no watermark).  Every stream
    row is emitted exactly once, so the drained sink equals the batch
    join -- which is the oracle verbatim."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column
    from ..streaming.enrich_stream import enrich_with_profile, user_profile

    ensure_session_conf(spark)
    batch_events = load_table(spark, sf_dir, "events")
    profile = user_profile(batch_events)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    _STREAM_SINK_SEQ += 1
    name = f"events_enrich_stream_sink_{_STREAM_SINK_SEQ}"
    out = enrich_with_profile(stream, profile)
    return _drain_to_table(spark, out, name, "append")


def _q_ivm_stream(spark, sf_dir):
    """Streaming IVM (streaming/snapshot_sink.maintain_ivm): the
    events table replayed in 4 arbitrary-boundary micro-batches; each
    batch folds signed retract/add contributions into a versioned view
    that is never rebuilt from the snapshot.  The final view must equal
    the full-feed recompute -- the cdc_ivm_refresh oracle verbatim."""
    from ..streaming.snapshot_sink import maintain_ivm, read_ivm_view

    ensure_session_conf(spark)
    work = scratch_dir("ivm_inc_")
    stream = _chunked_events_stream(spark, _events_chunk_dir(spark, sf_dir))
    q = maintain_ivm(stream, f"{work}/state", f"{work}/ckpt")
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("IVM maintenance drain exceeded 300s")
    q.stop()
    return read_ivm_view(spark, f"{work}/state")


def _q_psi_stream(spark, sf_dir):
    """The PSI drift gate RUN AS A STREAM (the ML-ops monitor shape):
    reference decile edges are computed ONCE from the pre-cutoff batch
    slice and frozen as literals (versioned config in production); the
    event feed streams through the scan-speed bucket filter, counts
    fold in complete-mode state (cell-wise addition, the sketch-merge
    property), and the PSI inversion (psi_from_counts) runs over the
    drained few-row table.  Equal to the batch gate by contract -- the
    oracle is events_psi_drift's SQL verbatim."""
    global _STREAM_SINK_SEQ
    from ..operators.analytics import psi_bucket_counts_frozen, psi_from_counts
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column

    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    cut = "2024-01-16"
    qs = [i / 10 for i in range(1, 10)]
    edges = (
        ev.filter(F.col("value").isNotNull())
        .filter(F.col("ts") < F.lit(cut).cast("timestamp"))
        .agg(
            *[
                F.round(F.round(F.percentile("value", F.lit(q)), 9), 6).alias(
                    f"e{i}"
                )
                for i, q in enumerate(qs)
            ]
        )
        .collect()[0]
    )  # 9 floats -- the frozen, versioned monitor config
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    counts = psi_bucket_counts_frozen(stream, list(edges), cut)
    _STREAM_SINK_SEQ += 1
    name = f"events_psi_stream_sink_{_STREAM_SINK_SEQ}"
    state = _drain_to_table(spark, counts, name, "complete").localCheckpoint()
    return psi_from_counts(state)


def _q_anomaly_stream(spark, sf_dir):
    """value_anomalies run as a STREAM against frozen per-type stats
    (analytics.anomaly_scores_frozen): stats from the full batch feed
    (versioned monitor config), stream scores stateless -- equals the
    batch operator row for row, so the oracle is events_value_anomalies
    verbatim."""
    global _STREAM_SINK_SEQ
    from ..operators.analytics import anomaly_scores_frozen
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column

    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,6)")
    stats = [
        r.asDict()
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("__n"), F.sum(v).alias("__s"), F.sum(v * v).alias("__ss")
        )
        .select(
            "event_type",
            (F.col("__s").cast("double") / F.col("__n")).alias("mean"),
            F.sqrt(
                F.col("__ss").cast("double") / F.col("__n")
                - (F.col("__s").cast("double") / F.col("__n"))
                * (F.col("__s").cast("double") / F.col("__n"))
            ).alias("std"),
        )
        .collect()
    ]  # handful of (type, mean, std) rows -- the frozen config
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    out = anomaly_scores_frozen(stream, stats)
    _STREAM_SINK_SEQ += 1
    name = f"events_anomaly_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, out, name, "append")


def _q_cdc_parse_stream_pyds(spark, sf_dir):
    """Streaming S1-S4 through the PYTHON DataSource stream reader
    (sources/pyds.BinlogTextStreamReader): the parser-text directory
    tails as a custom-source stream -- offset = (version-ordered
    segment name, byte position, line count) since r8, so a growing
    active segment replays incrementally -- raw lines drain
    availableNow, and the SAME parse pipeline as the batch variants
    runs over the drained frame (event assembly windows over the
    complete drained table, so batch boundaries inside a segment are
    invisible to the parser).  Same oracle as
    cdc_parse_binlog_text_pyds: three source implementations, one
    parser, one contract."""
    global _STREAM_SINK_SEQ
    ensure_session_conf(spark)
    from ..sources.pyds import register_binlog_text_source

    d = _parser_text_fixture_dir(spark, sf_dir)
    register_binlog_text_source(spark)
    raw_stream = spark.readStream.format("binlogtext").option("path", d).load()
    _STREAM_SINK_SEQ += 1
    name = f"cdc_parse_pyds_stream_sink_{_STREAM_SINK_SEQ}"
    # localCheckpoint: the parser self-joins the drained frame, and a
    # memory-sink table joined with itself trips Spark's conflicting-
    # reference resolution; checkpointing gives the parse a fresh,
    # batch-identical lineage (the drain is fixture-sized)
    raw = _drain_to_table(spark, raw_stream, name, "append").localCheckpoint()
    return parse_binlog_text(raw).select(
        "event_type",
        "timestamp",
        "immediate_commmit_timestamp",
        "log_position",
        "schema",
        "table",
        "gtid_next",
        "binlog_file",
        "line_no",
    )


def _q_vocab_drift_stream(spark, sf_dir):
    """The vocabulary drift gate RUN AS A STREAM (content-drift
    monitor): the reference half's top-200 vocabulary with counts is
    computed ONCE from the batch slice and frozen (a 200-row versioned
    config -- the psi_stream discipline applied to words); the current
    half streams through an explode + inner join against the frozen
    vocabulary, counts fold in complete-mode state, and the shared
    scorer (textstats.vocab_psi_from_counts) inverts the drained
    200-row table.  Equal to the batch gate by construction -- the
    oracle is corpus_vocab_drift's SQL verbatim."""
    global _STREAM_SINK_SEQ
    from ..operators.textstats import TOKEN_RE, vocab_psi_from_counts

    ensure_session_conf(spark)
    docs = _docs(spark, sf_dir)
    words = docs.select(
        (F.col("doc_id") % 2 == 0).alias("__ref"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word"),
    )
    # the frozen vocabulary mirrors the batch gate EXACTLY: top-200 of
    # the FULL word-count frame ordered by reference count (a corpus
    # whose reference half has < 200 distinct words back-fills with
    # n_ref = 0 current-only words in both forms -- a ref-half-only
    # build would silently diverge there)
    ref_vocab = (
        words.groupBy("word")
        .agg(F.sum(F.when(F.col("__ref"), 1).otherwise(0)).alias("n_ref"))
        .orderBy(F.col("n_ref").desc(), F.col("word"))
        .limit(200)
        .localCheckpoint()  # the frozen 200-row reference config
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    cur_counts = (
        stream.filter(F.col("doc_id") % 2 != 0)
        .select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
            ).alias("word")
        )
        .join(F.broadcast(ref_vocab.select("word")), "word")
        .groupBy("word")
        .agg(F.count("*").alias("n_cur"))
    )
    _STREAM_SINK_SEQ += 1
    name = f"vocab_drift_stream_sink_{_STREAM_SINK_SEQ}"
    state = _drain_to_table(spark, cur_counts, name, "complete").localCheckpoint()
    vocab = ref_vocab.join(state, "word", "left").select(
        "word", "n_ref", F.coalesce("n_cur", F.lit(0)).alias("n_cur")
    )
    return vocab_psi_from_counts(vocab)


def _q_events_funnel_stream(spark, sf_dir):
    """The ordered funnel RUN AS A STREAM: funnel_stages is one
    per-user aggregate (array_sort(collect_list) + higher-order stage
    walks), so Structured Streaming folds the per-user event arrays
    across micro-batches and the complete-mode drain equals the batch
    funnel row for row -- the same plan-sharing argument as
    cdc_snapshot_stream.  State is per-user session-bounded arrays;
    at 100 TB you would age users out with a watermark on last
    activity, same algebra."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    _STREAM_SINK_SEQ += 1
    name = f"events_funnel_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(spark, funnel_stages(stream), name, "complete")


def _q_cdc_transactions_stream(spark, sf_dir):
    """Transaction reassembly RUN AS A STREAM: the binlog feed arrives
    as a file stream and compare.transaction_summary's per-GTID fold
    becomes stateful -- every aggregate in it (count, conditional sum,
    min/max position, XID max-marker, the collect_list behind the
    bounded per-transaction table set) merges across micro-batches, so
    the drained complete-mode state equals the batch rollup verbatim.
    This is the ops view that matters MOST live: an uncommitted
    transaction in the middle of a drained stream is a torn write to
    quarantine right now, not at the next batch run.  State is one row
    per open-or-recent transaction; at 100 TB the complete-mode drain
    is replaced by the snapshot_sink foreachBatch fold, same algebra."""
    global _STREAM_SINK_SEQ
    from ..sources.tables import _EVENTS_SCHEMA, events_ts_column

    ensure_session_conf(spark)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", events_ts_column(sf_dir))
    )
    _STREAM_SINK_SEQ += 1
    name = f"cdc_transactions_stream_sink_{_STREAM_SINK_SEQ}"
    return _drain_to_table(
        spark, C.transaction_summary(derive_binlog_events(stream)), name,
        "complete",
    )


_CHUNK_SCHEMA = (
    "event_id long, ts timestamp, user_id long,"
    " event_type string, value double, props string"
)


def _events_chunk_dir(spark: SparkSession, sf_dir: str) -> str:
    """Fixture scaffolding for the incremental-fold twins: the events
    table split into 4 EVENT-TIME-ORDERED parquet files with staggered
    mtimes, so a maxFilesPerTrigger=1 file stream replays them as
    ordered micro-batches -- the arrival pattern a watermarked
    production feed delivers.  The global ntile sort is fixture-only
    (driver-scale corpus); production chunking is the feed's own
    arrival order.  Stored once per events table."""
    def build(d):
        ev = load_table(spark, sf_dir, "events")
        _write_chunks(ev, ("ts", "event_id"), d)

    return materialized(spark, "events_chunks", build, sf_dir)


def _write_chunks(df: DataFrame, order: tuple, d: str, n_chunks: int = 4) -> None:
    """``df`` as ``n_chunks`` ``order``-ordered files ``chunk_NN.parquet``
    in ``d``, with staggered mtimes in chunk order."""
    import glob
    import os
    import shutil

    chunked = df.withColumn("__c", F.ntile(n_chunks).over(Window.orderBy(*order)))
    base_mtime = 1_700_000_000
    # ONE partitioned write produces every chunk file (each __c value's
    # rows land whole in one task, so one file per chunk), instead of
    # n_chunks filter+coalesce jobs that each re-ran the global ntile
    # sort -- measured 23 s -> ~6 s for the once-per-session build
    part_root = os.path.join(d, "__parts")
    (
        chunked.repartition(n_chunks, "__c")
        .sortWithinPartitions("__c", *order)
        .write.partitionBy("__c")
        .parquet(part_root)
    )
    for c in range(1, n_chunks + 1):
        [part] = glob.glob(os.path.join(part_root, f"__c={c}", "part-*.parquet"))
        dst = os.path.join(d, f"chunk_{c:02d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (base_mtime + c, base_mtime + c))
    shutil.rmtree(part_root)


def _chunked_events_stream(spark: SparkSession, d: str) -> DataFrame:
    return (
        spark.readStream.schema(_CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


_DOCS_CHUNK_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _docs_chunk_dir(spark: SparkSession, sf_dir: str) -> str:
    """The documents table split into 4 doc_id-ordered parquet files
    with staggered mtimes -- the ingest-arrival replay for the
    corpus-side incremental folds (same scaffolding as
    _events_chunk_dir).  Stored once per documents table."""
    def build(d):
        docs = _docs(spark, sf_dir).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        _write_chunks(docs, ("doc_id",), d)

    return materialized(spark, "docs_chunks", build, sf_dir)


def _chunked_docs_stream(spark: SparkSession, d: str) -> DataFrame:
    return (
        spark.readStream.schema(_DOCS_CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def _keyed(maintain, d: str):
    """Bind the replay source dir as the fold's per-batch slice-cache
    key (fold_sinks._batch_slice): sibling queries draining the same
    chunk fixture derive each batch's slice once per process."""

    def maintain_keyed(stream, state_dir, ckpt):
        return maintain(stream, state_dir, ckpt, slice_key=d)

    return maintain_keyed


def _run_fold(spark, maintain, read_state, d: str, stream_fn=None) -> DataFrame:
    """Shared drive for the foreachBatch folds: fresh state/checkpoint
    dirs per run (single-writer contract), availableNow drain under
    the state-partition scope, then read LATEST.  ``stream_fn``
    overrides the chunk-stream reader (default: the events schema)."""
    state_dir = scratch_dir("fold_state_")
    ckpt = scratch_dir("fold_ckpt_")
    reader = stream_fn or _chunked_events_stream
    with _stream_state_partitions(spark):
        q = maintain(reader(spark, d), state_dir, ckpt)
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("incremental fold drain exceeded 300s")
        q.stop()
    return read_state(spark, state_dir)


def _q_cdc_transactions_incremental(spark, sf_dir):
    """Transaction reassembly as the PRODUCTION incremental fold
    (streaming/fold_sinks.maintain_transactions): the events replay
    arrives as 4 file-stream micro-batches and each batch folds its
    per-GTID delta into a versioned state table -- state is the
    transaction rollup itself, never the event history, and the
    complete-mode drain of cdc_transactions_stream is replaced by the
    snapshot_sink discipline SCALE.md prescribes.  Reading LATEST
    equals the batch transaction_summary verbatim (the shared
    oracle)."""
    from ..streaming.fold_sinks import maintain_transactions, read_transactions

    ensure_session_conf(spark)
    d = _events_chunk_dir(spark, sf_dir)
    return _run_fold(
        spark, _keyed(maintain_transactions, d), read_transactions, d
    )


def _q_events_funnel_incremental(spark, sf_dir):
    """The ordered funnel as the PRODUCTION incremental fold
    (streaming/fold_sinks.maintain_funnel): per-user CURSOR state
    (three structs, no arrays) advanced across event-time-ordered
    micro-batches -- the last-activity-watermark deployment SCALE.md
    prescribes for events_funnel_stream, which holds every user's full
    event array in complete-mode state.  Same-batch stage chains and
    cross-batch chains both walk the strict (ts_ms, event_id) rule, so
    reading LATEST equals batch funnel_stages row for row (the shared
    oracle)."""
    from ..streaming.fold_sinks import maintain_funnel, read_funnel

    ensure_session_conf(spark)
    d = _events_chunk_dir(spark, sf_dir)
    return _run_fold(spark, _keyed(maintain_funnel, d), read_funnel, d)


def _q_events_lifecycle_incremental(spark, sf_dir):
    """Growth accounting as the PRODUCTION incremental fold
    (streaming/fold_sinks.maintain_lifecycle): per-user state is ONE
    row (last active day -- all the batch lag window can read across
    an event-time-ordered batch boundary) plus the calendar-sized
    counter rollup; 4 file-stream micro-batches fold their deltas and
    reading LATEST equals batch user_lifecycle verbatim (the shared
    oracle)."""
    from ..streaming.fold_sinks import maintain_lifecycle, read_lifecycle

    ensure_session_conf(spark)
    d = _events_chunk_dir(spark, sf_dir)
    return _run_fold(
        spark, _keyed(maintain_lifecycle, d), read_lifecycle, d
    )


def _q_cdc_schema_timeline_stream(spark, sf_dir):
    """The DDL schema-change timeline maintained ON THE LIVE FEED
    (streaming/fold_sinks.maintain_schema_timeline): the statement
    parse is stateless per micro-batch, the fold state is the parsed
    STATEMENT LOG (statement-cardinality -- metadata-sized at any feed
    size), and the SCD2 view derives at read time, which makes rename
    threading retroactive exactly like the batch operator.  4
    event-time-ordered micro-batches; reading LATEST equals batch
    schema_timeline verbatim (the shared oracle), ALTERs split across
    batches included."""
    from ..streaming.fold_sinks import (
        maintain_schema_timeline,
        read_schema_timeline,
    )

    ensure_session_conf(spark)
    d = _events_chunk_dir(spark, sf_dir)
    return _run_fold(
        spark, _keyed(maintain_schema_timeline, d), read_schema_timeline, d
    )


def _q_cdc_schema_columns_stream(spark, sf_dir):
    """The effective column inventory served LIVE from the same
    statement-log fold (fold_sinks.read_schema_columns): the log state
    is view-agnostic -- timeline, column matrix, and drift windows all
    derive from one maintained metadata-sized frame, so a second view
    costs a read-time derivation, not a second stateful query.
    Reading LATEST equals batch schema_column_matrix verbatim (the
    shared oracle)."""
    from ..streaming.fold_sinks import (
        maintain_schema_timeline,
        read_schema_columns,
    )

    ensure_session_conf(spark)
    d = _events_chunk_dir(spark, sf_dir)
    return _run_fold(
        spark, _keyed(maintain_schema_timeline, d), read_schema_columns, d
    )


def _q_cdc_schema_types_stream(spark, sf_dir):
    """The type-aware column matrix served LIVE from the statement-log
    fold (fold_sinks.read_schema_types): narrowing detection on the
    feed -- the fourth read-time view from one maintained
    metadata-sized state, certifying again that the fold is
    view-agnostic.  Reading LATEST equals batch schema_column_types
    verbatim (the shared oracle)."""
    from ..streaming.fold_sinks import (
        maintain_schema_timeline,
        read_schema_types,
    )

    ensure_session_conf(spark)
    d = _events_chunk_dir(spark, sf_dir)
    return _run_fold(
        spark, _keyed(maintain_schema_timeline, d), read_schema_types, d
    )


def _q_cdc_schema_vs_lake_stream(spark, sf_dir):
    """Cross-source schema agreement served LIVE
    (fold_sinks.read_schema_agreement): the declared current column
    set derives from the statement-log fold state at read time -- a
    DDL landing mid-feed flips a column's status at the very next
    read -- reconciled against the same lake-side field census the
    batch report uses (matched avro payload keys through the binlog
    LWW meta).  Fifth read-time view from ONE maintained
    metadata-sized state, certifying again that the fold is
    view-agnostic; read-LATEST equals batch ddl.schema_agreement
    verbatim (the shared oracle)."""
    from ..streaming.fold_sinks import (
        maintain_schema_timeline,
        read_schema_agreement,
    )

    ensure_session_conf(spark)
    _, ap, key_tables = _guard_payload_frames(spark, sf_dir)
    observed = (
        ap.join(key_tables, ["binlog_file", "binlog_position"])
        .select(
            "schema_name",
            "table_name",
            F.explode(F.map_keys("payload")).alias("field_name"),
        )
        .groupBy("schema_name", "table_name", "field_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    d = _events_chunk_dir(spark, sf_dir)

    def read(spark_, state_dir):
        return read_schema_agreement(spark_, state_dir, observed)

    return _run_fold(spark, _keyed(maintain_schema_timeline, d), read, d)


def _q_cdc_payload_diff_guarded_stream(spark, sf_dir):
    """The column-granular DDL guard ON THE LIVE FEED
    (fold_sinks.maintain_guarded_payload_diff): production diffs run
    on the stream and the DDL arrives on the same stream, so the
    events replay (4 event-time-ordered micro-batches) advances BOTH
    the statement-log fold and an append-once findings/matched-key log
    per batch; the guard composes at READ against the live drift
    windows (opener-cardinality, broadcast), which makes an ALTER
    landing mid-replay retroactively quarantine findings emitted
    batches ago.  Reading LATEST equals the batch
    payload_diff_column_guard over the full feed -- the shared
    oracle verbatim."""
    from ..streaming.fold_sinks import (
        maintain_guarded_payload_diff,
        read_guarded_payload_diff,
    )

    ensure_session_conf(spark)
    bp, _, key_tables = _guard_payload_frames(spark, sf_dir)
    d = _events_chunk_dir(spark, sf_dir)

    def maintain(stream, state_dir, ckpt):
        return maintain_guarded_payload_diff(
            stream, state_dir, ckpt, bp, key_tables, slice_key=d
        )

    return _run_fold(spark, maintain, read_guarded_payload_diff, d)


def _q_cdc_schema_vs_lake_live(spark, sf_dir):
    """Cross-source schema agreement with BOTH sides maintained on the
    live feed (fold_sinks.read_schema_agreement_live): the guarded-diff
    query already folds the statement log and appends the per-batch
    matched-key meta, so the lake-side field census rides the same
    foreachBatch as one more map-side-combined per-batch slice --
    nothing is recomputed from a batch frame at read.  The deployable
    shape at 100 TB: declared side from fold state, observed side from
    the summed (batches x fields) census log, both metadata-sized.
    Read-LATEST equals batch ddl.schema_agreement over the full feed
    (the shared oracle, verbatim)."""
    from ..streaming.fold_sinks import (
        maintain_guarded_payload_diff,
        read_schema_agreement_live,
    )

    ensure_session_conf(spark)
    bp, _, key_tables = _guard_payload_frames(spark, sf_dir)
    d = _events_chunk_dir(spark, sf_dir)

    def maintain(stream, state_dir, ckpt):
        return maintain_guarded_payload_diff(
            stream, state_dir, ckpt, bp, key_tables, slice_key=d
        )

    return _run_fold(spark, maintain, read_schema_agreement_live, d)


def _q_cdc_schema_timeline_asof(spark, sf_dir):
    """TIME TRAVEL over the maintained statement-log state
    (fold_sinks.read_schema_timeline_asof): after the 4-batch replay
    drains, read the timeline AS OF batch 1 -- the state the pipeline
    saw when only the first half of the feed had arrived.  The
    write-then-swing protocol leaves every committed version behind as
    an immutable statement log, so as-of reads cost zero extra state
    (until vacuum reclaims them) -- the reproducible-snapshot
    primitive.  The oracle recomputes the batch timeline over exactly
    the first two event-time quartiles (the same ntile(4) split the
    chunk fixture used), so this certifies the versions are
    PREFIX-CORRECT, not just the latest one."""
    from ..streaming.fold_sinks import (
        maintain_schema_timeline,
        read_schema_timeline_asof,
    )

    ensure_session_conf(spark)
    d = _events_chunk_dir(spark, sf_dir)

    def read(spark_, state_dir):
        return read_schema_timeline_asof(spark_, state_dir, 1)

    return _run_fold(spark, _keyed(maintain_schema_timeline, d), read, d)


def _q_corpus_lsh_incremental(spark, sf_dir):
    """MinHash-LSH near-dup detection as the PRODUCTION incremental
    fold (fold_sinks.maintain_lsh_index): a growing corpus must NOT be
    re-LSHed per ingest -- the banded-signature index is maintained as
    state (docs x bands rows, exactly what an LSH deployment stores),
    each micro-batch of new documents hashes map-side
    (dedup.banded_signatures, ONE definition shared with the batch
    operator) and probes the accumulated index with one equi-join, and
    a pair is emitted in the batch its LATER document arrives --
    per-batch pair logs are disjoint, so reading is a plain union.
    4 doc_id-ordered micro-batches; the union equals batch
    lsh_candidate_pairs over the full corpus (the shared oracle,
    verbatim)."""
    from ..streaming.fold_sinks import maintain_lsh_index, read_lsh_pairs

    ensure_session_conf(spark)
    d = _docs_chunk_dir(spark, sf_dir)

    def maintain(stream, state_dir, ckpt):
        return maintain_lsh_index(
            stream, state_dir, ckpt, bands=4, rows=4, slice_key=d
        )

    return _run_fold(
        spark,
        maintain,
        read_lsh_pairs,
        d,
        stream_fn=_chunked_docs_stream,
    )


def _q_corpus_simhash_incremental(spark, sf_dir):
    """SimHash hamming near-dup detection as the PRODUCTION incremental
    fold (fold_sinks.maintain_simhash_index) -- the near-dup trio
    completed incrementally: exact (dedup_incremental), MinHash-Jaccard
    (corpus_lsh_incremental), and hamming here.  State is the banded
    fingerprint log (16 bytes of fingerprint per doc); the pigeonhole
    recall contract (bands >= max_hamming+1 -> EXACT recall at the
    design radius) is per-pair and carries over unchanged; the xor/
    bit_count verify runs at probe time so the disjoint per-batch logs
    hold only VERIFIED pairs.  The union equals batch
    simhash_near_pairs over the full corpus (the shared oracle,
    verbatim)."""
    from ..streaming.fold_sinks import (
        maintain_simhash_index,
        read_simhash_pairs,
    )

    ensure_session_conf(spark)
    d = _docs_chunk_dir(spark, sf_dir)

    def maintain(stream, state_dir, ckpt):
        return maintain_simhash_index(stream, state_dir, ckpt, slice_key=d)

    return _run_fold(
        spark,
        maintain,
        read_simhash_pairs,
        d,
        stream_fn=_chunked_docs_stream,
    )


__all__ = [_n for _n in list(globals()) if not _n.startswith('__') and _n != '_shared']
