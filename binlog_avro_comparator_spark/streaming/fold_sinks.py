"""Production-shape incremental twins for the complete-mode replay
streams (r8 verdict item 2): ``cdc_transactions_stream`` and
``events_funnel_stream`` verify their fold algebra by draining ALL
state through a complete-mode memory sink -- fine as an oracle, wrong
as a deployment, because the sink re-emits every row every batch and
the state store holds the whole rollup forever.  The production form
is the ``snapshot_sink`` pattern: state lives in a versioned TABLE,
each micro-batch folds only its delta, and reading LATEST equals the
batch operator over everything replayed so far.  That batch-equals-
fold equivalence IS the driver oracle for both twins.

Transaction fold (``maintain_transactions``): every aggregate in
compare.transaction_summary is mergeable -- counts add, min/max
compose, the XID commit marker is a boolean max, and the per-
transaction table set unions (bounded by statement fan-out, same bound
the batch operator accepts).  Batch order is irrelevant: the merge is
fully associative AND commutative, so out-of-order replay chunks land
on the same state.

Funnel fold (``maintain_funnel``): per-user cursor state (first view,
first qualifying click, first qualifying purchase -- three structs, no
arrays), advanced per batch by the same strict-(ts_ms, event_id)
"after" walk the batch operator uses.  Correct under EVENT-TIME-ORDERED
micro-batches (the file chunks a replay or a watermarked production
feed delivers): a cursor, once set, can never be improved by later
data, because later batches hold strictly later (ts, id) pairs.  A
late event older than the watermark would be dropped in production;
this fold makes the same call.  State is ONE row per user who has
viewed -- never the event history -- which is the whole point: at
100 TB the complete-mode drain holds every user's full event array,
this holds 3 cursors.

Storage reuses snapshot_sink's versioned-parquet + LATEST pointer
discipline (write-new-then-swing, idempotent under foreachBatch's
at-least-once replay) and its single-writer exclusion contract.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..fixtures import derive_binlog_events
from ..functions.caching import materialized, read_stored_parquet
from .snapshot_sink import _latest_version


# Per-process store of MICRO-BATCH-DERIVED slices, keyed by the replay
# source the caller names (``slice_key``, the chunk fixture dir) plus
# the batch id and the deriving operator.  Several registered replay
# queries drain the SAME chunked source through sibling folds
# back-to-back, and each fold re-derived the identical per-batch slice
# (the parsed DDL statements, the avro payload map, the banded
# signatures) from the identical chunk file -- a pure function of the
# batch's rows (one mtime-ordered file per trigger, so (source dir,
# batch_id) identifies the content).  Deriving it once per (source,
# batch) and serving the materialized parquet to the sibling folds is
# fixture-derivation reuse (functions/caching.materialized), NOT
# cross-run result caching: the store is per process and removed at
# exit, and a source that is not a store directory is keyed by its
# files' content.  Side benefit (guide 3.3): the fold's state merge
# then plans from a parquet leaf instead of re-carrying the slice's
# full derivation lineage every batch.
def _batch_slice(
    spark: SparkSession, kind: str, slice_key, batch_id: int, build
) -> DataFrame:
    """``build()`` materialized once per (kind, source, batch).

    ``slice_key=None`` (the default everywhere) keeps the direct
    uncached, unmaterialized derivation -- non-replay sources and
    in-memory test frames keep their old behavior exactly."""
    if slice_key is None:
        return build()
    d = materialized(
        spark,
        f"batch_slice_{kind}_{batch_id}",
        lambda d: build().write.parquet(os.path.join(d, "data")),
        slice_key,
    )
    return read_stored_parquet(spark, os.path.join(d, "data"))


def _swing_pointer(state_dir: str, batch_id: int) -> None:
    pointer = os.path.join(state_dir, "LATEST")
    tmp = pointer + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(f"v{batch_id}")
    os.replace(tmp, pointer)


# --------------------------------------------------------------------------
# transaction reassembly fold


def _txn_batch_state(events_batch: DataFrame) -> DataFrame:
    """One micro-batch of raw events -> mergeable per-GTID state: the
    same aggregates as compare.transaction_summary but with the table
    SET kept as an array (sets union across batches; sizes don't)."""
    b = derive_binlog_events(events_batch).filter(
        F.col("gtid_next").isNotNull() & (F.col("gtid_next") != "")
    )
    is_dml = F.col("event_type").isin(
        "WriteRowsEventV2", "UpdateRowsEventV2", "DeleteRowsEventV2"
    )
    return b.groupBy(F.col("gtid_next").alias("gtid")).agg(
        F.count("*").alias("n_events"),
        F.sum(is_dml.cast("long")).alias("n_dml"),
        F.array_distinct(
            F.collect_list(
                F.when(
                    F.col("table").isNotNull() & (F.col("table") != ""),
                    F.col("table"),
                )
            )
        ).alias("tables"),
        F.min("log_position").alias("first_position"),
        F.max("log_position").alias("last_position"),
        F.max((F.col("event_type") == "XID").cast("int")).alias("committed_i"),
    )


def merge_txn_states(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """Associative + commutative per-GTID merge: counts add, positions
    min/max, commit marker max, table sets union."""
    return (
        stored.unionByName(delta)
        .groupBy("gtid")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("n_dml").alias("n_dml"),
            F.array_distinct(F.flatten(F.collect_list("tables"))).alias(
                "tables"
            ),
            F.min("first_position").alias("first_position"),
            F.max("last_position").alias("last_position"),
            F.max("committed_i").alias("committed_i"),
        )
    )


def commit_txn_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    slice_key=None,
) -> None:
    """Fold one micro-batch of raw events into the transaction state.
    Same idempotency as snapshot_sink.commit_batch: a replayed batch
    whose pointer already swung is a no-op."""
    prev = _latest_version(state_dir)
    if prev is not None and os.path.basename(prev) == f"v{batch_id}":
        return
    delta = _batch_slice(
        spark, "txn_state", slice_key, batch_id,
        lambda: _txn_batch_state(batch_df),
    )
    merged = (
        merge_txn_states(spark.read.parquet(prev), delta) if prev else delta
    )
    merged.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"v{batch_id}")
    )
    _swing_pointer(state_dir, batch_id)


def maintain_transactions(
    events_stream: DataFrame, state_dir: str, checkpoint_dir: str,
    slice_key=None,
):
    """Start the foreachBatch transaction-state maintenance query
    (caller awaits)."""
    os.makedirs(state_dir, exist_ok=True)
    spark = events_stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        commit_txn_batch(spark, state_dir, batch_df, batch_id, slice_key)

    return (
        events_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_transactions(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained state at LATEST, projected to the batch
    transaction_summary contract."""
    target = _latest_version(state_dir)
    if target is None:
        raise FileNotFoundError(f"no state version under {state_dir}")
    return spark.read.parquet(target).select(
        "gtid",
        "n_events",
        "n_dml",
        F.size("tables").cast("long").alias("n_tables"),
        "first_position",
        "last_position",
        F.col("committed_i").cast("boolean").alias("committed"),
    )


# --------------------------------------------------------------------------
# ordered-funnel fold


def _after(x, cur: Column) -> Column:
    """Strictly after the (ts_ms, event_id) cursor -- the batch
    operator's tie rule (analytics.funnel_stages)."""
    return (x["ts_ms"] > cur["ts_ms"]) | (
        (x["ts_ms"] == cur["ts_ms"]) & (x["event_id"] > cur["event_id"])
    )


def _funnel_batch_arrays(events_batch: DataFrame) -> DataFrame:
    """One micro-batch -> per-user sorted event array (bounded by the
    batch, NOT the history -- the array never reaches state)."""
    ts_ms = F.unix_millis(F.col("ts"))
    base = events_batch.filter(
        F.col("event_type").isin("view", "click", "purchase")
        & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        F.struct(
            ts_ms.alias("ts_ms"),
            F.col("event_id").alias("event_id"),
            F.col("event_type").alias("etype"),
        ).alias("e"),
    )
    return base.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("es")
    )


def merge_funnel_state(
    stored: DataFrame | None, batch_arrays: DataFrame
) -> DataFrame:
    """Advance per-user cursors with one batch's events.  A cursor,
    once set, never moves (time-ordered batches mean later data is
    strictly after it); an unset cursor fills from this batch's array,
    searched strictly after the previous stage's cursor -- which may
    itself have been set IN this batch (same-batch chains walk
    correctly because the 'after' test is on (ts, id), not on batch
    boundaries).  Users with no view yet hold no state row."""
    if stored is not None:
        j = stored.join(batch_arrays, "user_id", "full_outer")
    else:
        null_e = F.lit(None).cast(
            "struct<ts_ms:bigint,event_id:bigint,etype:string>"
        )
        j = batch_arrays.select(
            "user_id",
            null_e.alias("e1"),
            null_e.alias("e2"),
            null_e.alias("e3"),
            "es",
        )
    es = F.coalesce(
        F.col("es"),
        F.expr(
            "cast(array() as"
            " array<struct<ts_ms:bigint,event_id:bigint,etype:string>>)"
        ),
    )

    def first(cond) -> Column:
        return F.try_element_at(F.filter(es, cond), F.lit(1))

    e1 = F.coalesce(F.col("e1"), first(lambda x: x["etype"] == "view"))
    # chain through locals so same-batch stage advances see the new cursor
    j = j.withColumn("__e1", e1)
    e2 = F.coalesce(
        F.col("e2"),
        F.when(
            F.col("__e1").isNotNull(),
            first(
                lambda x: (x["etype"] == "click") & _after(x, F.col("__e1"))
            ),
        ),
    )
    j = j.withColumn("__e2", e2)
    e3 = F.coalesce(
        F.col("e3"),
        F.when(
            F.col("__e2").isNotNull(),
            first(
                lambda x: (x["etype"] == "purchase") & _after(x, F.col("__e2"))
            ),
        ),
    )
    return (
        j.withColumn("__e3", e3)
        .filter(F.col("__e1").isNotNull())
        .select(
            "user_id",
            F.col("__e1").alias("e1"),
            F.col("__e2").alias("e2"),
            F.col("__e3").alias("e3"),
        )
    )


def commit_funnel_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    slice_key=None,
) -> None:
    """Fold one micro-batch into the per-user cursor state (same
    write-then-swing idempotency as commit_txn_batch)."""
    prev = _latest_version(state_dir)
    if prev is not None and os.path.basename(prev) == f"v{batch_id}":
        return
    arrays = _batch_slice(
        spark, "funnel_arrays", slice_key, batch_id,
        lambda: _funnel_batch_arrays(batch_df),
    )
    stored = spark.read.parquet(prev) if prev else None
    merged = merge_funnel_state(stored, arrays)
    merged.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"v{batch_id}")
    )
    _swing_pointer(state_dir, batch_id)


def maintain_funnel(
    events_stream: DataFrame, state_dir: str, checkpoint_dir: str,
    slice_key=None,
):
    """Start the foreachBatch funnel-cursor maintenance query (caller
    awaits).  Production aging hook: a watermark on last activity
    would retire completed (stage 3) or long-idle users from state;
    the fold algebra is unchanged by retirement because retired rows
    are final."""
    os.makedirs(state_dir, exist_ok=True)
    spark = events_stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        commit_funnel_batch(spark, state_dir, batch_df, batch_id, slice_key)

    return (
        events_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_funnel(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained cursors at LATEST, projected to the batch
    funnel_stages contract."""
    target = _latest_version(state_dir)
    if target is None:
        raise FileNotFoundError(f"no state version under {state_dir}")
    s = spark.read.parquet(target)
    return s.select(
        "user_id",
        F.col("e1.ts_ms").alias("view_ts_ms"),
        F.col("e2.ts_ms").alias("click_ts_ms"),
        F.col("e3.ts_ms").alias("purchase_ts_ms"),
        (
            F.lit(1)
            + F.col("e2").isNotNull().cast("int")
            + F.col("e3").isNotNull().cast("int")
        ).alias("stage_reached"),
    )


# --------------------------------------------------------------------------
# growth-accounting lifecycle fold


def _lifecycle_batch_days(batch_df: DataFrame) -> DataFrame:
    """The pure per-batch slice of the lifecycle fold: distinct
    (user_id, day) pairs in the batch."""
    return (
        batch_df.filter(F.col("user_id").isNotNull())
        .select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct()
    )


def _classify_lifecycle_batch(
    users_prev: DataFrame | None, batch_days: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch's (day-counter delta, per-user day frame) from
    the batch's distinct (user_id, day) slice.

    Per-user state is ONE row -- the last active day -- because under
    event-time-ordered batches that is ALL the batch operator's lag
    window can ever read across the batch boundary: the gap
    classification needs only the immediately preceding active day.
    Same-day reappearance in a later batch compares equal to the
    stored last_day and is dropped (already counted); a day older than
    last_day is late beyond the watermark and drops -- the same call
    maintain_funnel makes."""
    from pyspark.sql import Window

    bd = batch_days
    if users_prev is not None:
        bd = bd.join(users_prev, "user_id", "left")
    else:
        bd = bd.withColumn("last_day", F.lit(None).cast("string"))
    fresh = bd.filter(
        F.col("last_day").isNull() | (F.col("day") > F.col("last_day"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    prev_day = F.coalesce(F.lag("day").over(w), F.col("last_day"))
    gap = F.datediff(F.col("day").cast("date"), prev_day.cast("date"))
    status = (
        F.when(prev_day.isNull(), "new")
        .when(gap <= 7, "returning")
        .otherwise("resurrected")
    )
    tagged = fresh.select("user_id", "day", status.alias("status"))
    delta = tagged.groupBy("day").agg(
        F.count("*").alias("n_active"),
        F.sum((F.col("status") == "new").cast("long")).alias("n_new"),
        F.sum((F.col("status") == "returning").cast("long")).alias(
            "n_returning"
        ),
        F.sum((F.col("status") == "resurrected").cast("long")).alias(
            "n_resurrected"
        ),
    )
    return delta, bd.select("user_id", "day")


def commit_lifecycle_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    slice_key=None,
) -> None:
    """Fold one micro-batch into the (users, days) state pair.  Same
    pointer-swing idempotency as the other folds; the version dir
    holds TWO datasets (users/ = per-user last day, days/ = the
    counter rollup) swung by one pointer."""
    prev = _latest_version(state_dir)
    if prev is not None and os.path.basename(prev) == f"v{batch_id}":
        return
    users_prev = (
        spark.read.parquet(os.path.join(prev, "users")) if prev else None
    )
    bd0 = _batch_slice(
        spark, "lifecycle_days", slice_key, batch_id,
        lambda: _lifecycle_batch_days(batch_df),
    )
    delta, batch_days = _classify_lifecycle_batch(users_prev, bd0)
    if prev:
        days_merged = (
            spark.read.parquet(os.path.join(prev, "days"))
            .unionByName(delta)
            .groupBy("day")
            .agg(
                F.sum("n_active").alias("n_active"),
                F.sum("n_new").alias("n_new"),
                F.sum("n_returning").alias("n_returning"),
                F.sum("n_resurrected").alias("n_resurrected"),
            )
        )
        users_merged = (
            users_prev.select("user_id", F.col("last_day").alias("day"))
            .unionByName(batch_days)
            .groupBy("user_id")
            .agg(F.max("day").alias("last_day"))
        )
    else:
        days_merged = delta
        users_merged = batch_days.groupBy("user_id").agg(
            F.max("day").alias("last_day")
        )
    vdir = os.path.join(state_dir, f"v{batch_id}")
    users_merged.write.mode("overwrite").parquet(os.path.join(vdir, "users"))
    days_merged.write.mode("overwrite").parquet(os.path.join(vdir, "days"))
    _swing_pointer(state_dir, batch_id)


def maintain_lifecycle(
    events_stream: DataFrame, state_dir: str, checkpoint_dir: str,
    slice_key=None,
):
    """Start the foreachBatch lifecycle maintenance query (caller
    awaits).  State is per-user ONE day plus the calendar-sized
    counter rollup -- never the (user, day) history the batch
    operator's window reads; the production aging hook retires users
    idle past any resurrection horizon you still care to distinguish."""
    os.makedirs(state_dir, exist_ok=True)
    spark = events_stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        commit_lifecycle_batch(
            spark, state_dir, batch_df, batch_id, slice_key
        )

    return (
        events_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_lifecycle(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained day rollup at LATEST -- the batch
    user_lifecycle contract."""
    target = _latest_version(state_dir)
    if target is None:
        raise FileNotFoundError(f"no state version under {state_dir}")
    return spark.read.parquet(os.path.join(target, "days")).select(
        "day", "n_active", "n_new", "n_returning", "n_resurrected"
    )


# --------------------------------------------------------------------------
# DDL schema-timeline fold


def _ddl_batch_statements(events_batch: DataFrame) -> DataFrame:
    """One micro-batch of raw events -> parsed DDL statements (the
    statement parse is STATELESS: render the batch's Query events as
    parser text, run the real P1-P9 pipeline, extract DDL)."""
    from ..fixtures import generate_ddl_text_lines
    from ..operators.ddl import _query_rows, _statements_from_query_rows
    from ..operators.parse import parse_binlog_text

    lines = generate_ddl_text_lines(events_batch)
    # materialize the statement-cardinality Query-rows slice before
    # the grammar's verb-family union: the eight union branches then
    # read a tiny in-memory leaf instead of each re-carrying (and the
    # analyzer re-walking, EVERY micro-batch) the whole parse pipeline
    # -- guide 3.3 lineage truncation, same as the batch-side
    # _ddl_statements cache
    q = _query_rows(parse_binlog_text(lines)).localCheckpoint()
    return _statements_from_query_rows(q)


def commit_ddl_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    slice_key=None,
) -> None:
    """Fold one micro-batch into the DDL STATEMENT LOG state.

    The right state for the timeline is the parsed statement log
    itself -- statement-cardinality (metadata-sized at any feed size,
    the same argument as ddl_drift_windows), so appending the delta
    and re-deriving the SCD2 view at read time is O(statements), never
    O(feed); the expensive work (parsing the raw feed) touches only
    the batch delta.  Crucially this makes rename threading RETROACTIVE
    the way the batch operator is: a RENAME TABLE edge arriving in a
    later batch re-canonicalizes earlier statements at read time,
    which per-table incremental version counters could not do.

    ``line_no`` is re-stamped to (batch_id, in-batch line_no) so the
    cross-batch tiebreak orders like the batch twin's: chunks are
    event-time-ordered, so coordinate-tied statements split across
    batches keep their event order.  Same write-then-swing idempotency
    as the sibling folds."""
    prev = _latest_version(state_dir)
    if prev is not None and os.path.basename(prev) == f"v{batch_id}":
        return
    # the parsed-statement slice is a pure function of the batch's
    # files: derive it once per (session, batch) and share it with the
    # sibling folds replaying the same source (_batch_slice docstring);
    # the batch_id line_no re-stamp stays outside the cached slice so
    # the cache key needs only the file set
    delta = _batch_slice(
        spark, "ddl_stmts", slice_key, batch_id,
        lambda: _ddl_batch_statements(batch_df),
    ).withColumn(
        "line_no",
        (F.lit(batch_id).cast("long") * F.lit(1_000_000_000))
        + F.col("line_no"),
    )
    merged = (
        spark.read.parquet(prev).unionByName(delta) if prev else delta
    )
    merged.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"v{batch_id}")
    )
    _swing_pointer(state_dir, batch_id)


def maintain_schema_timeline(
    events_stream: DataFrame, state_dir: str, checkpoint_dir: str,
    slice_key=None,
):
    """Start the foreachBatch DDL statement-log maintenance query
    (caller awaits).  DDL arrives on the live feed; the statement
    parse is stateless per batch and the log is the fold state.
    ``slice_key`` names the replay source for the per-batch slice
    cache (_batch_slice docstring)."""
    os.makedirs(state_dir, exist_ok=True)
    spark = events_stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        commit_ddl_batch(spark, state_dir, batch_df, batch_id, slice_key)

    return (
        events_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_schema_timeline(spark: SparkSession, state_dir: str) -> DataFrame:
    """The SCD2 timeline over the maintained statement log at LATEST
    -- the batch schema_timeline contract (rename threading included,
    retroactively correct)."""
    from ..operators.ddl import schema_timeline

    target = _latest_version(state_dir)
    if target is None:
        raise FileNotFoundError(f"no state version under {state_dir}")
    return schema_timeline(spark.read.parquet(target))


def read_schema_timeline_asof(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame:
    """TIME TRAVEL over the versioned fold state: the SCD2 timeline as
    it stood after batch ``batch_id`` committed -- every ``v{batch}``
    directory the write-then-swing protocol leaves behind is a
    complete, immutable statement log, so an as-of read is the same
    derivation read_schema_timeline runs, pointed at an older version.
    The reproducibility primitive a training pipeline needs ("which
    schema did the corpus snapshot see?") priced at zero extra state:
    the versions already exist until vacuum_state_versions reclaims
    them, which is exactly the lakehouse retention trade."""
    from ..operators.ddl import schema_timeline

    target = os.path.join(state_dir, f"v{batch_id}")
    if not os.path.exists(os.path.join(target, "_SUCCESS")):
        raise FileNotFoundError(
            f"no committed state version v{batch_id} under {state_dir}"
        )
    return schema_timeline(spark.read.parquet(target))


def read_schema_columns(spark: SparkSession, state_dir: str) -> DataFrame:
    """The effective column inventory over the SAME statement log --
    the point of folding the LOG rather than any one view: every DDL
    consumer (timeline, column matrix, drift windows) derives from one
    maintained metadata-sized state, batch-identical."""
    from ..operators.ddl import schema_column_matrix

    target = _latest_version(state_dir)
    if target is None:
        raise FileNotFoundError(f"no state version under {state_dir}")
    return schema_column_matrix(spark.read.parquet(target))


def read_schema_types(spark: SparkSession, state_dir: str) -> DataFrame:
    """The TYPE-AWARE column matrix over the same statement log -- a
    fourth read-time view from the one maintained metadata-sized
    state (narrowing detection live: the quiet varchar/int/decimal
    shrink surfaces the trigger after the MODIFY lands)."""
    from ..operators.ddl import schema_column_types

    target = _latest_version(state_dir)
    if target is None:
        raise FileNotFoundError(f"no state version under {state_dir}")
    return schema_column_types(spark.read.parquet(target))


def read_schema_agreement(
    spark: SparkSession, state_dir: str, observed: DataFrame
) -> DataFrame:
    """Cross-source schema agreement as a FIFTH read-time view from
    the statement-log fold: the declared CURRENT column set is derived
    from the live state (so a DDL landing mid-feed flips a column's
    status at the very next read) and reconciled against ``observed``
    -- the lake-side field census (schema_name, table_name,
    field_name, n_obs), itself maintainable from the matched-key log
    the guarded diff already folds.  Read-LATEST equals the batch
    ddl.schema_agreement over the full feed, the same contract every
    other view here carries."""
    from ..operators.ddl import current_columns, schema_agreement

    target = _latest_version(state_dir)
    if target is None:
        raise FileNotFoundError(f"no state version under {state_dir}")
    cur = current_columns(spark.read.parquet(target))
    return schema_agreement(cur, observed)


def read_drift_window_columns(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The annotated drift windows over the same statement log -- the
    live feed for the column-granular payload quarantine."""
    from ..operators.ddl import ddl_drift_window_columns

    target = _latest_version(state_dir)
    if target is None:
        raise FileNotFoundError(f"no state version under {state_dir}")
    return ddl_drift_window_columns(spark.read.parquet(target))


# --------------------------------------------------------------------------
# guarded payload diff: findings log + live drift windows


def commit_guarded_diff_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    binlog_payload: DataFrame,
    key_tables: DataFrame,
    slice_key=None,
) -> None:
    """Fold one micro-batch into the GUARDED payload-diff state.

    Production shape: the diff runs on the live feed and the DDL
    arrives ON THE SAME FEED, so the window where the guard matters
    most is exactly the streaming one (the r10 verdict's gap).  Per
    batch this advances two things: (1) the shared DDL statement-log
    fold (``state_dir/ddl`` -- metadata-sized, the only consulted
    state), and (2) an APPEND-ONCE findings log: the batch's avro
    payload slice diffs against the static binlog side (broadcast,
    stateless -- same as streaming_payload_diff) and lands under
    ``diff/b{batch}``, alongside the batch's matched-key meta under
    ``matched/b{batch}`` (every matched key, not just keys with
    findings: the false agreement on a shifted column is the quiet
    failure the boundary rows must cover).  The logs are OUTPUT data
    re-read at read time, not state consulted per batch -- the guard
    itself composes at READ (read_guarded_payload_diff), which is what
    makes a mid-replay ALTER retroactively quarantine findings
    emitted batches ago.  Batch dirs are write-once (overwrite on
    retry), so replays are idempotent."""
    import shutil

    from ..fixtures import derive_avro_payload_map
    from ..operators import compare as C

    commit_ddl_batch(
        spark, os.path.join(state_dir, "ddl"), batch_df, batch_id, slice_key
    )
    diff_dir = os.path.join(state_dir, "diff", f"b{batch_id}")
    meta_dir = os.path.join(state_dir, "matched", f"b{batch_id}")
    obs_dir = os.path.join(state_dir, "observed", f"b{batch_id}")
    if all(
        os.path.exists(os.path.join(d, "_SUCCESS"))
        for d in (diff_dir, meta_dir, obs_dir)
    ):
        return
    for d in (diff_dir, meta_dir, obs_dir):
        shutil.rmtree(d, ignore_errors=True)
    # the batch's avro payload slice feeds THREE writes (diff, matched
    # meta, field census): materialize it once (batch-slice-sized) so
    # each write starts from a tiny leaf instead of re-deriving -- and
    # re-planning -- the payload map per job (guide 3.3 / 5), and share
    # the materialized slice with the sibling fold replaying the same
    # source (_batch_slice docstring -- same session, same batch)
    ap = _batch_slice(
        spark, "avro_payload", slice_key, batch_id,
        lambda: derive_avro_payload_map(batch_df),
    )
    bp = F.broadcast(binlog_payload)

    def _write_diff() -> None:
        C.payload_diff(bp, ap).write.parquet(diff_dir)

    def _write_meta() -> None:
        (
            ap.select(*C.KEY)
            .join(bp.select(*C.KEY), list(C.KEY))
            .join(F.broadcast(key_tables), list(C.KEY), "left")
            .write.parquet(meta_dir)
        )

    # the batch's slice of the lake-side FIELD CENSUS (which fields the
    # producer actually shipped, per table): a map-side-combined
    # aggregate of THIS batch only -- each key lands in exactly one
    # batch, so the accumulated log sums to the full-feed census at
    # read time (counts are associative and commutative).  The log is
    # (batches x fields)-cardinality: metadata at any feed size.
    def _write_census() -> None:
        (
            ap.join(F.broadcast(key_tables), list(C.KEY))
            .select(
                "schema_name",
                "table_name",
                F.explode(F.map_keys("payload")).alias("field_name"),
            )
            .groupBy("schema_name", "table_name", "field_name")
            .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
            .write.parquet(obs_dir)
        )

    # the three writes are independent jobs over the same tiny inputs:
    # submit them concurrently so each job's scheduling/broadcast
    # latency overlaps instead of serializing (guide 2.6 -- actions are
    # only sequential because driver code calls them sequentially);
    # list() propagates the first worker exception
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(lambda fn: fn(), (_write_diff, _write_meta, _write_census)))


def maintain_guarded_payload_diff(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    binlog_payload: DataFrame,
    key_tables: DataFrame,
    slice_key=None,
):
    """Start the foreachBatch guarded-diff maintenance query (caller
    awaits): DDL fold + findings/meta logs per batch, guard composed
    at read.  ``slice_key`` names the replay source for the per-batch
    slice cache (_batch_slice docstring)."""
    os.makedirs(state_dir, exist_ok=True)
    spark = events_stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        commit_guarded_diff_batch(
            spark, state_dir, batch_df, batch_id, binlog_payload,
            key_tables, slice_key,
        )

    return (
        events_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _log_segments(base: str) -> list[str]:
    """Committed segments of an append-once batch log: per-trigger
    ``b{n}`` dirs plus any ``c{n}`` segments compact_log_batches folded
    them into.  Content is identical either way (compaction is a move,
    never a merge).  b* dirs a committed segment's ``_COMPACTED``
    manifest names are SKIPPED -- a compactor that died between
    publishing its segment and removing the consumed dirs must not
    make readers double-count."""
    consumed = _compacted_basenames(base)
    segs = [
        p
        for pat in ("b*", "c*")
        for p in glob.glob(os.path.join(base, pat))
        if os.path.exists(os.path.join(p, "_SUCCESS"))
        and os.path.basename(p) not in consumed
    ]
    if not segs:
        raise FileNotFoundError(f"no committed log segments under {base}")
    return segs


def read_guarded_payload_diff(spark: SparkSession, state_dir: str) -> DataFrame:
    """The COLUMN-GRANULAR guarded diff at LATEST: live drift windows
    from the maintained statement log (opener-cardinality, broadcast)
    composed over the accumulated findings + matched-key logs with the
    exact batch suppression (compare.column_guard_compose) -- so
    read-LATEST equals the batch payload_diff_column_guard over the
    full replay, ALTERs that landed mid-replay included
    (retroactively)."""
    from ..operators.compare import column_guard_compose

    windows = read_drift_window_columns(
        spark, os.path.join(state_dir, "ddl")
    )
    diff = spark.read.parquet(*_log_segments(os.path.join(state_dir, "diff")))
    meta = spark.read.parquet(
        *_log_segments(os.path.join(state_dir, "matched"))
    )
    return column_guard_compose(diff, meta, windows)


def read_schema_agreement_live(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Cross-source schema agreement with BOTH sides maintained on the
    live feed -- no batch-side recompute anywhere: the declared current
    column set derives from the guarded-diff query's statement-log fold
    (``state_dir/ddl``) and the observed field census sums the
    per-batch slices the same query appended (``observed/b*`` --
    counts are associative and commutative, and each key landed in
    exactly one batch, so the sum IS the full-feed census).  At 100 TB
    this is the only deployable shape: the lake census is exactly the
    thing you cannot afford to rescan per read, while the accumulated
    log is (batches x fields)-cardinality metadata.  Read-LATEST
    equals the batch ddl.schema_agreement over the full feed."""
    from ..operators.ddl import current_columns, schema_agreement

    target = _latest_version(os.path.join(state_dir, "ddl"))
    if target is None:
        raise FileNotFoundError(f"no ddl state under {state_dir}")
    observed = (
        spark.read.parquet(
            *_log_segments(os.path.join(state_dir, "observed"))
        )
        .groupBy("schema_name", "table_name", "field_name")
        .agg(F.sum("n_obs").cast("long").alias("n_obs"))
    )
    cur = current_columns(spark.read.parquet(target))
    return schema_agreement(cur, observed)


def vacuum_state_versions(state_dir: str, keep: int = 2) -> list[str]:
    """Retention for the versioned fold sinks: every committed batch
    writes a full ``v{batch}`` state copy and swings LATEST, so a
    long-lived maintenance query accumulates one corpus-state-sized
    directory PER TRIGGER -- the storage leak every versioned-snapshot
    deployment must vacuum.  Removes all but the newest ``keep``
    version directories, NEVER the one LATEST points at (a reader that
    resolved the pointer just before the vacuum still finds its files;
    keep >= 2 leaves one older version as the read-uncommitted escape
    hatch the swing protocol assumes).

    Returns the removed directory names (for the operator's log).
    """
    import shutil

    target = _latest_version(state_dir)
    versions = sorted(
        (
            d
            for d in os.listdir(state_dir)
            if d.startswith("v")
            and d[1:].isdigit()
            and os.path.isdir(os.path.join(state_dir, d))
        ),
        key=lambda d: int(d[1:]),
    )
    latest_name = os.path.basename(target) if target else None
    doomed = [
        d
        for d in versions[: max(len(versions) - max(keep, 1), 0)]
        if d != latest_name
    ]
    for d in doomed:
        shutil.rmtree(os.path.join(state_dir, d))
    return doomed


def commit_lsh_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    bands: int,
    rows: int,
    slice_key=None,
) -> None:
    """Fold one micro-batch of NEW documents into the maintained LSH
    index and emit the near-dup candidate pairs they create.

    The 100 TB argument: a production corpus grows by arrival, and
    re-LSHing the whole corpus per ingest is exactly the recompute an
    index exists to avoid.  State is the banded signature log
    (``bands/b*`` -- docs x bands rows, the same index every LSH
    deployment stores; at warehouse scale you would bucket it by
    band_key so the probe join below co-locates).  Per batch the work
    is per-document hashing (map-side, dedup.banded_signatures -- ONE
    definition shared with the batch operator, so slices cannot
    drift) plus one equi-join of the batch's band rows against the
    accumulated index.  Each doc_id arrives exactly once, so a pair
    collides in the batch where its LATER document lands and nowhere
    else: the per-batch pair logs (``pairs/b*``) are disjoint and
    their union IS batch lsh_candidate_pairs over the full corpus --
    append-once, no read-time dedup.

    Batch dirs are write-once (both rewritten on a retry), so replays
    are idempotent."""
    import shutil

    from ..operators.dedup import banded_signatures

    bands_dir = os.path.join(state_dir, "bands", f"b{batch_id}")
    pairs_dir = os.path.join(state_dir, "pairs", f"b{batch_id}")
    if all(
        os.path.exists(os.path.join(d, "_SUCCESS"))
        for d in (bands_dir, pairs_dir)
    ):
        return
    for d in (bands_dir, pairs_dir):
        shutil.rmtree(d, ignore_errors=True)
    if slice_key is None:
        new = banded_signatures(batch_df, bands, rows).localCheckpoint()
    else:
        # per-batch signature slice shared across sibling replays of
        # the same source (_batch_slice docstring); the parquet leaf
        # doubles as the localCheckpoint's lineage cut
        new = _batch_slice(
            spark, f"lsh_bands_{bands}_{rows}", slice_key, batch_id,
            lambda: banded_signatures(batch_df, bands, rows),
        )
    bands_base = os.path.join(state_dir, "bands")
    consumed = _compacted_basenames(bands_base)
    prior_dirs = [
        p
        for pat in ("b*", "c*")
        for p in sorted(glob.glob(os.path.join(bands_base, pat)))
        if os.path.exists(os.path.join(p, "_SUCCESS"))
        and os.path.basename(p) != f"b{batch_id}"
        and os.path.basename(p) not in consumed
    ]
    index = (
        spark.read.parquet(*prior_dirs).unionByName(new)
        if prior_dirs
        else new
    )
    pairs = (
        new.alias("n")
        .join(index.alias("i"), ["band_id", "band_key"])
        .filter(F.col("n.doc_id") != F.col("i.doc_id"))
        .select(
            F.least("n.doc_id", "i.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "i.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pairs.write.parquet(pairs_dir)
    new.write.parquet(bands_dir)


def maintain_lsh_index(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    bands: int = 4,
    rows: int = 4,
    slice_key=None,
):
    """Start the foreachBatch LSH-index maintenance query (caller
    awaits): banded-signature index + disjoint per-batch pair logs."""
    os.makedirs(state_dir, exist_ok=True)
    spark = docs_stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        commit_lsh_batch(
            spark, state_dir, batch_df, batch_id, bands, rows, slice_key
        )

    return (
        docs_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_lsh_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """All near-dup candidate pairs the maintained index has emitted:
    the per-batch logs are DISJOINT by construction (a pair collides
    only in its later document's batch), so this is a plain union --
    no distinct, no shuffle.  Compacted segments read identically
    (compaction moves rows, so disjointness survives)."""
    return spark.read.parquet(
        *_log_segments(os.path.join(state_dir, "pairs"))
    ).select("doc_a", "doc_b")


def compact_log_batches(
    spark: SparkSession, state_dir: str, sub: str, keep_last: int = 0
) -> list[str]:
    """Compact an append-once batch log (``{sub}/b*`` -- the guarded
    diff's findings/matched/observed logs, the LSH index's bands/pairs
    logs) into one committed segment.

    The operational cost of per-trigger appends is SMALL FILES: a
    per-minute trigger writes ~1.4k directories a day, and every read
    lists and opens all of them -- the classic streaming-sink decay
    every lakehouse compacts away.  This folds all committed ``b*``
    dirs except the newest ``keep_last`` (left out so a concurrently
    committing trigger is never raced) into a single ``c{n}`` segment:
    write-new-then-remove, and because segment dirs are globbed by
    BOTH patterns at read, a reader interleaving with the compactor
    sees either the b* dirs or the c* segment, both complete.  Content
    is row-identical by construction -- compaction is a move, never a
    merge, so disjointness contracts (e.g. the LSH pair logs) survive.

    Crash safety: the segment carries a ``_COMPACTED`` manifest naming
    the b* dirs it consumed, written WITH the segment -- a compactor
    dying between segment commit and b-dir removal leaves both on
    disk, and ``_log_segments`` uses the manifest to skip the consumed
    b* dirs, so a reader never double-counts; the next compactor run
    (or this one retried) finishes the removal.

    Single-compactor contract (same as the folds' single-writer rule).
    Returns the removed directory names."""
    import shutil

    base = os.path.join(state_dir, sub)
    consumed = _compacted_basenames(base)
    batches = sorted(
        (
            p
            for p in glob.glob(os.path.join(base, "b*"))
            if os.path.exists(os.path.join(p, "_SUCCESS"))
            and os.path.basename(p) not in consumed
        ),
        key=lambda p: int(os.path.basename(p)[1:]),
    )
    # finish a predecessor's interrupted removal first
    leftovers = [
        p
        for p in glob.glob(os.path.join(base, "b*"))
        if os.path.basename(p) in consumed
    ]
    for p in leftovers:
        shutil.rmtree(p)
    doomed = batches[: len(batches) - keep_last] if keep_last else batches
    if len(doomed) < 2:
        return [os.path.basename(p) for p in leftovers]
    seq = 1 + max(
        (
            int(os.path.basename(p)[1:])
            for p in glob.glob(os.path.join(base, "c*"))
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        ),
        default=-1,
    )
    # stage under a name the c* glob cannot see, complete it (parquet
    # + manifest), then one atomic rename publishes both together --
    # no reader window where the segment exists without its manifest
    target = os.path.join(base, f"c{seq}")
    staging = os.path.join(base, f"_c{seq}.inprogress")
    shutil.rmtree(target, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    spark.read.parquet(*doomed).write.parquet(staging)
    with open(
        os.path.join(staging, "_COMPACTED"), "w", encoding="utf-8"
    ) as f:
        f.write("\n".join(os.path.basename(p) for p in doomed))
    os.rename(staging, target)
    for p in doomed:
        shutil.rmtree(p)
    return [os.path.basename(p) for p in leftovers + doomed]


def _compacted_basenames(base: str) -> set[str]:
    """The b* dir names every committed c* segment has consumed (its
    ``_COMPACTED`` manifest) -- readers and the compactor both skip
    them, which is what makes a crash between segment commit and b-dir
    removal invisible."""
    names: set[str] = set()
    for seg in glob.glob(os.path.join(base, "c*")):
        manifest = os.path.join(seg, "_COMPACTED")
        if os.path.exists(os.path.join(seg, "_SUCCESS")) and os.path.exists(
            manifest
        ):
            with open(manifest, encoding="utf-8") as f:
                names.update(n for n in f.read().split("\n") if n)
    return names


def commit_simhash_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    max_hamming: int = 3,
    bands: int | None = None,
    slice_key=None,
) -> None:
    """Fold one micro-batch of NEW documents into the maintained
    SimHash hamming-LSH index -- the incremental twin of
    dedup.simhash_near_pairs, completing the near-dup trio (exact via
    dedup_incremental, MinHash via commit_lsh_batch, hamming here).

    Same architecture as the MinHash fold: state is the banded
    fingerprint log (``bands/b*`` -- docs x bands rows, 16 bytes of
    fingerprint per doc), the batch hashes map-side with the ONE
    dedup.simhash_banded definition the batch join uses, probes the
    accumulated index with one (band_id, band_key) equi-join, and the
    pigeonhole recall contract (bands >= max_hamming + 1 -> EXACT
    recall) carries over unchanged because it is per-pair, not
    per-corpus.  The hamming verify (xor/bit_count on the two stored
    fingerprints) runs at probe time, so the pair logs (``pairs/b*``)
    hold only VERIFIED pairs -- emitted in the later document's batch,
    disjoint across batches, plain-union read."""
    import shutil

    from ..operators.dedup import simhash_banded

    if bands is None:
        bands = max_hamming + 1
    bands_dir = os.path.join(state_dir, "bands", f"b{batch_id}")
    pairs_dir = os.path.join(state_dir, "pairs", f"b{batch_id}")
    if all(
        os.path.exists(os.path.join(d, "_SUCCESS"))
        for d in (bands_dir, pairs_dir)
    ):
        return
    for d in (bands_dir, pairs_dir):
        shutil.rmtree(d, ignore_errors=True)
    if slice_key is None:
        new = simhash_banded(batch_df, bands).localCheckpoint()
    else:
        # shared per-batch fingerprint slice (_batch_slice docstring)
        new = _batch_slice(
            spark, f"simhash_bands_{bands}", slice_key, batch_id,
            lambda: simhash_banded(batch_df, bands),
        )
    bands_base = os.path.join(state_dir, "bands")
    consumed = _compacted_basenames(bands_base)
    prior_dirs = [
        p
        for pat in ("b*", "c*")
        for p in sorted(glob.glob(os.path.join(bands_base, pat)))
        if os.path.exists(os.path.join(p, "_SUCCESS"))
        and os.path.basename(p) != f"b{batch_id}"
        and os.path.basename(p) not in consumed
    ]
    index = (
        spark.read.parquet(*prior_dirs).unionByName(new)
        if prior_dirs
        else new
    )
    pairs = (
        new.alias("n")
        .join(index.alias("i"), ["band_id", "band_key"])
        .filter(F.col("n.doc_id") != F.col("i.doc_id"))
        .select(
            F.least("n.doc_id", "i.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "i.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("n.simhash").bitwiseXOR(F.col("i.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    pairs.write.parquet(pairs_dir)
    new.write.parquet(bands_dir)


def maintain_simhash_index(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    bands: int | None = None,
    slice_key=None,
):
    """Start the foreachBatch SimHash-index maintenance query (caller
    awaits): banded-fingerprint index + disjoint verified-pair logs."""
    os.makedirs(state_dir, exist_ok=True)
    spark = docs_stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        commit_simhash_batch(
            spark, state_dir, batch_df, batch_id, max_hamming, bands,
            slice_key,
        )

    return (
        docs_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_simhash_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """All verified hamming near-dup pairs the maintained index has
    emitted: disjoint per-batch logs (compacted segments included),
    plain union -- no distinct, no shuffle."""
    return spark.read.parquet(
        *_log_segments(os.path.join(state_dir, "pairs"))
    ).select("doc_a", "doc_b", "hamming")
