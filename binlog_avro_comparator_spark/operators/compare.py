"""The CDC consistency diff core.

Re-expresses the reference's single-threaded hash-join-and-compare
(/root/reference/compare_timestamps.go) as declarative DataFrame
transformations, SURVEY.md section 2 operator IDs in comments:

  prepare_binlog  -- F1 relevance filter, F2 null-key drop, J2
                     last-write-wins dedup (explicit window over line_no;
                     never rely on scan order)
  prepare_avro    -- F3 null-key drop
  matched_pairs   -- J1/J3 composite-key inner join + C1-C5 comparison
                     columns
  avro_only       -- J4 left-anti join
  binlog_only     -- J5 right-anti join + F4 DML-only filter
  findings        -- S10 report-as-data: one row per discrepancy
  summary         -- A1 conditional-count aggregation + A2 verdict

Scale design: the three joins share one shuffle key (binlog_file,
binlog_position).  At 100 TB both sides are large, so the default lets
Catalyst/AQE pick the physical join (sort-merge with both sides hash-
partitioned on the key; AQE converts to broadcast when a side turns out
small, and splits skewed keys).  All comparison expressions are
built-in column functions -- whole-stage-codegen, no Python in the hot
path.

Note the reference counts *per probe row*: duplicate avro keys each
count as a match (compare_timestamps.go:194-195), timestamp-parse
failures count as mismatches and suppress the GTID/change-type checks
for that row (:206-211).  Replicated exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

KEY = ["binlog_file", "binlog_position"]

# Accepted by the build-side relevance filter (compare_timestamps.go:124).
_DML_SUFFIX = "RowsEventV2"

# RFC3339 / RFC3339Nano layouts as emitted by json_parser.go:83,:117.
# Go's time.Parse(RFC3339Nano, ...) accepts 0-9 fractional digits; Spark
# is microsecond-precision, so digits beyond 6 are truncated before
# parsing (documented precision difference; invisible under the 100 ms
# tolerance, SURVEY.md P9) and 0-6 digits are handled by optional
# pattern sections.
TS_SECOND_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
TS_NANO_FMT = "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][.SSSSS][.SSSS][.SSS][.SS][.S]'Z'"


def _parse_rfc3339nano(col: F.Column) -> F.Column:
    truncated = F.regexp_replace(col, r"(\.\d{6})\d+", r"$1")
    return F.try_to_timestamp(truncated, F.lit(TS_NANO_FMT))


# Go zero-value time.Time{}.UnixMilli().  When BOTH timestamp fields are
# empty the reference never calls time.Parse (compare_timestamps.go:200-204)
# so errParseTime stays nil and the comparison runs against the zero-value
# time: the row is a *counted* TIMESTAMP_MISMATCH (|delta| is astronomical)
# and the GTID/change-type checks still execute.  Only a non-empty field
# that fails to parse is a TIMESTAMP_PARSE_ERROR (:206-211).
GO_ZERO_TIME_MS = -62_135_596_800_000


@dataclass(frozen=True)
class CompareConfig:
    tolerance_ms: int = 100  # compare_timestamps.go:214
    # Q1: the reference's DELETE inference is dead code (suffix
    # 'DeleteRowsV2' never matches 'DeleteRowsEventV2').  Default is the
    # *intended* semantics; strict mode reproduces the quirk.
    strict_reference_parity: bool = False


def prepare_binlog(binlog: DataFrame) -> DataFrame:
    """F1 + F2 + J2: relevance filter, null-key drop, last-write-wins dedup.

    The reference gets last-write-wins for free from insertion order
    (version-ordered file loop + line order, compare_timestamps.go:147).
    Spark scan order is arbitrary, so the order is data: ``line_no``
    must be a deterministic per-file line ordinal (sources supply it)
    and the dedup is an explicit window.
    """
    df = binlog.filter(
        (F.col("event_type").endswith(_DML_SUFFIX) | (F.col("event_type") == "XID"))
        & F.col("binlog_file").isNotNull()
        & (F.col("binlog_file") != "")
        & F.col("log_position").isNotNull()
        & (F.col("log_position") != 0)  # Q5 zero-as-null
    ).withColumnRenamed("log_position", "binlog_position")
    # content tie-breaks keep the pick deterministic even when line_no
    # ties (e.g. JSONL inputs that carry no real line order).
    # Shape note (r11 optimization round): a max_by(row-struct,
    # ordering-struct) aggregate was tried here and REVERTED -- struct
    # buffers force SortAggregate (no hash aggregate), while this
    # row_number window already executes with WindowGroupLimit
    # (Spark 3.5+): each map partition pre-filters to its local top-1
    # per key BEFORE the exchange, so the shuffle ships at most one
    # candidate row per key per partition -- fewer bytes than the
    # aggregate form, which ships row + ordering structs.  Measured
    # neutral at sf0.1 (noop ~0.9 s both ways); the window form is
    # plan-pinned (test_prepare_binlog_uses_window_group_limit).
    w = Window.partitionBy(*KEY).orderBy(
        F.col("line_no").desc(),
        F.col("event_type").desc_nulls_last(),
        F.col("timestamp").desc_nulls_last(),
        F.col("immediate_commmit_timestamp").desc_nulls_last(),
        F.col("gtid_next").desc_nulls_last(),
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def prepare_avro(avro: DataFrame) -> DataFrame:
    """F3: drop probe rows with unusable keys (compare_timestamps.go:176-179)."""
    return avro.filter(
        F.col("binlog_file").isNotNull()
        & (F.col("binlog_file") != "")
        & F.col("binlog_position").isNotNull()
        & (F.col("binlog_position") != 0)
    )


def binlog_effective_ms(ict: F.Column, ts: F.Column) -> F.Column:
    """C1: high-precision timestamp if present, else the second-precision
    one (compare_timestamps.go:200-204).  NULL result == parse failure of
    a NON-empty field; both-empty yields Go's zero-value time instead
    (see GO_ZERO_TIME_MS)."""
    return (
        F.when(
            ict.isNotNull() & (ict != ""),
            F.unix_millis(_parse_rfc3339nano(ict)),
        )
        .when(
            ts.isNotNull() & (ts != ""),
            F.unix_millis(F.try_to_timestamp(ts, F.lit(TS_SECOND_FMT))),
        )
        .otherwise(F.lit(GO_ZERO_TIME_MS).cast("long"))
    )


def inferred_change_type(event_type: F.Column, cfg: CompareConfig) -> F.Column:
    """C5: CDC change type inferred from the binlog event type
    (compare_timestamps.go:231-238)."""
    delete_suffix = "DeleteRowsV2" if cfg.strict_reference_parity else "DeleteRowsEventV2"
    return (
        F.when(event_type.endswith("WriteRowsEventV2"), "INSERT")
        .when(event_type.endswith("UpdateRowsEventV2"), "UPDATE")
        .when(event_type.endswith(delete_suffix), "DELETE")
        .otherwise("")
    )


def _binlog_build(binlog_prepared: DataFrame, *extra) -> DataFrame:
    """The binlog side of a diff join: key, event fields, and the
    schema/table renamed apart from the avro side's."""
    return binlog_prepared.select(
        *KEY,
        "event_type",
        "timestamp",
        "immediate_commmit_timestamp",
        "gtid_next",
        F.col("schema").alias("binlog_schema"),
        F.col("table").alias("binlog_table"),
        *extra,
    )


def _with_comparisons(j: DataFrame, cfg: CompareConfig) -> DataFrame:
    """C1-C5 comparison columns over a joined avro x binlog frame."""
    binlog_ms = binlog_effective_ms(
        F.col("immediate_commmit_timestamp"), F.col("timestamp")
    )
    inferred = inferred_change_type(F.col("event_type"), cfg)
    return (
        j.withColumn("binlog_ms", binlog_ms)
        .withColumn("ts_delta_ms", F.col("source_timestamp") - F.col("binlog_ms"))
        .withColumn(
            "ts_mismatch",
            F.col("binlog_ms").isNull()
            | (F.abs(F.col("ts_delta_ms")) > cfg.tolerance_ms),
        )
        .withColumn("inferred_change_type", inferred)
        .withColumn(
            "gtid_mismatch",
            F.col("binlog_ms").isNotNull()  # parse failure skips checks (:210)
            & F.col("gtid").isNotNull() & (F.col("gtid") != "")
            & F.col("gtid_next").isNotNull() & (F.col("gtid_next") != "")
            & (F.col("gtid") != F.col("gtid_next")),
        )
        .withColumn(
            "change_type_mismatch",
            F.col("binlog_ms").isNotNull()
            & F.col("change_type").isNotNull() & (F.col("change_type") != "")
            & (F.col("inferred_change_type") != "")
            & (F.upper(F.col("change_type")) != F.col("inferred_change_type")),
        )
    )


def diff_joined(
    binlog_prepared: DataFrame,
    avro_prepared: DataFrame,
    cfg: CompareConfig = CompareConfig(),
) -> DataFrame:
    """The whole diff in ONE join: full-outer on the composite key with
    presence markers, plus the C1-C5 comparison columns.

    This subsumes J3 (both present), J4 (binlog side absent), and J5
    (avro side absent): findings and summary each become a single pass
    over this frame instead of three separate joins that would rescan
    and re-shuffle both inputs.  At scale: one shuffle per side
    (sort-merge full-outer); the narrower inner/anti operators below
    stay available -- and broadcastable -- when only one slice is
    wanted.
    """
    build = _binlog_build(binlog_prepared, "line_no", F.lit(True).alias("__has_binlog"))
    probe = avro_prepared.withColumn("__has_avro", F.lit(True))
    return _with_comparisons(probe.join(build, on=KEY, how="full_outer"), cfg)


def matched_pairs(
    binlog_prepared: DataFrame,
    avro_prepared: DataFrame,
    cfg: CompareConfig = CompareConfig(),
) -> DataFrame:
    """J3 inner join + C1-C5 comparison columns, one row per matched
    avro record (probe-side granularity, like the reference).

    Narrow variant: when only the matched slice is needed, an inner
    join lets Catalyst/AQE broadcast the build side."""
    j = avro_prepared.join(_binlog_build(binlog_prepared), on=KEY, how="inner")
    return _with_comparisons(j, cfg)


def avro_only(binlog_prepared: DataFrame, avro_prepared: DataFrame) -> DataFrame:
    """J4: avro records whose key has no binlog event (:187-192)."""
    return avro_prepared.join(binlog_prepared.select(*KEY), on=KEY, how="left_anti")


def binlog_only(binlog_prepared: DataFrame, avro_prepared: DataFrame) -> DataFrame:
    """J5 + F4: binlog DML events with no avro record.  XID events are
    joinable (commit-position stamping, Q4) but never reported missing
    (:258-265; live V2 suffixes only, the V1 branches are dead code Q2)."""
    return binlog_prepared.join(
        avro_prepared.select(*KEY), on=KEY, how="left_anti"
    ).filter(F.col("event_type").endswith(_DML_SUFFIX))


def findings_onepass(
    binlog_prepared: DataFrame,
    avro_prepared: DataFrame,
    cfg: CompareConfig = CompareConfig(),
) -> DataFrame:
    """S10 findings in a single pass: build a per-row array of finding
    structs over diff_joined and explode it.  One scan per input, one
    join, one explode -- versus the compositional findings() whose union
    branches each re-derive their inputs.  Output schema and row set are
    identical to findings()."""
    j = diff_joined(binlog_prepared, avro_prepared, cfg)
    empty = F.lit("")
    both = F.col("__has_avro").isNotNull() & F.col("__has_binlog").isNotNull()

    def _f(cond: F.Column, kind: str, detail: F.Column, counted: bool) -> F.Column:
        return F.when(
            cond,
            F.struct(
                F.lit(kind).alias("kind"),
                detail.alias("detail"),
                F.lit(counted).alias("counted"),
            ),
        )

    ts_detail = F.concat(
        F.lit("avro_ms="), F.col("source_timestamp").cast("string"),
        F.lit(" binlog_ms="), F.col("binlog_ms").cast("string"),
    )
    arr = F.array(
        _f(
            both & F.col("binlog_ms").isNull(),
            "TIMESTAMP_PARSE_ERROR",
            F.concat(
                F.lit("ict="), F.coalesce(F.col("immediate_commmit_timestamp"), empty),
                F.lit(" ts="), F.coalesce(F.col("timestamp"), empty),
            ),
            True,
        ),
        _f(
            both & F.col("binlog_ms").isNotNull() & F.col("ts_mismatch"),
            "TIMESTAMP_MISMATCH",
            ts_detail,
            True,
        ),
        _f(
            both & F.col("gtid_mismatch"),
            "GTID_MISMATCH",
            F.concat(F.lit("avro="), F.col("gtid"), F.lit(" binlog="), F.col("gtid_next")),
            False,
        ),
        _f(
            both & F.col("change_type_mismatch"),
            "CHANGE_TYPE_MISMATCH",
            F.concat(
                F.lit("avro="), F.col("change_type"),
                F.lit(" inferred="), F.col("inferred_change_type"),
            ),
            False,
        ),
        _f(
            F.col("__has_binlog").isNull(),
            "AVRO_ONLY_BINLOG_KEY",
            F.concat(
                F.lit("db="), F.coalesce(F.col("database"), empty),
                F.lit(" table="), F.coalesce(F.col("table"), empty),
                F.lit(" type="), F.coalesce(F.col("change_type"), empty),
            ),
            True,
        ),
        _f(
            F.col("__has_avro").isNull()
            & F.col("event_type").endswith(_DML_SUFFIX),
            "BINLOG_ONLY_DML",
            F.concat(
                F.lit("event="), F.col("event_type"),
                F.lit(" schema="), F.coalesce(F.col("binlog_schema"), empty),
                F.lit(" table="), F.coalesce(F.col("binlog_table"), empty),
            ),
            True,
        ),
    )
    return j.select(
        *KEY,
        F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("f"),
    ).select(
        F.col("f.kind").alias("kind"),
        *KEY,
        F.col("f.detail").alias("detail"),
        F.col("f.counted").alias("counted"),
    )


def summary_onepass(
    total_avro_records: DataFrame,
    binlog_prepared: DataFrame,
    avro_prepared: DataFrame,
    cfg: CompareConfig = CompareConfig(),
) -> DataFrame:
    """A1/A2 in a single aggregation pass over diff_joined (plus one
    narrow count of the raw avro input, which the reference counts
    before key-validation -- compare_timestamps.go:169)."""
    j = diff_joined(binlog_prepared, avro_prepared, cfg)
    both = F.col("__has_avro").isNotNull() & F.col("__has_binlog").isNotNull()
    agg = j.agg(
        F.sum(both.cast("long")).alias("matched"),
        F.sum((both & F.col("ts_mismatch")).cast("long")).alias("ts_mismatches"),
        F.sum(F.col("__has_binlog").isNull().cast("long")).alias("avro_only"),
        F.sum(
            (
                F.col("__has_avro").isNull()
                & F.col("event_type").endswith(_DML_SUFFIX)
            ).cast("long")
        ).alias("binlog_only"),
        # a build event may match several avro rows; count distinct keys
        F.count_distinct(
            F.when(F.col("__has_binlog").isNotNull(), F.concat_ws("\x00", *KEY))
        ).alias("binlog_build_events"),
    )
    return (
        total_avro_records.agg(F.count("*").alias("total_avro_records"))
        .crossJoin(agg)
        .select(
            "total_avro_records",
            "binlog_build_events",
            F.coalesce(F.col("matched"), F.lit(0)).alias("matched"),
            F.coalesce(F.col("ts_mismatches"), F.lit(0)).alias("ts_mismatches"),
            F.coalesce(F.col("avro_only"), F.lit(0)).alias("avro_only"),
            F.coalesce(F.col("binlog_only"), F.lit(0)).alias("binlog_only"),
            (
                (F.coalesce(F.col("ts_mismatches"), F.lit(0)) == 0)
                & (F.coalesce(F.col("avro_only"), F.lit(0)) == 0)
                & (F.coalesce(F.col("binlog_only"), F.lit(0)) == 0)
            ).alias("consistent"),
        )
    )


def findings(
    matched: DataFrame,
    avro_only_df: DataFrame,
    binlog_only_df: DataFrame,
) -> DataFrame:
    """S10: report-as-data.  One row per discrepancy.

    ``counted`` mirrors Q3: only timestamp failures feed the summary's
    ``mismatches`` counter; GTID/change-type findings are report-only
    (the commented-out increments at compare_timestamps.go:228,:245).
    """
    empty = F.lit("")

    def _mk(df: DataFrame, kind: str, detail: F.Column, counted: bool) -> DataFrame:
        return df.select(
            F.lit(kind).alias("kind"),
            F.col("binlog_file"),
            F.col("binlog_position"),
            detail.alias("detail"),
            F.lit(counted).alias("counted"),
        )

    ts_parse_err = _mk(
        matched.filter(F.col("binlog_ms").isNull()),
        "TIMESTAMP_PARSE_ERROR",
        F.concat(
            F.lit("ict="), F.coalesce(F.col("immediate_commmit_timestamp"), empty),
            F.lit(" ts="), F.coalesce(F.col("timestamp"), empty),
        ),
        True,
    )
    ts_mismatch = _mk(
        matched.filter(F.col("binlog_ms").isNotNull() & F.col("ts_mismatch")),
        "TIMESTAMP_MISMATCH",
        F.concat(
            F.lit("avro_ms="), F.col("source_timestamp").cast("string"),
            F.lit(" binlog_ms="), F.col("binlog_ms").cast("string"),
        ),
        True,
    )
    gtid = _mk(
        matched.filter(F.col("gtid_mismatch")),
        "GTID_MISMATCH",
        F.concat(F.lit("avro="), F.col("gtid"), F.lit(" binlog="), F.col("gtid_next")),
        False,
    )
    ct = _mk(
        matched.filter(F.col("change_type_mismatch")),
        "CHANGE_TYPE_MISMATCH",
        F.concat(
            F.lit("avro="), F.col("change_type"),
            F.lit(" inferred="), F.col("inferred_change_type"),
        ),
        False,
    )
    a_only = _mk(
        avro_only_df,
        "AVRO_ONLY_BINLOG_KEY",
        F.concat(
            F.lit("db="), F.coalesce(F.col("database"), empty),
            F.lit(" table="), F.coalesce(F.col("table"), empty),
            F.lit(" type="), F.coalesce(F.col("change_type"), empty),
        ),
        True,
    )
    b_only = _mk(
        binlog_only_df,
        "BINLOG_ONLY_DML",
        F.concat(
            F.lit("event="), F.col("event_type"),
            F.lit(" schema="), F.coalesce(F.col("schema"), empty),
            F.lit(" table="), F.coalesce(F.col("table"), empty),
        ),
        True,
    )
    return ts_parse_err.unionAll(ts_mismatch).unionAll(gtid).unionAll(ct).unionAll(a_only).unionAll(b_only)


def summary(
    total_avro_records: DataFrame,
    binlog_prepared: DataFrame,
    matched: DataFrame,
    avro_only_df: DataFrame,
    binlog_only_df: DataFrame,
) -> DataFrame:
    """A1 counters + A2 verdict as a single-row DataFrame.

    ``total_avro_records`` is the *raw* avro input (the reference's
    lineNum counts skipped rows too, compare_timestamps.go:169).
    """
    m = matched.agg(
        F.count("*").alias("matched"),
        F.sum(F.col("ts_mismatch").cast("long")).alias("ts_mismatches"),
    )
    counts = (
        total_avro_records.agg(F.count("*").alias("total_avro_records"))
        .crossJoin(binlog_prepared.agg(F.count("*").alias("binlog_build_events")))
        .crossJoin(m)
        .crossJoin(avro_only_df.agg(F.count("*").alias("avro_only")))
        .crossJoin(binlog_only_df.agg(F.count("*").alias("binlog_only")))
    )
    return counts.select(
        "total_avro_records",
        "binlog_build_events",
        "matched",
        F.coalesce(F.col("ts_mismatches"), F.lit(0)).alias("ts_mismatches"),
        "avro_only",
        "binlog_only",
        (
            (F.coalesce(F.col("ts_mismatches"), F.lit(0)) == 0)
            & (F.col("avro_only") == 0)
            & (F.col("binlog_only") == 0)
        ).alias("consistent"),
    )


def latency_stats(matched: DataFrame, approx: bool = False) -> DataFrame:
    """CDC replication-lag distribution per change type over the
    matched pairs -- the operational report BEHIND the reference's
    100 ms tolerance check (compare_timestamps.go:213-216 asks who
    breached the band; an operator running continuously also needs the
    delay PROFILE the band was calibrated against).

    One map-side-combined aggregate over the handful of change types:
    mean is the exact integer sum divided once (ts_delta_ms is a
    long); p50/p90/p99 are exact R-7 percentiles (engine-identical,
    same contract as doc_length_quantiles), with ``approx=True``
    switching to approx_percentile's fixed-memory sketch when a
    group's value list outgrows executor memory at true corpus scale.
    Parse-failed rows (binlog_ms null) are excluded -- their lag is
    undefined and they are already counted as findings.  Returns
    (change_type, n, min_ms, max_ms, mean_ms, p50_ms, p90_ms,
    p99_ms)."""
    pct = F.approx_percentile if approx else F.percentile
    ok = matched.filter(F.col("binlog_ms").isNotNull())
    return (
        ok.groupBy("change_type")
        .agg(
            F.count("*").alias("n"),
            F.min("ts_delta_ms").alias("min_ms"),
            F.max("ts_delta_ms").alias("max_ms"),
            F.sum("ts_delta_ms").alias("__sum"),
            pct(F.col("ts_delta_ms"), F.lit(0.5)).alias("p50_ms"),
            pct(F.col("ts_delta_ms"), F.lit(0.9)).alias("p90_ms"),
            pct(F.col("ts_delta_ms"), F.lit(0.99)).alias("p99_ms"),
        )
        .select(
            "change_type",
            "n",
            "min_ms",
            "max_ms",
            F.round(F.col("__sum").cast("double") / F.col("n"), 6).alias("mean_ms"),
            "p50_ms",
            "p90_ms",
            "p99_ms",
        )
    )


def content_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-independent content checksum: SUM of the portable 48-bit
    md5 over each row's canonical encoding (unit-separator-joined
    columns, NULL as a sentinel byte) -- the anti-entropy primitive for
    cheap replica comparison: two sides agree on (n_rows, checksum)
    with overwhelming probability iff they hold the same multiset of
    rows, for the cost of one scan and a 1-row result, no join.

    Sum is decimal(38,0) (exact, order/partitioning-independent; never
    a float fold) and is EMITTED AS A STRING so the cross-engine
    compare sees digits, not integer-width encodings.  Callers pass
    string/integer columns only -- float columns would reintroduce
    engine-specific decimal formatting into the hash input."""
    row = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast("decimal(38,0)")
    # an EMPTY frame checksums to "0", not NULL: sum-over-nothing is
    # coalesced so two quiet replicas compare equal instead of a
    # NULL == NULL three-valued non-answer raising a false alarm
    return df.agg(
        F.count("*").alias("n_rows"),
        F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)"))
        .cast("string")
        .alias("checksum"),
    )


def replica_checksums(
    binlog_prepared: DataFrame, avro_prepared: DataFrame
) -> DataFrame:
    """The checksum form of the consistency question: do the two sides
    hold the same JOIN-KEY multiset?  One scan per side, two 1-row
    frames crossed -- at 100 TB this answers 'did replication drop or
    duplicate anything' hourly for pennies, with the full diff
    (findings_onepass) reserved for the runs where the checksums
    disagree.  Returns one row (binlog_rows, avro_rows,
    binlog_checksum, avro_checksum, keys_match)."""
    b = content_checksum(
        binlog_prepared.select("binlog_file", "binlog_position"),
        ["binlog_file", "binlog_position"],
    ).select(
        F.col("n_rows").alias("binlog_rows"),
        F.col("checksum").alias("binlog_checksum"),
    )
    a = content_checksum(
        avro_prepared.select("binlog_file", "binlog_position"),
        ["binlog_file", "binlog_position"],
    ).select(
        F.col("n_rows").alias("avro_rows"), F.col("checksum").alias("avro_checksum")
    )
    return (
        b.crossJoin(F.broadcast(a))
        .withColumn(
            "keys_match",
            (F.col("binlog_rows") == F.col("avro_rows"))
            & (F.col("binlog_checksum") == F.col("avro_checksum")),
        )
        .select(
            "binlog_rows", "avro_rows", "binlog_checksum", "avro_checksum",
            "keys_match",
        )
    )


# --- payload tier: row-image vs avro payload.* -----------------------------

def prepare_binlog_payload(rows: DataFrame) -> DataFrame:
    """Row-image frame (sources/binlog_binary.ROWS_SCHEMA) -> one
    EFFECTIVE payload per surviving key, mirroring the metadata path's
    prepare semantics (F2 null-key drop, Q5 zero-as-null, J2
    last-write-wins): the row state a CDC consumer would hold after the
    event is the AFTER image for WRITE/UPDATE and the BEFORE image for
    DELETE (the removed row).  ``event_no`` is the per-file rows-event
    ordinal, so the window pick is deterministic and derivable in any
    engine.  Returns (binlog_file, binlog_position, payload)."""
    eff = rows.filter(
        (
            F.col("event_type").isin("WriteRowsEventV2", "UpdateRowsEventV2")
            & (F.col("image") == "after")
        )
        | (
            (F.col("event_type") == "DeleteRowsEventV2")
            & (F.col("image") == "before")
        )
    )
    df = eff.filter(
        F.col("binlog_file").isNotNull()
        & (F.col("binlog_file") != "")
        & F.col("log_position").isNotNull()
        & (F.col("log_position") != 0)
    ).withColumnRenamed("log_position", "binlog_position")
    # row_number window, not max_by: WindowGroupLimit pre-filters
    # map-side (see prepare_binlog's shape note)
    w = Window.partitionBy(*KEY).orderBy(
        F.col("event_no").desc(), F.col("row_no").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*KEY, "payload")
    )


def payload_diff(
    binlog_payload: DataFrame, avro_payload: DataFrame
) -> DataFrame:
    """Column-level payload diff: binlog row images vs avro
    ``payload.*`` -- the check the reference DECLARES the columns for
    (compare_timestamps.go:57-63 carries order_id..order_timestamp in
    its avro struct) but never performs.  Both inputs are
    (binlog_file, binlog_position, payload map<string,string>); the
    avro side stringifies its typed columns with the same canonical
    rendering the decoder uses (integers as decimal text).

    Shape: ONE inner equi-join on the composite key (same shuffle key
    as every other compare operator, so at scale the exchange is
    shared/AQE-optimized), then a per-row explode of the UNION of both
    maps' key sets -- findings granularity is (key, column), and only
    disagreeing columns survive.  All expressions are built-in column
    functions: codegen end-to-end, no Python.

    Statuses: MISMATCH (both present, different), BINLOG_NULL (row
    image holds NULL / lacks the column, avro has a value), AVRO_NULL
    (the inverse).  Agreeing columns -- including both-NULL -- emit
    nothing.  Returns (binlog_file, binlog_position, column,
    binlog_value, avro_value, status)."""
    b = binlog_payload.select(*KEY, F.col("payload").alias("__bp"))
    a = avro_payload.select(*KEY, F.col("payload").alias("__ap"))
    j = b.join(a, on=KEY, how="inner")
    cols = F.array_distinct(
        F.concat(
            F.map_keys(F.col("__bp")),
            F.map_keys(F.col("__ap")),
        )
    )
    exploded = j.select(
        *KEY,
        F.explode(cols).alias("column"),
        F.col("__bp"),
        F.col("__ap"),
    ).select(
        *KEY,
        "column",
        F.element_at(F.col("__bp"), F.col("column")).alias("binlog_value"),
        F.element_at(F.col("__ap"), F.col("column")).alias("avro_value"),
    )
    status = (
        F.when(
            F.col("binlog_value").isNull() & F.col("avro_value").isNotNull(),
            "BINLOG_NULL",
        )
        .when(
            F.col("binlog_value").isNotNull() & F.col("avro_value").isNull(),
            "AVRO_NULL",
        )
        .when(
            F.col("binlog_value").isNotNull()
            & F.col("avro_value").isNotNull()
            & (F.col("binlog_value") != F.col("avro_value")),
            "MISMATCH",
        )
    )
    return (
        exploded.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*KEY, "column", "binlog_value", "avro_value", "status")
    )


def _ranged_running_sums(
    u: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    sum_cols: list[str],
    with_totals: bool = False,
) -> DataFrame:
    """Running sums per ``part_cols`` group ordered by ``order_cols``,
    computed as a TWO-PHASE prefix sum over a range-partitioned
    coordinate line -- the de-skewed form of
    ``Window.partitionBy(part_cols).orderBy(order_cols)``: a single
    hot group (the normal case for the drift sweeps -- one big table
    under migration) no longer serializes its whole line through one
    window task.

    1. Range-partition by the full (part, order) composite key and
       ``localCheckpoint`` (one job) so ``spark_partition_id`` is a
       stable, order-respecting bucket id (equal keys land in one
       partition, so tie semantics are unchanged).
    2. Partition-local running sums: the window partitions by
       (bucket, part_cols), so each group's line splits across as many
       tasks as it has buckets.
    3. Per-(bucket, group) totals (a map-side-combined aggregate,
       buckets x groups rows) get cumulative offsets over the tiny
       frame and broadcast back; cum = local run + offset.

    Returns ``u``'s columns plus ``__cum_<c>`` per sum col (and
    ``__tot_<c>`` per-group totals when ``with_totals``).  Bucket
    count: ``spark.comparator.sweep.partitions`` (default: the
    session's defaultParallelism -- scale-adaptive, not a local-mode
    constant)."""
    from ..functions.caching import scoped_cache

    spark = u.sparkSession
    try:
        n = int(spark.conf.get("spark.comparator.sweep.partitions"))
    except Exception:
        n = spark.sparkContext.defaultParallelism
    # the range exchange evaluates its input twice (the boundary-
    # sampling pass, then the shuffle write): cache the union line so
    # the matched-key join lineage above it computes once
    u = scoped_cache(u)
    # lazy checkpoint: materializes once on the first action, and BOTH
    # consumers (the local-window pass and the offsets aggregate) read
    # the same checkpointed RDD afterwards, so spark_partition_id is
    # stable between them by construction -- a cached plan would leave
    # two range-exchange executions whose consistency depends on
    # exchange reuse firing, and it re-inflates every consumer's
    # analyzed plan with the full upstream lineage (the r11 plan-size
    # lesson: cdc_payload_diff_column_guarded 686 -> 5246 formatted
    # lines when this frame was cached instead of checkpointed).  The
    # range exchange is therefore invisible in consumer plans; the
    # committed component plan (plans/r12/sweep_running_sums_component_
    # after.txt) and the hot-table probe are the shape evidence.
    line = u.repartitionByRange(
        n, *[F.col(c) for c in (*part_cols, *order_cols)]
    ).localCheckpoint(eager=False)
    withpid = line.withColumn("__pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("__pid", *part_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = withpid.select(
        "*", *[F.sum(c).over(w_local).alias(f"__run_{c}") for c in sum_cols]
    )
    part_totals = withpid.groupBy("__pid", *part_cols).agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*part_cols)
    off_cols = [
        F.coalesce(F.sum(f"__t_{c}").over(w_off), F.lit(0).cast("long")).alias(
            f"__off_{c}"
        )
        for c in sum_cols
    ]
    tot_cols = (
        [F.sum(f"__t_{c}").over(w_tot).alias(f"__tot_{c}") for c in sum_cols]
        if with_totals
        else []
    )
    offsets = part_totals.select(
        F.col("__pid").alias("__o_pid"),
        *[F.col(c).alias(f"__o_{i}") for i, c in enumerate(part_cols)],
        *off_cols,
        *tot_cols,
    )
    # null-safe group-key match: a NULL part column (e.g. a matched key
    # with no table meta) is one group, exactly as Window.partitionBy
    # treats it
    cond = F.col("__pid") == F.col("__o_pid")
    for i, c in enumerate(part_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__o_{i}"))
    joined = local.join(F.broadcast(offsets), cond)
    cum = [
        (F.col(f"__run_{c}") + F.col(f"__off_{c}")).alias(f"__cum_{c}")
        for c in sum_cols
    ]
    keep_tots = [F.col(f"__tot_{c}") for c in sum_cols] if with_totals else []
    return joined.select(
        *[c for c in u.columns], *cum, *keep_tots
    )


def _key_window_sweep(
    matched_meta: DataFrame, windows: DataFrame
) -> DataFrame:
    """Per matched key, how many drift windows CONTAIN its coordinate
    -- computed as a coordinate SWEEP, never as a key x window join.

    A window [win_from, win_to) becomes a +1 event at ``win_from`` and
    a -1 event at ``win_to`` (none when open); matched keys ride along
    as weight-0 probe rows at their own coordinate.  One running sum
    per (schema_name, table_name), ordered by (pos, probes AFTER
    boundaries), reads off the active-window count at every key row.
    The containment test (win_from <= coord < win_to) falls out of the
    tie order: a start at the key's coordinate has already incremented
    (inclusive lower bound) and an end there has already decremented
    (exclusive upper bound).

    ``n_unknown`` counts the containing windows whose ``moved_known``
    is false (0 everywhere when the window frame has no such column).

    Why: the former shape -- broadcast the window frame and equi-join
    on (schema, table), then filter the interval test -- enumerates
    |keys| x |windows-of-their-table| intermediate rows.  The r11 DDL
    fixture plants thousands of openers per table, which measured 113M
    intermediate rows for 49k keys x 15k windows at sf0.1 (~30 s per
    consumer); a real migration-heavy table detonates the same way.
    The sweep is linear in keys + windows and shuffles each row once
    (guide 2.3/3.3: shuffle decisions on small rows, avoid exploding
    joins).  Returns one row per matched_meta row: (KEY, schema_name,
    table_name, n_any, n_unknown)."""
    from .ddl import binlog_coord

    tbl = ["schema_name", "table_name"]
    has_known = "moved_known" in windows.columns
    unknown = (
        (~F.col("moved_known")).cast("long") if has_known else F.lit(0).cast("long")
    )
    nulls = [
        F.lit(None).cast("string").alias("binlog_file"),
        F.lit(None).cast("long").alias("binlog_position"),
    ]
    starts = windows.select(
        *nulls,
        *tbl,
        F.col("win_from").alias("__pos"),
        F.lit(1).cast("long").alias("__d"),
        unknown.alias("__du"),
        F.lit(0).alias("__is_key"),
    )
    ends = windows.filter(F.col("win_to").isNotNull()).select(
        *nulls,
        *tbl,
        F.col("win_to").alias("__pos"),
        F.lit(-1).cast("long").alias("__d"),
        (-unknown).alias("__du"),
        F.lit(0).alias("__is_key"),
    )
    keys = matched_meta.select(
        *KEY,
        *tbl,
        binlog_coord(F.col("binlog_file"), F.col("binlog_position")).alias(
            "__pos"
        ),
        F.lit(0).cast("long").alias("__d"),
        F.lit(0).cast("long").alias("__du"),
        F.lit(1).alias("__is_key"),
    )
    # de-skewed running sums (r12): the per-table coordinate line is
    # range-partitioned and prefix-summed in two phases, so one hot
    # table spreads across tasks instead of serializing through a
    # single window partition (_ranged_running_sums docstring)
    swept = _ranged_running_sums(
        starts.unionByName(ends).unionByName(keys),
        tbl,
        ["__pos", "__is_key"],
        ["__d", "__du"],
    )
    return swept.filter(F.col("__is_key") == 1).select(
        *KEY,
        *tbl,
        F.col("__cum___d").alias("n_any"),
        F.col("__cum___du").alias("n_unknown"),
    )


def payload_diff_ddl_guard(
    binlog_payload: DataFrame,
    avro_payload: DataFrame,
    key_tables: DataFrame,
    drift_windows: DataFrame,
) -> DataFrame:
    """payload_diff with a DDL drift-window quarantine -- the guard the
    bare diff lacks: after an ``ALTER TABLE`` lands in the binlog, row
    images decode under the NEW table shape while the avro producer may
    still write the OLD writer schema, so column diffs in that window
    can silently mis-pair (a false MISMATCH is the loud failure; a
    false AGREEMENT on shifted columns is the quiet one).  Every
    matched key inside one of its table's drift windows
    (operators/ddl.ddl_drift_windows: [ALTER, next writer-schema
    refresh)) is therefore quarantined -- its column findings are
    suppressed and replaced by ONE ``DDL_BOUNDARY`` row per key
    (column ``*``) -- whether or not the un-guarded diff would have
    reported anything there (the false-agreement case is exactly the
    one that reports nothing).

    Inputs: the two payload frames (payload_diff's own contract),
    ``key_tables`` = (binlog_file, binlog_position, schema_name,
    table_name) mapping each key to its table, and ``drift_windows`` =
    (schema_name, table_name, win_from, win_to) coordinate intervals,
    ALTER-cardinality and broadcast here.

    Shuffle shape: the matched-key set reuses the SAME composite-key
    equi-join as payload_diff (shared exchange under AQE), the window
    containment test is the linear coordinate sweep (_key_window_sweep
    -- formerly a broadcast key x window join whose intermediate was
    keys x windows-per-table), and the suppression is a co-partitioned
    left-anti on the same key.  Returns payload_diff's contract with
    the extra status value."""
    from ..functions.caching import scoped_cache

    # both payload frames feed TWO consumers (the matched-key set and
    # the diff) -- scoped_cache or Catalyst re-runs the binary decode
    # and the avro derivation once per subtree (the doc_quality_blend
    # lesson: 27.8 -> ~3 s at sf0.1)
    binlog_payload = scoped_cache(binlog_payload)
    avro_payload = scoped_cache(avro_payload)
    matched = binlog_payload.select(*KEY).join(avro_payload.select(*KEY), KEY)
    kt = matched.join(key_tables, KEY, "left")
    # drift_keys feeds the anti-join AND the flagged rows
    drift_keys = scoped_cache(
        _key_window_sweep(kt, drift_windows)
        .filter(F.col("n_any") > 0)
        .select(*KEY)
        .distinct()
    )
    diff = payload_diff(binlog_payload, avro_payload)
    safe = diff.join(drift_keys, KEY, "left_anti")
    flagged = drift_keys.select(
        *KEY,
        F.lit("*").alias("column"),
        F.lit(None).cast("string").alias("binlog_value"),
        F.lit(None).cast("string").alias("avro_value"),
        F.lit("DDL_BOUNDARY").alias("status"),
    )
    return safe.unionByName(flagged)


def payload_diff_column_guard(
    binlog_payload: DataFrame,
    avro_payload: DataFrame,
    key_tables: DataFrame,
    window_columns: DataFrame,
) -> DataFrame:
    """COLUMN-granular DDL quarantine: the whole-key guard
    (payload_diff_ddl_guard) goes blind inside a drift window exactly
    when the feed is most suspect; this variant composes the clause
    grammar's moved-column sets (ddl.ddl_drift_window_columns) so that
    inside a window only the columns the opening ALTER actually
    touched are quarantined -- a STABLE column's real mismatch keeps
    reporting.

    Per matched key inside its table's drift window(s):
      * window moved-set KNOWN: findings on moved columns are
        suppressed and replaced by one ``DDL_BOUNDARY`` row per
        (key, moved column) -- emitted whether or not the bare diff
        found anything there, since the false agreement on a shifted
        column is the quiet failure; findings on every other column
        pass through verbatim (the recovered coverage).
      * moved-set UNKNOWN (table RENAME, or a PARTIAL_PARSE clause in
        the opener): the conservative whole-key quarantine -- one
        ``DDL_BOUNDARY`` row with column ``*`` -- because a partially
        parsed ALTER may have moved columns the grammar never saw.
    A key under multiple windows unions their moved sets and is
    unknown if ANY window is.

    Inputs as payload_diff_ddl_guard, except ``window_columns`` =
    ddl_drift_window_columns's (schema_name, table_name, win_from,
    win_to, moved_cols, moved_known) -- opener-cardinality, broadcast.
    Shuffle shape: same matched-key equi-join as payload_diff (shared
    exchange under AQE), broadcast window probe, and the suppression
    join is a co-partitioned left-anti on (key, column).  Returns
    payload_diff's contract with the extra status value."""
    from ..functions.caching import scoped_cache
    from .ddl import binlog_coord

    binlog_payload = scoped_cache(binlog_payload)
    avro_payload = scoped_cache(avro_payload)
    matched = binlog_payload.select(*KEY).join(avro_payload.select(*KEY), KEY)
    meta = matched.join(key_tables, KEY, "left")
    diff = payload_diff(binlog_payload, avro_payload)
    return column_guard_compose(diff, meta, window_columns)


def column_guard_compose(
    diff: DataFrame, matched_meta: DataFrame, window_columns: DataFrame
) -> DataFrame:
    """The column-granular quarantine as a COMPOSITION over an
    already-computed findings frame: ``diff`` is payload_diff's
    contract, ``matched_meta`` = (binlog_file, binlog_position,
    schema_name, table_name) for EVERY matched key (false agreements
    must quarantine too, so the meta frame is the matched-key set, not
    the findings), ``window_columns`` =
    ddl.ddl_drift_window_columns's frame.  This is the form the
    STREAMING deployment needs: findings and matched-key meta append
    per micro-batch (an output log, not consulted state), and the
    LIVE drift windows -- opener-cardinality, broadcast -- compose at
    READ time, so a late-arriving ALTER retroactively quarantines
    findings emitted batches ago, exactly like the batch operator over
    the full feed.  Suppression semantics are
    payload_diff_column_guard's verbatim.

    Shape note (r11): the window containment tests run as linear
    coordinate sweeps (_key_window_sweep for the per-key any/unknown
    flags, the same event trick per (table, column) for the moved
    sets), never as a key x window join -- see _key_window_sweep's
    docstring for the measured blowup that shape had.  The per-column
    sweep probes each known-window key against its table's
    moved-column VOCABULARY (schema-bounded), so the intermediate
    stays keys x columns, linear in both."""
    from ..functions.caching import scoped_cache
    from .ddl import binlog_coord

    tbl = ["schema_name", "table_name"]
    matched_meta = scoped_cache(matched_meta)
    window_columns = scoped_cache(window_columns)
    flags = scoped_cache(
        _key_window_sweep(matched_meta, window_columns).filter(
            F.col("n_any") > 0
        )
    )
    unknown_keys = flags.filter(F.col("n_unknown") > 0).select(*KEY).distinct()
    # per (table, moved column): +1/-1 events from KNOWN windows only
    # (a key under any unknown window quarantines whole-key above; a
    # key under known windows only never sees an unknown window's
    # array -- same outcome as the former union-then-AND aggregate)
    kw = window_columns.filter(F.col("moved_known"))
    nulls_key = [
        F.lit(None).cast("string").alias("binlog_file"),
        F.lit(None).cast("long").alias("binlog_position"),
    ]
    col_starts = kw.select(
        *nulls_key,
        *tbl,
        F.explode("moved_cols").alias("column"),
        F.col("win_from").alias("__pos"),
        F.lit(1).cast("long").alias("__d"),
        F.lit(0).alias("__is_key"),
    )
    col_ends = kw.filter(F.col("win_to").isNotNull()).select(
        *nulls_key,
        *tbl,
        F.explode("moved_cols").alias("column"),
        F.col("win_to").alias("__pos"),
        F.lit(-1).cast("long").alias("__d"),
        F.lit(0).alias("__is_key"),
    )
    vocab = kw.select(*tbl, F.explode("moved_cols").alias("column")).distinct()
    key_probes = (
        flags.filter(F.col("n_unknown") == 0)
        .select(*KEY, *tbl)
        .join(vocab, tbl)
        .select(
            *KEY,
            *tbl,
            "column",
            binlog_coord(
                F.col("binlog_file"), F.col("binlog_position")
            ).alias("__pos"),
            F.lit(0).cast("long").alias("__d"),
            F.lit(1).alias("__is_key"),
        )
    )
    # same de-skewed two-phase prefix sum as _key_window_sweep, per
    # (table, column) line (r12)
    moved = scoped_cache(
        _ranged_running_sums(
            col_starts.unionByName(col_ends).unionByName(key_probes),
            [*tbl, "column"],
            ["__pos", "__is_key"],
            ["__d"],
        )
        .filter((F.col("__is_key") == 1) & (F.col("__cum___d") > 0))
        .select(*KEY, "column")
        .distinct()
    )
    kept = diff.join(unknown_keys, KEY, "left_anti").join(
        moved, [*KEY, "column"], "left_anti"
    )
    nulls = [
        F.lit(None).cast("string").alias("binlog_value"),
        F.lit(None).cast("string").alias("avro_value"),
    ]
    boundary_cols = moved.select(
        *KEY, "column", *nulls, F.lit("DDL_BOUNDARY").alias("status")
    )
    boundary_keys = unknown_keys.select(
        *KEY,
        F.lit("*").alias("column"),
        *nulls,
        F.lit("DDL_BOUNDARY").alias("status"),
    )
    return kept.unionByName(boundary_cols).unionByName(boundary_keys)


def ddl_guard_impact(
    binlog_payload: DataFrame,
    avro_payload: DataFrame,
    key_tables: DataFrame,
    drift_windows: DataFrame,
) -> DataFrame:
    """Operational rollup of the DDL quarantine: per drift window, how
    many matched keys it swallows -- the readout that turns the guard
    from a silent suppressor into a dashboard line ('the 10:03 ALTER
    on db0.t1 is blocking N reconciliations; ship the producer schema
    refresh').  Windows that quarantine nothing still appear (n = 0):
    an open window with zero traffic yet is still an open risk.

    Shape (r11): per-window counts come from BOUNDARY PREFIX SUMS over
    the sorted per-table coordinate line -- n(window) = (#keys with
    coord < win_to, or all keys when open) minus (#keys with coord <
    win_from) -- instead of the former key x window broadcast join
    whose intermediate was |keys| x |windows-per-table| (113M rows at
    sf0.1; see _key_window_sweep).  Each window contributes two probe
    rows, each key one weight row; one running sum per table ordered
    by (pos, probes AFTER boundaries -- a key AT a boundary coordinate
    is >= win_from but not < win_to) reads both cumulative counts.
    Linear in keys + windows; zero-traffic windows fall out with n = 0
    because their probe rows exist regardless.  Returns (schema_name,
    table_name, win_from, win_to, n_quarantined)."""
    from .ddl import binlog_coord

    matched = binlog_payload.select(*KEY).join(avro_payload.select(*KEY), KEY)
    kt = matched.join(key_tables, KEY, "left")
    tbl = ["schema_name", "table_name"]
    # NULL win_to (open window) can't be a grouping key: surrogate
    wt = F.coalesce(F.col("win_to"), F.lit("~open~"))
    keys = kt.select(
        *tbl,
        binlog_coord(F.col("binlog_file"), F.col("binlog_position")).alias(
            "__pos"
        ),
        F.lit(1).cast("long").alias("__w"),
        F.lit(1).alias("__is_key"),
        F.lit(None).cast("string").alias("__wfrom"),
        F.lit(None).cast("string").alias("__wt"),
        F.lit(None).cast("string").alias("__kind"),
    )
    w_id = [F.col("win_from").alias("__wfrom"), wt.alias("__wt")]
    probes = drift_windows.select(
        *tbl,
        F.col("win_from").alias("__pos"),
        F.lit(0).cast("long").alias("__w"),
        F.lit(0).alias("__is_key"),
        *w_id,
        F.lit("from").alias("__kind"),
    ).unionByName(
        drift_windows.filter(F.col("win_to").isNotNull()).select(
            *tbl,
            F.col("win_to").alias("__pos"),
            F.lit(0).cast("long").alias("__w"),
            F.lit(0).alias("__is_key"),
            *w_id,
            F.lit("to").alias("__kind"),
        )
    )
    # de-skewed two-phase prefix sum (r12, _ranged_running_sums): the
    # per-table cumulative AND total key counts come from the same
    # bucketed pass, so the hot table's line spreads across tasks
    swept = (
        _ranged_running_sums(
            keys.unionByName(probes),
            tbl,
            ["__pos", "__is_key"],
            ["__w"],
            with_totals=True,
        )
        .select(
            *tbl,
            "__is_key",
            "__wfrom",
            "__wt",
            "__kind",
            F.col("__cum___w").alias("__cum"),
            F.col("__tot___w").alias("__tot"),
        )
        .filter(F.col("__is_key") == 0)
    )
    per_win = swept.groupBy(*tbl, "__wfrom", "__wt").agg(
        F.max(F.when(F.col("__kind") == "from", F.col("__cum"))).alias(
            "__cum_from"
        ),
        F.max(F.when(F.col("__kind") == "to", F.col("__cum"))).alias(
            "__cum_to"
        ),
        F.max("__tot").alias("__tot"),
    )
    return per_win.select(
        "schema_name",
        "table_name",
        F.col("__wfrom").alias("win_from"),
        F.when(F.col("__wt") != "~open~", F.col("__wt")).alias("win_to"),
        (
            F.coalesce(F.col("__cum_to"), F.col("__tot"))
            - F.col("__cum_from")
        ).alias("n_quarantined"),
    )


def payload_diff_summary(diff: DataFrame, approx: bool = False) -> DataFrame:
    """Operational rollup of payload_diff findings: one row per
    (column, status) with the finding count and how many distinct keys
    it touches -- the dashboard view that tells 'one column drifted
    everywhere' (codec/schema bug) from 'many columns on few keys'
    (replay corruption).  One map-side-combined aggregate over the
    findings stream; ``approx=True`` swaps the exact distinct-key
    count for approx_count_distinct when 100 TB group widths make the
    exact count's per-group key set too heavy (same switch pattern as
    latency_stats).  Returns (column, status, n_findings, n_keys)."""
    key = F.concat_ws("/", *KEY)
    n_keys = (
        F.approx_count_distinct(key) if approx else F.count_distinct(key)
    )
    return diff.groupBy("column", "status").agg(
        F.count("*").alias("n_findings"),
        n_keys.alias("n_keys"),
    )


# --- CDC feed health checks (ops tier, round 6) ----------------------------

def gtid_gaps(prepared_binlog: DataFrame) -> DataFrame:
    """GTID sequence-gap detection over the prepared binlog feed: per
    source server UUID, ranges of GTID sequence numbers (GNOs) that
    never reached the feed -- the lost-transaction check a CDC operator
    runs before trusting a diff (the reference has no equivalent; a
    missing transaction there just becomes an unexplained finding).

    Shape: parse (sid, gno) off ``gtid_next``, distinct (several events
    share one transaction's GTID), one per-SID ordered window for the
    lag.  MySQL GNOs are dense and strictly increasing PER SERVER UUID,
    so the per-SID sort is inherent to the question; at 100 TB the
    window is still one shuffle whose partition count is the (small)
    server count -- if a single server's history exceeds an executor,
    pre-aggregate per GNO-block (min/max/count per ``gno div B``) and
    scan only the blocks whose count < span, which preserves this
    operator's output exactly.  Returns (sid, gap_start, gap_end,
    n_missing) ordered ranges."""
    g = (
        prepared_binlog.filter(F.col("gtid_next").contains(":"))
        .select(
            F.substring_index("gtid_next", ":", 1).alias("sid"),
            F.substring_index("gtid_next", ":", -1).cast("long").alias("gno"),
        )
        .filter(F.col("gno").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("sid").orderBy("gno")
    prev = F.lag("gno").over(w)
    return (
        g.withColumn("__prev", prev)
        .filter(F.col("__prev").isNotNull() & (F.col("gno") > F.col("__prev") + 1))
        .select(
            "sid",
            (F.col("__prev") + 1).alias("gap_start"),
            (F.col("gno") - 1).alias("gap_end"),
            (F.col("gno") - F.col("__prev") - 1).alias("n_missing"),
        )
    )


def order_audit(binlog_events: DataFrame) -> DataFrame:
    """Per-file monotonicity audit of the RAW binlog feed (before any
    cleaning -- that is where an ordering bug must be caught): an
    inversion is an event whose log_position is below the running
    maximum of the positions before it (in line order), which is how
    zeroed positions, rewound readers, and interleaved copies manifest.
    One per-file window over (line_no); the partition is a single
    binlog segment, bounded by rotation -- the same unit every decode
    task holds in memory anyway.  Returns (binlog_file, n_events,
    n_inversions, min_pos, max_pos)."""
    df = binlog_events.filter(
        F.col("binlog_file").isNotNull() & (F.col("binlog_file") != "")
    )
    w = (
        Window.partitionBy("binlog_file")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_max = F.max("log_position").over(w)
    return (
        df.withColumn("__inv", (F.col("log_position") < run_max).cast("int"))
        .groupBy("binlog_file")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.coalesce(F.col("__inv"), F.lit(0))).alias("n_inversions"),
            F.min("log_position").alias("min_pos"),
            F.max("log_position").alias("max_pos"),
        )
    )


def lag_timeline(matched: DataFrame, bucket_ms: int = 60_000) -> DataFrame:
    """Replication-lag trend: per wall-clock bucket of the avro commit
    time, matched-pair count and p50/p99 of the signed lag -- the
    operational view that separates a one-off spike from a drifting
    replica.  One map-side-combinable aggregate keyed by (minute)
    buckets after the shared matched join; deltas are integer millis so
    the R-7 percentiles land on .0/.5 exactly and cross-engine rounding
    is a formality.  Returns (bucket_ms, n, p50_ms, p99_ms)."""
    b = (F.floor(F.col("source_timestamp") / bucket_ms) * bucket_ms).alias(
        "bucket_ms"
    )
    return (
        matched.filter(F.col("ts_delta_ms").isNotNull())
        .groupBy(b)
        .agg(
            F.count("*").alias("n"),
            F.round(F.percentile(F.col("ts_delta_ms"), F.lit(0.5)), 6).alias(
                "p50_ms"
            ),
            F.round(F.percentile(F.col("ts_delta_ms"), F.lit(0.99)), 6).alias(
                "p99_ms"
            ),
        )
    )


def rotate_chain_audit(rotates: DataFrame) -> DataFrame:
    """Rotation-chain audit (r6 verdict item 5): the reference consumes
    segments in `ls -v` order and trusts that listing to be complete
    (comparator.sh:85-100); this operator makes the trust checkable.
    Input = one row per segment file from read_binlog_rotate_dir
    (binlog_file, rotate_next, rotate_pos); each closed file's
    ROTATE_EVENT must name EXACTLY the next file present in the
    directory.  Statuses:

      OK             rotate_next == the next listed file
      ACTIVE_TAIL    last file, no rotate -- the segment still being
                     written (or the feed stopped cleanly)
      CHAIN_GAP      rotate names a file the listing doesn't have next
                     (a segment was dropped/lost between rotations)
      MISSING_ROTATE a non-final file without a rotate (truncated tail
                     or foreign bytes)

      FOREIGN        filename carries no numeric suffix -- not a
                     binlog segment (a stray README, an editor
                     backup); excluded from the chain window so it
                     can neither become someone's expected_next nor
                     absorb ACTIVE_TAIL

    The frame is FILE-cardinality (one row per segment -- bounded by
    rotation policy, ~100k rows for 100 TB of binlogs), so the single
    global lead() window is metadata-sized, never data-sized.  The
    listing order is NATURAL (`ls -v`): (name prefix, numeric suffix)
    -- plain lexicographic ordering inverts at the index rollover
    mysql-bin.999999 -> mysql-bin.1000000 and would report false
    CHAIN_GAPs on an intact chain.  Names WITHOUT a numeric suffix
    route to FOREIGN before the window (the r7 advisory: a NULL sort
    key ordered differently across engines and could fabricate
    engine-divergent CHAIN_GAPs), so the window's ordering key is
    total and engine-identical for arbitrary listings.
    Returns (binlog_file, rotate_next, expected_next, status)."""
    # no-match extracts '' -- try_cast maps it to NULL instead of the
    # ANSI cast error (the driver session runs ANSI ON)
    raw_num = F.regexp_extract(F.col("binlog_file"), r"(\d+)$", 1)
    pfx = F.regexp_replace(F.col("binlog_file"), r"\d+$", "")
    base = rotates.withColumn("__num", raw_num.try_cast("long")).withColumn(
        "__pfx", pfx
    )
    segs = base.filter(F.col("__num").isNotNull())
    w = Window.orderBy("__pfx", "__num", "binlog_file")
    nxt = F.lead("binlog_file").over(w)
    chain = segs.select(
        "binlog_file",
        "rotate_next",
        nxt.alias("expected_next"),
        F.when(
            F.col("rotate_next").isNull() & nxt.isNull(), F.lit("ACTIVE_TAIL")
        )
        .when(F.col("rotate_next").isNull(), F.lit("MISSING_ROTATE"))
        .when(F.col("rotate_next") == nxt, F.lit("OK"))
        .otherwise(F.lit("CHAIN_GAP"))
        .alias("status"),
    )
    foreign = base.filter(F.col("__num").isNull()).select(
        "binlog_file",
        "rotate_next",
        F.lit(None).cast("string").alias("expected_next"),
        F.lit("FOREIGN").alias("status"),
    )
    return chain.unionByName(foreign)


def resume_bookmarks(binlog_prepared: DataFrame) -> DataFrame:
    """Per-file resume bookmarks over the PREPARED feed: the
    checkpoint a restarting CDC consumer stores -- last position, last
    GTID (by feed order), and the event count that certifies how much
    of the file was consumed.  One map-side-combined aggregate; at
    100 TB this is the metadata-sized job you run after every
    ingestion wave, and `cdc_gtid_gaps` then audits the bookmarks'
    GTID sequence for holes.

    Returns (binlog_file, n_events, last_position, last_line_no,
    last_gtid)."""
    last = F.max(
        F.struct(F.col("line_no"), F.col("gtid_next").alias("g"))
    )
    return (
        binlog_prepared.groupBy("binlog_file")
        .agg(
            F.count("*").alias("n_events"),
            F.max("binlog_position").alias("last_position"),
            last.alias("__last"),
        )
        .select(
            "binlog_file",
            "n_events",
            "last_position",
            F.col("__last.line_no").alias("last_line_no"),
            F.col("__last.g").alias("last_gtid"),
        )
    )


def transaction_summary(binlog_events: DataFrame) -> DataFrame:
    """TRANSACTION reassembly over the event feed: group events by
    GTID into the unit replication actually applies -- per transaction,
    its DML row-event count, tables touched, position bounds, and
    whether an XID commit marker arrived (``committed``).  An
    uncommitted transaction at the feed tail is normal (still open); an
    uncommitted one in the middle is a torn write the downstream
    should quarantine -- exactly the risk the reference's XID-joinable
    quirk (SURVEY Q3/Q5) papers over by joining XID rows silently.

    One map-side-combined aggregate, transaction-cardinality output;
    distinct-table counting rides a collect_set bounded by the
    per-transaction table fan-out (small by construction -- a
    transaction touches the tables one statement batch touches).
    Returns (gtid, n_events, n_dml, n_tables, first_position,
    last_position, committed)."""
    is_dml = F.col("event_type").isin(
        "WriteRowsEventV2", "UpdateRowsEventV2", "DeleteRowsEventV2"
    )
    return (
        binlog_events.filter(
            F.col("gtid_next").isNotNull() & (F.col("gtid_next") != "")
        )
        .groupBy(F.col("gtid_next").alias("gtid"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(is_dml.cast("long")).alias("n_dml"),
            F.size(
                F.array_distinct(
                    F.collect_list(
                        F.when(
                            F.col("table").isNotNull()
                            & (F.col("table") != ""),
                            F.col("table"),
                        )
                    )
                )
            ).cast("long").alias("n_tables"),
            F.min("log_position").alias("first_position"),
            F.max("log_position").alias("last_position"),
            F.max(
                (F.col("event_type") == "XID").cast("int")
            ).cast("boolean").alias("committed"),
        )
    )


def gtid_set_summary(prepared_binlog: DataFrame) -> DataFrame:
    """``gtid_executed`` as data: per source server UUID, the APPLIED
    GNOs compressed into maximal contiguous intervals -- the exact
    representation MySQL replication exchanges (``uuid:1-5:7-9``) and
    the resume token a CDC consumer publishes to peers.  The
    complement of gtid_gaps over the same feed: gaps are what's
    missing, this is what's held.

    Shape: distinct (sid, gno), then the ISLANDS trick -- ``gno -
    row_number()`` is constant exactly within a contiguous run -- so
    interval assembly is one window plus one aggregate, no self-join,
    no iteration; output is interval-cardinality (gaps + 1 per
    server), metadata-sized at any feed size.  The same 100 TB note as
    gtid_gaps applies: the per-SID window shuffles by server count,
    and a per-GNO-block pre-aggregate preserves the output if one
    server's history outgrows an executor.  Returns (sid,
    interval_start, interval_end, n_gnos)."""
    g = (
        prepared_binlog.filter(F.col("gtid_next").contains(":"))
        .select(
            F.substring_index("gtid_next", ":", 1).alias("sid"),
            F.substring_index("gtid_next", ":", -1).cast("long").alias("gno"),
        )
        .filter(F.col("gno").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("sid").orderBy("gno")
    island = (F.col("gno") - F.row_number().over(w)).alias("__island")
    return (
        g.select("sid", "gno", island)
        .groupBy("sid", "__island")
        .agg(
            F.min("gno").alias("interval_start"),
            F.max("gno").alias("interval_end"),
            F.count("*").alias("n_gnos"),
        )
        .select("sid", "interval_start", "interval_end", "n_gnos")
    )


def snapshot_at_watermark(binlog_events: DataFrame) -> DataFrame:
    """The consistency watermark APPLIED: the manifest of the
    consistent multi-table snapshot -- per (source_uuid, schema,
    table), only the events at-or-below that source's watermark count,
    and the manifest records where the cut landed (last applied GNO
    and log position).  This is the frame a snapshot exporter actually
    ships: every table of one source cut at the SAME transaction
    horizon, so no cross-table read skew (consistency_watermark is the
    audit; this is the action).

    Same two-aggregate shape: the per-source watermark is a
    table-cardinality broadcast, the cut is one filtered aggregate over
    the feed -- no windows, map-side combined.  Returns (source_uuid,
    schema, table, watermark_gno, n_rows, last_gno, last_position)."""
    g = binlog_events.filter(
        F.col("gtid_next").isNotNull()
        & (F.col("gtid_next") != "")
        & F.col("table").isNotNull()
        & (F.col("table") != "")
    ).select(
        F.split(F.col("gtid_next"), ":").getItem(0).alias("source_uuid"),
        "schema",
        "table",
        F.split(F.col("gtid_next"), ":")
        .getItem(1)
        .cast("long")
        .alias("gno"),
        "log_position",
    )
    per = g.groupBy("source_uuid", "schema", "table").agg(
        F.max("gno").alias("max_gno")
    )
    wm = per.groupBy("source_uuid").agg(
        F.min("max_gno").alias("watermark_gno")
    )
    return (
        g.join(F.broadcast(wm), "source_uuid")
        .filter(F.col("gno") <= F.col("watermark_gno"))
        .groupBy("source_uuid", "schema", "table", "watermark_gno")
        .agg(
            F.count("*").alias("n_rows"),
            F.max("gno").alias("last_gno"),
            F.max("log_position").alias("last_position"),
        )
    )


def consistency_watermark(binlog_events: DataFrame) -> DataFrame:
    """Cross-table CONSISTENCY WATERMARK: per GTID SOURCE, the highest
    sequence number every table's feed has fully applied -- the number
    a multi-table snapshot must cut at, because cutting any higher
    reads table A at a transaction table B hasn't applied yet (the
    classic CDC fan-out consistency problem; the reference compares
    one table and never faces it).

    GNOs only share a number line WITHIN one server UUID (the r7
    advisory: on a multi-source feed, comparing GNOs across UUIDs is
    meaningless), so the watermark partitions by the GTID's UUID
    prefix -- the per-source watermark SET is what a multi-source
    snapshot cuts at, exactly like a gtid_executed set.

    Two aggregates over the feed: per-(uuid, schema, table) max
    applied GNO and event count; the watermark = min of those maxima
    within the uuid (a table-cardinality frame, broadcast back); then
    a conditional count of each table's events at-or-below its uuid's
    watermark.  Returns (source_uuid, schema, table, max_gno,
    watermark_gno, n_events, n_at_watermark, holds_watermark) --
    holds_watermark marks the laggard(s) pinning each source's
    snapshot point."""
    from ..functions.caching import scoped_cache

    # both aggregates read the same filtered projection; cache it so
    # the feed lineage scans once, not twice
    g = scoped_cache(
        binlog_events.filter(
            F.col("gtid_next").isNotNull()
            & (F.col("gtid_next") != "")
            & F.col("table").isNotNull()
            & (F.col("table") != "")
        ).select(
            F.split(F.col("gtid_next"), ":").getItem(0).alias("source_uuid"),
            "schema",
            "table",
            F.split(F.col("gtid_next"), ":")
            .getItem(1)
            .cast("long")
            .alias("gno"),
        )
    )
    per = g.groupBy("source_uuid", "schema", "table").agg(
        F.max("gno").alias("max_gno"), F.count("*").alias("n_events")
    )
    wm = per.groupBy("source_uuid").agg(
        F.min("max_gno").alias("watermark_gno")
    )
    applied = (
        g.join(F.broadcast(wm), "source_uuid")
        .filter(F.col("gno") <= F.col("watermark_gno"))
        .groupBy("source_uuid", "schema", "table")
        .agg(F.count("*").alias("n_at_watermark"))
    )
    return (
        per.join(F.broadcast(wm), "source_uuid")
        .join(applied, ["source_uuid", "schema", "table"], "left")
        .select(
            "source_uuid",
            "schema",
            "table",
            "max_gno",
            "watermark_gno",
            "n_events",
            F.coalesce("n_at_watermark", F.lit(0)).alias("n_at_watermark"),
            (F.col("max_gno") == F.col("watermark_gno")).alias(
                "holds_watermark"
            ),
        )
    )


def table_scorecard(
    binlog_prepared: DataFrame,
    avro_prepared: DataFrame,
    cfg: CompareConfig = CompareConfig(),
) -> DataFrame:
    """Per-(schema, table) reconciliation scorecard: the reference's
    scalar summary counters (compare_timestamps.go:266-280) broken out
    by the table the change landed in -- the ops view that says WHICH
    table's feed is unhealthy, not just that something is.

    One pass over the shared ``diff_joined`` full-outer frame (no new
    scan or join) plus one map-side-combined aggregate; output is
    table-cardinality, so the rollup shuffle carries a handful of rows
    per task at any feed size.  Matched counts are avro-row
    granularity and BINLOG_ONLY counts DML events only, exactly like
    ``summary``.  Returns (schema_name, table_name, n_matched,
    n_ts_mismatch, n_gtid_mismatch, n_change_type_mismatch,
    n_avro_only, n_binlog_only, consistent)."""
    d = diff_joined(binlog_prepared, avro_prepared, cfg)
    has_avro = F.col("__has_avro").isNotNull()
    has_binlog = F.col("__has_binlog").isNotNull()
    matched = has_avro & has_binlog
    binlog_only_dml = (
        has_binlog & ~has_avro & F.col("event_type").endswith(_DML_SUFFIX)
    )
    cnt = lambda c: F.sum(c.cast("long")).alias  # noqa: E731
    out = (
        d.filter(has_avro | binlog_only_dml)
        .groupBy(
            F.coalesce(F.col("database"), F.col("binlog_schema")).alias(
                "schema_name"
            ),
            F.coalesce(F.col("table"), F.col("binlog_table")).alias(
                "table_name"
            ),
        )
        .agg(
            cnt(matched)("n_matched"),
            cnt(matched & F.col("ts_mismatch"))("n_ts_mismatch"),
            cnt(matched & F.col("gtid_mismatch"))("n_gtid_mismatch"),
            cnt(matched & F.col("change_type_mismatch"))(
                "n_change_type_mismatch"
            ),
            cnt(has_avro & ~has_binlog)("n_avro_only"),
            cnt(binlog_only_dml)("n_binlog_only"),
        )
    )
    return out.withColumn(
        "consistent",
        (F.col("n_ts_mismatch") == 0)
        & (F.col("n_change_type_mismatch") == 0)
        & (F.col("n_avro_only") == 0)
        & (F.col("n_binlog_only") == 0),
    )


def match_timeline(
    binlog_prepared: DataFrame,
    avro_prepared: DataFrame,
    cfg: CompareConfig = CompareConfig(),
    bucket_ms: int = 60_000,
) -> DataFrame:
    """Reconciliation health per time bucket: matched / mismatched /
    missing counts by minute -- the trend line that separates a
    steady-state tolerance problem from an outage window (every row
    missing after minute X).  Complements ``lag_timeline`` (which
    trends the lag VALUE over matched pairs only) by trending row
    presence itself.

    Bucket = the avro record's source_timestamp where one exists, else
    the binlog-side effective timestamp, so BINLOG_ONLY rows land in
    the minute the change was written.  One aggregate over the shared
    one-pass frame; bucket-cardinality output.  Returns (bucket_ms,
    n_matched, n_ts_mismatch, n_avro_only, n_binlog_only,
    match_rate)."""
    d = diff_joined(binlog_prepared, avro_prepared, cfg)
    has_avro = F.col("__has_avro").isNotNull()
    has_binlog = F.col("__has_binlog").isNotNull()
    matched = has_avro & has_binlog
    binlog_only_dml = (
        has_binlog & ~has_avro & F.col("event_type").endswith(_DML_SUFFIX)
    )
    bucket = (
        F.floor(
            F.coalesce(F.col("source_timestamp"), F.col("binlog_ms"))
            / F.lit(bucket_ms)
        )
        * F.lit(bucket_ms)
    ).cast("long")
    cnt = lambda c: F.sum(c.cast("long")).alias  # noqa: E731
    out = (
        d.filter(has_avro | binlog_only_dml)
        .groupBy(bucket.alias("bucket_ms"))
        .agg(
            cnt(matched)("n_matched"),
            cnt(matched & F.col("ts_mismatch"))("n_ts_mismatch"),
            cnt(has_avro & ~has_binlog)("n_avro_only"),
            cnt(binlog_only_dml)("n_binlog_only"),
        )
    )
    total = (
        F.col("n_matched") + F.col("n_avro_only") + F.col("n_binlog_only")
    )
    return out.withColumn(
        "match_rate", F.round(F.col("n_matched") / total, 6)
    )


def gtid_coverage(
    binlog_prepared: DataFrame,
    avro_prepared: DataFrame,
    cfg: CompareConfig = CompareConfig(),
) -> DataFrame:
    """Transaction-completeness audit: for every GTID in the binlog
    feed, did ALL of its DML rows land in the avro lake (FULL), some
    (PARTIAL -- the torn-transaction case a row-level diff reports as
    scattered BINLOG_ONLY findings without connecting them), or none
    (MISSING)?  The transaction-granularity rollup of the row-level
    comparison -- replication applies transactions, so this is the
    unit an operator actually replays.

    Two aggregates over the shared one-pass frame: per-key landed
    flags collapse first (duplicate avro rows for one binlog key
    cannot double-count), then the per-GTID fold; both map-side
    combine, output is transaction-cardinality.  Returns (gtid,
    n_rows, n_landed, status)."""
    d = diff_joined(binlog_prepared, avro_prepared, cfg)
    has_binlog = F.col("__has_binlog").isNotNull()
    dml = F.col("event_type").endswith(_DML_SUFFIX)
    per_key = (
        d.filter(
            has_binlog
            & dml
            & F.col("gtid_next").isNotNull()
            & (F.col("gtid_next") != "")
        )
        .groupBy(*KEY, "gtid_next")
        .agg(
            F.max(F.col("__has_avro").isNotNull().cast("long")).alias(
                "__landed"
            )
        )
    )
    per_tx = per_key.groupBy(F.col("gtid_next").alias("gtid")).agg(
        F.count("*").alias("n_rows"),
        F.sum("__landed").alias("n_landed"),
    )
    return per_tx.withColumn(
        "status",
        F.when(F.col("n_landed") == F.col("n_rows"), "FULL")
        .when(F.col("n_landed") == 0, "MISSING")
        .otherwise("PARTIAL"),
    )


def near_miss_keys(
    binlog_prepared: DataFrame,
    avro_prepared: DataFrame,
    tolerance: int = 16,
) -> DataFrame:
    """Near-miss key recovery: AVRO_ONLY and BINLOG_ONLY rows in the
    SAME file whose positions differ by at most ``tolerance`` bytes --
    the signature of a position-encoding drift between producers (one
    stamps the event start, the other the row-image offset), which a
    strict key join reports as two unrelated missing rows.  A matching
    GTID on both sides corroborates that the pair is one transaction
    (RECOVERABLE); without it the pair is only POSITIONAL.

    Scale shape: both inputs are the anti-join RESIDUE (small by the
    health of the feed, exactly when this audit matters); the
    tolerance join is the bucketed range-join pattern -- positions
    bucket by ``tolerance``, candidates come from an equi-join on
    (file, bucket) with the probe side exploded to its three adjacent
    buckets, and the |delta| <= tolerance residual filters -- never an
    inequality theta join.  Returns (binlog_file, avro_position,
    binlog_position, delta, gtid_match, status)."""
    ao = avro_only(binlog_prepared, avro_prepared).select(
        "binlog_file",
        F.col("binlog_position").alias("avro_position"),
        F.col("gtid").alias("__a_gtid"),
    )
    bo = binlog_only(binlog_prepared, avro_prepared).select(
        "binlog_file",
        F.col("binlog_position").alias("b_position"),
        F.col("gtid_next").alias("__b_gtid"),
    )
    probe = ao.withColumn(
        "__bucket",
        F.explode(
            F.array(
                F.floor(F.col("avro_position") / tolerance) - 1,
                F.floor(F.col("avro_position") / tolerance),
                F.floor(F.col("avro_position") / tolerance) + 1,
            )
        ),
    )
    build = bo.withColumn(
        "__bucket", F.floor(F.col("b_position") / tolerance)
    )
    j = probe.join(build, ["binlog_file", "__bucket"]).filter(
        F.abs(F.col("avro_position") - F.col("b_position")) <= tolerance
    )
    gtid_match = (
        F.col("__a_gtid").isNotNull()
        & (F.col("__a_gtid") != "")
        & (F.col("__a_gtid") == F.col("__b_gtid"))
    )
    return j.select(
        "binlog_file",
        "avro_position",
        F.col("b_position").alias("binlog_position"),
        (F.col("avro_position") - F.col("b_position")).alias("delta"),
        gtid_match.alias("gtid_match"),
        F.when(gtid_match, "RECOVERABLE").otherwise("POSITIONAL").alias(
            "status"
        ),
    ).distinct()


def multimaster_conflicts(
    changes: DataFrame, tolerance_ms: int = 3_600_000
) -> DataFrame:
    """Multi-master write-conflict detection: keys where consecutive
    writes come from DIFFERENT source servers within ``tolerance_ms``
    -- the active-active replication hazard (MySQL group replication /
    any multi-writer topology) where last-write-wins silently drops
    one side's update.  A key written by two masters hours apart is a
    normal failover; the SAME key flapping between masters inside the
    tolerance window is a conflict a human must adjudicate.

    Input contract: (key, writer, ts_ms, event_id) -- one row per
    write, ``writer`` the server UUID owning the GTID.

    Scale shape: one lag window PARTITIONED BY KEY (millions of small
    partitions, never a global sort) + one map-side-combinable hash
    aggregate per key; only conflicted keys survive the final filter,
    so output is incident-sized.  The writer census per key rides the
    same aggregate (count_distinct), no second pass.

    Returns per conflicted key: (key, n_writers, n_events,
    n_conflicts, first_conflict_ts_ms, last_conflict_ts_ms, writers
    -- the sorted distinct writer list, comma-joined).
    """
    w = Window.partitionBy("key").orderBy("ts_ms", "event_id")
    flagged = changes.select(
        "key",
        "writer",
        "ts_ms",
        (
            (F.col("writer") != F.lag("writer").over(w))
            & ((F.col("ts_ms") - F.lag("ts_ms").over(w)) <= tolerance_ms)
        ).alias("__conflict"),
    )
    per_key = flagged.groupBy("key").agg(
        F.count_distinct("writer").alias("n_writers"),
        F.count("*").alias("n_events"),
        F.sum(F.col("__conflict").cast("int")).alias("n_conflicts"),
        F.min(F.when(F.col("__conflict"), F.col("ts_ms"))).alias(
            "first_conflict_ts_ms"
        ),
        F.max(F.when(F.col("__conflict"), F.col("ts_ms"))).alias(
            "last_conflict_ts_ms"
        ),
        F.array_join(F.array_sort(F.collect_set("writer")), ",").alias(
            "writers"
        ),
    )
    return per_key.filter(F.col("n_conflicts") > 0)
