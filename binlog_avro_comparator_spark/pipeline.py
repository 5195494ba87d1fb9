"""E1/E3-equivalent orchestration (SURVEY.md section 3).

The reference's comparator.sh chains three processes through files;
here the whole flow is one lazy Spark plan: read -> parse -> prepare ->
join -> compare -> findings/summary.  The intermediate JSONL file of
the reference becomes an *optional* materialization (resume point /
debugging), not a requirement.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from .operators import compare as C
from .operators.parse import parse_binlog_text, _rfc3339nano_trim
from .sources.binlog_text import read_parser_text
from .sources.jsonl import (
    read_avro_jsonl_ordered,
    read_binlog_jsonl_ordered,
    unwrap_avro,
)


@dataclass
class ComparisonResult:
    findings: DataFrame
    summary: DataFrame
    console: DataFrame | None = None
    #: per-change-type replication-lag profile (compare.latency_stats)
    #: over the matched pairs -- the operational report behind the
    #: tolerance band; lazy like every other member
    latency: DataFrame | None = None
    #: debug_log.txt twin (comparator.sh:32): the warn-and-skip channel
    #: as orderable text lines; write_debug_log persists it
    debug_log: DataFrame | None = None
    #: column-level payload findings (binlog row images vs avro
    #: payload.*) -- populated only on the binary-binlog path, where
    #: row images exist to compare; None elsewhere
    payload_findings: DataFrame | None = None


def run_comparison(
    spark: SparkSession,
    *,
    binlog_text_dir: str | None = None,
    binlog_jsonl: str | None = None,
    binlog_binary_dir: str | None = None,
    avro_jsonl: str,
    cfg: C.CompareConfig = C.CompareConfig(),
    materialize_binlog_jsonl: str | None = None,
) -> ComparisonResult:
    """Full pipeline from raw inputs to findings + summary.

    Binlog side comes from raw parser text (E1: stages S1-S4 + P1-P9),
    pre-normalized JSONL (E3: S7), or -- closing S2 -- raw binlog v4
    BYTES through the native binary decoder (no external parser).
    Avro side is the union-wrapped JSONL (S8 + R1).
    """
    n_sources = sum(
        x is not None for x in (binlog_text_dir, binlog_jsonl, binlog_binary_dir)
    )
    if n_sources != 1:
        raise ValueError(
            "provide exactly one of binlog_text_dir / binlog_jsonl / "
            "binlog_binary_dir"
        )
    # Spark matches cached plans by path, not content, and this run
    # caches frames over its inputs: drop what an earlier run on the
    # same paths cached, so rewritten inputs are read afresh (lazy --
    # no pass over the data)
    for path in (binlog_text_dir, binlog_jsonl, binlog_binary_dir, avro_jsonl):
        if path is not None:
            spark.catalog.refreshByPath(path)

    if binlog_binary_dir is not None:
        from .sources.binlog_binary import read_binlog_binary_dir

        binlog = read_binlog_binary_dir(spark, binlog_binary_dir)
    elif binlog_text_dir is not None:
        binlog = parse_binlog_text(read_parser_text(spark, binlog_text_dir)).drop(
            "extra", "orignal_commmit_timestamp"
        )
        if materialize_binlog_jsonl:
            binlog.write.mode("overwrite").json(materialize_binlog_jsonl)
            spark.catalog.refreshByPath(materialize_binlog_jsonl)
            binlog = spark.read.json(materialize_binlog_jsonl)
    else:
        # ordered reader: line_no is a real per-file ordinal, so the
        # last-write-wins dedup resolves duplicate keys to the same row
        # as the reference's sequential map overwrite (go:118,147).
        # (log_position is constant within a (file, position) dedup
        # partition, so it could never order the window.)
        raw = read_binlog_jsonl_ordered(spark, binlog_jsonl)
        binlog = raw.filter(raw["_corrupt_record"].isNull()).drop(
            "_corrupt_record", "orignal_commmit_timestamp"
        )

    # ordered avro reader: avro_line_no is the reference's lineNum
    # (compare_timestamps.go:169), quoted in every console finding
    araw = read_avro_jsonl_ordered(spark, avro_jsonl).cache()
    avro = unwrap_avro(araw.filter(araw["_corrupt_record"].isNull()))

    # binary path: the same bytes also carry row images -- surface the
    # payload-level diff (the check the reference declares columns for,
    # compare_timestamps.go:57-63, but never runs)
    payload_findings = None
    if binlog_binary_dir is not None:
        from .sources.binlog_binary import read_binlog_rows_dir
        from .sources.jsonl import unwrap_avro_payload

        payload_findings = C.payload_diff(
            C.prepare_binlog_payload(
                read_binlog_rows_dir(spark, binlog_binary_dir)
            ),
            C.prepare_avro(
                unwrap_avro_payload(araw.filter(araw["_corrupt_record"].isNull()))
            ),
        )

    # cached: findings, summary, and console are three independent
    # actions over the same prepared frames -- without the persist each
    # one re-runs the reads, parse windows, and dedup from scratch
    bp = C.prepare_binlog(binlog).cache()
    ap = C.prepare_avro(avro).cache()
    # summary's total_avro_records counts the RAW input including
    # malformed lines (compare_timestamps.go:169,280 counts every line),
    # hence araw (pre-corrupt-filter), not the unwrapped frame
    return ComparisonResult(
        findings=C.findings_onepass(bp, ap, cfg),
        summary=C.summary_onepass(araw, bp, ap, cfg),
        console=console_findings(bp, ap, cfg),
        latency=C.latency_stats(C.matched_pairs(bp, ap, cfg)),
        debug_log=debug_log_lines(
            binlog,
            avro,
            binlog_corrupt=(
                raw.filter(raw["_corrupt_record"].isNotNull())
                if binlog_jsonl is not None
                else None
            ),
            avro_corrupt=araw.filter(araw["_corrupt_record"].isNotNull()),
        ),
        payload_findings=payload_findings,
    )


def debug_log_lines(
    binlog: DataFrame,
    avro: DataFrame,
    binlog_corrupt: DataFrame | None = None,
    avro_corrupt: DataFrame | None = None,
) -> DataFrame:
    """The reference's ``debug_log.txt`` as data (comparator.sh:32,
    :123 collects the Go programs' stderr there): every warn-and-skip
    the pipeline performs, one row per skip, in the reference's
    Fprintf shapes --

      compare_timestamps.go:114  malformed binlog JSON line
      compare_timestamps.go:138  relevant binlog event missing
                                 binlog_file / log_position
      compare_timestamps.go:172  malformed Avro JSON line
      compare_timestamps.go:177  Avro record missing key fields

    Documented divergences: line numbers are per-file ordinals (the
    engine's order-as-data contract; the ordered JSONL reader's
    file_ord*2^40+pos encoding is decoded back to the in-file position,
    which equals Go's global lineNum for the reference's single
    binlog_metadata.json input), and the malformed-line detail is the
    raw line rather than Go's json-library error text.  Returns
    (src, line_ref, value); sort by (src, line_ref) to reproduce a
    deterministic log.  The frame is pure column functions over the
    already-read inputs -- computing it adds no extra source scan
    beyond the shared cached frames."""

    def _file_pos(col: F.Column) -> F.Column:
        # decode the sortable combined ordinal to the per-file position
        return F.pmod(col, F.lit(1 << 40))

    line_no = (
        F.coalesce(F.col("line_no"), F.lit(0))
        if "line_no" in binlog.columns
        else F.lit(0)
    )
    bad_key = (
        F.col("binlog_file").isNull()
        | (F.col("binlog_file") == "")
        | F.col("log_position").isNull()
        | (F.col("log_position") == 0)
    )
    relevant = F.col("event_type").endswith(C._DML_SUFFIX) | (
        F.col("event_type") == "XID"
    )
    parts = [
        binlog.filter(relevant & bad_key).select(
            F.lit(1).alias("src"),
            line_no.alias("line_ref"),
            F.format_string(
                "Warning: Skipping binlog event on line %d due to missing "
                "'binlog_file' or 'log_position'. Event: %s",
                _file_pos(line_no),
                F.to_json(
                    F.struct("event_type", "binlog_file", "log_position")
                ),
            ).alias("value"),
        ),
        avro.filter(
            F.col("binlog_file").isNull()
            | (F.col("binlog_file") == "")
            | F.col("binlog_position").isNull()
            | (F.col("binlog_position") == 0)
        ).select(
            F.lit(3).alias("src"),
            F.coalesce(F.col("avro_line_no"), F.lit(0)).alias("line_ref"),
            F.format_string(
                "Warning: Skipping Avro record on line %d due to missing "
                "'binlog_file' or 'binlog_position' in source_metadata.",
                F.coalesce(F.col("avro_line_no"), F.lit(0)),
            ).alias("value"),
        ),
    ]
    if binlog_corrupt is not None:
        bline = (
            F.coalesce(F.col("line_no"), F.lit(0))
            if "line_no" in binlog_corrupt.columns
            else F.lit(0)
        )
        parts.append(
            binlog_corrupt.select(
                F.lit(0).alias("src"),
                bline.alias("line_ref"),
                F.format_string(
                    "Warning: Skipping malformed binlog JSON line %d: %s",
                    _file_pos(bline),
                    F.col("_corrupt_record"),
                ).alias("value"),
            )
        )
    if avro_corrupt is not None:
        aline = (
            F.coalesce(F.col("avro_line_no"), F.lit(0))
            if "avro_line_no" in avro_corrupt.columns
            else F.lit(0)
        )
        parts.append(
            avro_corrupt.select(
                F.lit(2).alias("src"),
                aline.alias("line_ref"),
                F.format_string(
                    "Warning: Error unmarshalling Avro JSON line %d: (line: %s)",
                    aline,
                    F.col("_corrupt_record"),
                ).alias("value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_debug_log(debug_log: DataFrame, path: str) -> None:
    """Persist the debug channel as ONE text file under ``path`` (the
    comparator.sh single-file artifact shape): deterministic
    (src, line_ref) order, executor-side write -- coalesce(1) is a
    narrow concatenation of the already-small skip stream, never a
    shuffle of the inputs."""
    (
        debug_log.orderBy("src", "line_ref", "value")
        .select("value")
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def console_findings(
    bp: DataFrame, ap: DataFrame, cfg: C.CompareConfig = C.CompareConfig()
) -> DataFrame:
    """Per-discrepancy console lines in the reference's exact printf
    shapes (compare_timestamps.go:188-190,206-207,216-219,223-227,
    242-246,258-267) as a DataFrame -- one row per finding, multi-line
    findings as one string with embedded newlines, with sort columns
    (section, then avro line order / binlog key) so streaming them in
    order reproduces the report layout.

    Two documented divergences from Go byte-output: the parse-error
    line omits Go's library-internal error suffix, and binlog
    timestamps render at millisecond precision (the comparison itself
    is millis, compare_timestamps.go:213).  BINLOG_ONLY ordering is
    deterministic by key here; the reference iterates a Go map
    (random order)."""
    j = C.diff_joined(bp, ap, cfg)
    has_avro = F.col("__has_avro").isNotNull()
    has_binlog = F.col("__has_binlog").isNotNull()
    line_no = (
        F.coalesce(F.col("avro_line_no"), F.lit(0))
        if "avro_line_no" in j.columns
        else F.lit(0)
    )
    key = F.format_string("{%s %d}", F.col("binlog_file"), F.col("binlog_position"))
    parse_ok = F.col("binlog_ms").isNotNull()
    avro_rfc = _rfc3339nano_trim(F.timestamp_millis(F.col("source_timestamp")))
    binlog_rfc = _rfc3339nano_trim(F.timestamp_millis(F.col("binlog_ms")))

    def _f(cond: F.Column, ordi: int, text: F.Column) -> F.Column:
        return F.when(
            cond, F.struct(F.lit(ordi).alias("ord"), text.alias("text"))
        )

    findings = F.array(
        _f(
            has_avro & ~has_binlog,
            0,
            F.format_string(
                "AVRO_ONLY_BINLOG_KEY: Line %d. Key %s (DB: %s, Table: %s, Type: %s)"
                " -> No matching binlog event found.",
                line_no,
                key,
                F.col("database"),
                F.col("table"),
                F.col("change_type"),
            ),
        ),
        _f(
            has_avro & has_binlog & ~parse_ok,
            1,
            F.format_string(
                "ERROR: Line %d. Key %s. Could not parse binlog timestamp '%s' or '%s'.",
                line_no,
                key,
                F.coalesce(F.col("immediate_commmit_timestamp"), F.lit("")),
                F.coalesce(F.col("timestamp"), F.lit("")),
            ),
        ),
        _f(
            has_avro & has_binlog & parse_ok & F.col("ts_mismatch"),
            2,
            F.format_string(
                "MISMATCH (Timestamp): Line %d. Key %s\n"
                "  Avro TS: %s (Unix MS: %d)\n"
                "  Binlog TS: %s (Event Type: %s)",
                line_no,
                key,
                avro_rfc,
                F.col("source_timestamp"),
                binlog_rfc,
                F.col("event_type"),
            ),
        ),
        _f(
            F.col("gtid_mismatch"),
            3,
            F.format_string(
                "MISMATCH (GTID): Line %d. Key %s\n"
                "  Avro GTID: %s\n"
                "  Binlog GTID_NEXT: %s",
                line_no,
                key,
                F.col("gtid"),
                F.col("gtid_next"),
            ),
        ),
        _f(
            F.col("change_type_mismatch"),
            4,
            F.format_string(
                "MISMATCH (ChangeType): Line %d. Key %s\n"
                "  Avro ChangeType: %s\n"
                "  Inferred Binlog ChangeType (from %s): %s",
                line_no,
                key,
                F.col("change_type"),
                F.col("event_type"),
                F.col("inferred_change_type"),
            ),
        ),
        _f(
            has_binlog
            & ~has_avro
            & F.col("event_type").endswith(C._DML_SUFFIX),
            5,
            F.format_string(
                "BINLOG_ONLY (DML): Key %s (Event: %s, Schema: %s, Table: %s, TS: %s)"
                " -> No matching Avro record found.",
                key,
                F.col("event_type"),
                F.coalesce(F.col("binlog_schema"), F.lit("")),
                F.coalesce(F.col("binlog_table"), F.lit("")),
                F.coalesce(F.col("timestamp"), F.lit("")),
            ),
        ),
    )
    return j.select(
        F.when(has_avro, 0).otherwise(1).alias("section"),
        line_no.alias("line_ref"),
        F.col("binlog_file").alias("key_file"),
        F.col("binlog_position").alias("key_pos"),
        F.explode(F.filter(findings, lambda x: x.isNotNull())).alias("f"),
    ).select(
        "section",
        "line_ref",
        "key_file",
        "key_pos",
        F.col("f.ord").alias("ord"),
        F.col("f.text").alias("text"),
    )


def format_report(result: ComparisonResult) -> str:
    """S10-style console report (the DataFrames remain the real API)."""
    s = result.summary.collect()[0]
    lines = [
        "--- Comparison Summary ---",
        f"Total Avro Records Processed: {s.total_avro_records}",
        f"Total Matched by Binlog Key: {s.matched}",
        f"Total Timestamp Mismatches (within matched set): {s.ts_mismatches}",
        f"Avro Records with no Binlog Event match (by key): {s.avro_only}",
        f"Binlog DML Events with no Avro Record match (by key): {s.binlog_only}",
        "",
        (
            "CONCLUSION: All Avro records have matching binlog events, and "
            "timestamps/metadata are consistent."
            if s.consistent
            else "CONCLUSION: WARNING - There were discrepancies found during comparison."
        ),
    ]
    return "\n".join(lines)
