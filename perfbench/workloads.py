"""The benchmark workloads: one op each, driven through the package's
public entry points, with a setup-time expectation every op is checked
against and a traced decomposition into the package's layers."""

from __future__ import annotations

import glob
import contextlib
import json
import os
import statistics
import sys
from collections import Counter
from types import SimpleNamespace

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from feeds import GUARDED_COLUMNS, CurateFeed, ReplayFeed, TextCheckFeed, dir_bytes
from tracing import Tracer, layer_metrics

FINDING_KINDS = (
    "TIMESTAMP_PARSE_ERROR",
    "TIMESTAMP_MISMATCH",
    "GTID_MISMATCH",
    "CHANGE_TYPE_MISMATCH",
    "AVRO_ONLY_BINLOG_KEY",
    "BINLOG_ONLY_DML",
)


class CdcCheckText:
    """The CLI's E1 path: ``run_comparison`` over parser-text binlogs and
    the union-wrapped Avro JSONL, then what ``--findings-out`` adds:
    the findings JSON write, the summary collect and ``format_report``."""

    name = "cdc_check_text"
    n_events = 10_000
    warmup_ops = 0
    min_timed = 3

    def setup(self, spark, seed: int, work: str, tracer: Tracer | None = None) -> None:
        self.work = work
        self.feed = TextCheckFeed(seed, self.n_events)
        self.items = self.feed.items
        self.recipe = {
            "events": self.n_events,
            "binlog_events": self.feed.n_binlog_events,
            "avro_records": self.feed.n_avro_records,
            "binlog_files": len(self.feed.files),
        }

    def prepare(self, op: int) -> SimpleNamespace:
        tag = f"op{op:03d}"
        root = os.path.join(self.work, tag)
        text_dir, avro, n = self.feed.write(os.path.join(root, "in"), tag)
        return SimpleNamespace(
            op=op, root=root, in_bytes=n, tag=tag, text_dir=text_dir, avro=avro,
            findings=os.path.join(root, "out", "findings"),
        )

    def run(self, spark, inp: SimpleNamespace):
        from binlog_avro_comparator_spark.pipeline import format_report, run_comparison

        res = run_comparison(spark, binlog_text_dir=inp.text_dir, avro_jsonl=inp.avro)
        res.findings.write.mode("overwrite").json(inp.findings)
        summary = res.summary.collect()[0]
        return summary, format_report(res)

    def check(self, inp: SimpleNamespace, result) -> bool:
        summary, report = result
        want = self.feed.summary
        got = Counter()
        for path in glob.glob(os.path.join(inp.findings, "part-*")):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    r = json.loads(line)
                    got[(r["kind"], r["binlog_file"], r["binlog_position"],
                         r["detail"], r["counted"])] += 1
        return (
            all(summary[k] == v for k, v in want.items())
            and f"Total Matched by Binlog Key: {want['matched']}" in report
            and got == self.feed.expected_findings(inp.tag)
        )

    def out_bytes(self, inp: SimpleNamespace) -> int:
        return dir_bytes(os.path.join(inp.root, "out"))

    def batch_walls(self, timed: list) -> list[float]:
        # a batch check is a single batch
        return [wall for wall, result, _ in timed if result is not None]

    def trace(self, spark, tracer: Tracer, inp: SimpleNamespace) -> None:
        """One op as spans, in the order run_comparison composes it."""
        from binlog_avro_comparator_spark.operators import compare as C
        from binlog_avro_comparator_spark.operators.parse import parse_binlog_text
        from binlog_avro_comparator_spark.sources.binlog_text import read_parser_text
        from binlog_avro_comparator_spark.sources.jsonl import (
            read_avro_jsonl_ordered,
            unwrap_avro,
        )

        op, cfg = inp.op, C.CompareConfig()

        def binlog():
            return parse_binlog_text(read_parser_text(spark, inp.text_dir)).drop(
                "extra", "orignal_commmit_timestamp"
            )

        def araw():
            return read_avro_jsonl_ordered(spark, inp.avro)

        def avro():
            a = araw()
            return unwrap_avro(a.filter(a["_corrupt_record"].isNull()))

        tracer.force("sources.binlog_text", op, lambda: read_parser_text(spark, inp.text_dir))
        tracer.force("operators.parse", op, binlog, "sources.binlog_text")
        tracer.force("sources.jsonl", op, avro)
        tracer.force("prepare.binlog", op, lambda: C.prepare_binlog(binlog()), "operators.parse")
        tracer.force("prepare.avro", op, lambda: C.prepare_avro(avro()), "sources.jsonl")

        def diff() -> int:
            # cached like run_comparison: findings and summary share them
            spark.catalog.clearCache()
            a = araw().cache()
            bp = C.prepare_binlog(binlog()).cache()
            ap = C.prepare_avro(unwrap_avro(a.filter(a["_corrupt_record"].isNull()))).cache()
            kinds = C.findings_onepass(bp, ap, cfg).groupBy("kind").count().collect()
            C.summary_onepass(a, bp, ap, cfg).collect()
            counts = {r["kind"]: r["count"] for r in kinds}
            self._kinds = {k: counts.get(k, 0) for k in FINDING_KINDS}
            return sum(counts.values())

        tracer.run("operators.compare.diff", op, diff, "prepare.binlog")

        def sink() -> int:
            spark.catalog.clearCache()
            self.run(spark, inp)
            return sum(
                _count_lines(p) for p in glob.glob(os.path.join(inp.findings, "part-*"))
            )

        tracer.run("sink", op, sink, "operators.compare.diff")
        self._sink_bytes = dir_bytes(inp.findings)

    def layers(self, tracer: Tracer, timed: list) -> dict[str, float]:
        out = {}
        out.update(layer_metrics(tracer, "sources.binlog_text", ("sources.binlog_text",)))
        out.update(layer_metrics(tracer, "operators.parse", ("operators.parse",),
                                 ("sources.binlog_text",)))
        out.update(layer_metrics(tracer, "sources.jsonl", ("sources.jsonl",)))
        # normalize + last-write-wins dedup of both sides
        prepared = ("prepare.binlog", "prepare.avro")
        out.update(layer_metrics(tracer, "operators.compare.prepare", prepared,
                                 ("operators.parse", "sources.jsonl"),
                                 rows_in=("operators.parse", "sources.jsonl")))
        # the diff recomputes both prepared sides from scratch, so its
        # upstream is both prepare prefixes
        out.update(layer_metrics(tracer, "operators.compare.diff",
                                 ("operators.compare.diff",), prepared))
        for k, n in self._kinds.items():
            out[f"operators.compare.diff.kind.{k}"] = n
        out.update(layer_metrics(tracer, "sink", ("sink",), ("operators.compare.diff",)))
        out["sink.out_bytes"] = self._sink_bytes
        return out


CHUNK_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


class CdcFoldReplay:
    """``fold_sinks.maintain_guarded_payload_diff`` drains the events as
    event-time-ordered file-stream micro-batches into fresh state, then
    ``read_guarded_payload_diff`` is forced.  The static binlog side is
    built once at setup and kept as parquet."""

    name = "cdc_fold_replay"
    n_events = 4_000
    n_batches = 2
    # the op wall is still falling after six ops and the run budget has
    # no room to wait for it: every run times the same position on the
    # curve (op 1), after the cold op
    warmup_ops = 0
    min_timed = 1

    def setup(self, spark, seed: int, work: str, tracer: Tracer | None = None) -> None:
        from binlog_avro_comparator_spark.operators import compare as C
        from binlog_avro_comparator_spark.sources.binlog_binary import read_binlog_rows_dir

        self.work = work
        self.feed = ReplayFeed(seed, self.n_events)
        binlog_dir = self.feed.write_binlogs(os.path.join(work, "static", "binlog_binary"))
        if tracer is not None:
            tracer.force("sources.binlog_binary", -1,
                         lambda: read_binlog_rows_dir(spark, binlog_dir))
        rows = read_binlog_rows_dir(spark, binlog_dir).cache()
        self.static = os.path.join(work, "static")
        C.prepare_binlog_payload(rows).write.parquet(os.path.join(self.static, "bp"))
        _key_tables(rows).write.parquet(os.path.join(self.static, "kt"))
        rows.unpersist()
        self.items = self.n_events
        self.recipe = {
            "events": self.n_events,
            "batches": self.n_batches,
            "binlog_files": len(os.listdir(binlog_dir)),
            "binlog_bytes": dir_bytes(binlog_dir),
        }

    def static_frames(self, spark):
        return (
            spark.read.parquet(os.path.join(self.static, "bp")),
            spark.read.parquet(os.path.join(self.static, "kt")),
        )

    def prepare(self, op: int) -> SimpleNamespace:
        root = os.path.join(self.work, f"op{op:03d}")
        chunks = os.path.join(root, "in", "chunks")
        n = self.feed.write_chunks(chunks, self.n_batches, op)
        return SimpleNamespace(
            op=op, root=root, in_bytes=n, chunks=chunks,
            state=os.path.join(root, "out", "state"),
            ckpt=os.path.join(root, "out", "checkpoint"),
        )

    def run(self, spark, inp: SimpleNamespace):
        from binlog_avro_comparator_spark.streaming.fold_sinks import (
            maintain_guarded_payload_diff,
            read_guarded_payload_diff,
        )

        bp, kt = self.static_frames(spark)
        stream = (
            spark.readStream.schema(CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp.chunks)
        )
        q = maintain_guarded_payload_diff(stream, inp.state, inp.ckpt, bp, kt)
        try:
            if not q.awaitTermination(150):
                raise RuntimeError("replay drain exceeded 150 s")
            progress = q.recentProgress
        finally:
            q.stop()
        rows = read_guarded_payload_diff(spark, inp.state).collect()
        return rows, progress

    def check(self, inp: SimpleNamespace, result) -> bool:
        rows, progress = result
        got = Counter(tuple(r[c] for c in GUARDED_COLUMNS) for r in rows)
        batches = [p for p in progress if p["numInputRows"] > 0]
        return got == self.feed.expected and len(batches) == self.n_batches

    def out_bytes(self, inp: SimpleNamespace) -> int:
        return dir_bytes(os.path.join(inp.root, "out"))

    @staticmethod
    def _batches(timed: list) -> list[dict]:
        return [
            p["durationMs"]
            for _, result, _ in timed
            if result is not None
            for p in result[1]
            if p["numInputRows"] > 0
        ]

    def batch_walls(self, timed: list) -> list[float]:
        return [d["triggerExecution"] / 1000.0 for d in self._batches(timed)]

    def trace(self, spark, tracer: Tracer, inp: SimpleNamespace) -> None:
        """One op as spans, batch by batch in the order
        commit_guarded_diff_batch composes them, then the read."""
        from binlog_avro_comparator_spark.fixtures import derive_avro_payload_map
        from binlog_avro_comparator_spark.operators import compare as C
        from binlog_avro_comparator_spark.streaming.fold_sinks import (
            commit_ddl_batch,
            commit_guarded_diff_batch,
            read_guarded_payload_diff,
        )

        op = inp.op
        bp, kt = self.static_frames(spark)
        files = sorted(glob.glob(os.path.join(inp.chunks, "*.parquet")))
        for batch_id, path in enumerate(files):
            batch = spark.read.schema(CHUNK_SCHEMA).parquet(path)
            tracer.run(
                "fold_sinks.ddl", op,
                lambda: commit_ddl_batch(
                    spark, os.path.join(inp.state, "ddl"), batch, batch_id
                ),
            )
            tracer.force(
                "operators.compare.payload_diff", op,
                lambda: C.payload_diff(F.broadcast(bp), derive_avro_payload_map(batch)),
            )
            # the ddl step inside is a no-op once commit_ddl_batch has
            # committed this batch: the span is the three log writes
            tracer.run(
                "fold_sinks.logs", op,
                lambda: commit_guarded_diff_batch(
                    spark, inp.state, batch, batch_id, bp, kt
                ),
                "operators.compare.payload_diff",
            )
        self._files_per_batch = sum(
            len(fs) for _, _, fs in os.walk(inp.state)
        ) / len(files)
        self._state_bytes = dir_bytes(inp.state)
        self._out_bytes = dir_bytes(os.path.join(inp.root, "out"))
        # rows the folds left: the statement log's latest version, and
        # the three append-once logs
        with open(os.path.join(inp.state, "ddl", "LATEST")) as f:
            self._ddl_rows = parquet_rows(os.path.join(inp.state, "ddl", f.read().strip()))
        self._log_rows = sum(
            parquet_rows(os.path.join(inp.state, log)) for log in ("diff", "matched", "observed")
        )
        tracer.force(
            "fold_sinks.read", op, lambda: read_guarded_payload_diff(spark, inp.state),
            "fold_sinks.logs",
        )

    def layers(self, tracer: Tracer, timed: list) -> dict[str, float]:
        out = {}
        out.update(layer_metrics(tracer, "sources.binlog_binary", ("sources.binlog_binary",)))
        out.update(layer_metrics(tracer, "fold_sinks.ddl", ("fold_sinks.ddl",)))
        out.update(layer_metrics(tracer, "operators.compare.payload_diff",
                                 ("operators.compare.payload_diff",)))
        out.update(layer_metrics(tracer, "fold_sinks.logs", ("fold_sinks.logs",),
                                 ("operators.compare.payload_diff",)))
        out.update(layer_metrics(tracer, "fold_sinks.read", ("fold_sinks.read",)))
        out["fold_sinks.ddl.rows_out"] = self._ddl_rows
        out["fold_sinks.logs.rows_out"] = self._log_rows
        out["sink.out_bytes"] = self._out_bytes
        # a micro-batch's cost outside the fold itself (offsets, planning,
        # commit), from the timed ops' own progress reports
        out["streaming.trigger.self_s"] = statistics.median(
            (d["triggerExecution"] - d.get("addBatch", 0)) / 1000.0
            for d in self._batches(timed)
        )
        out["fold_sinks.files_per_batch"] = self._files_per_batch
        out["fold_sinks.state_bytes"] = self._state_bytes
        return out


def _count_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return sum(1 for _ in f)


def parquet_rows(path: str) -> int:
    return sum(
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _key_tables(rows):
    """key -> (schema, table) of the last-write-wins winner, with the
    same key filters and ordering as ``prepare_binlog_payload``."""
    eff = rows.filter(
        F.col("binlog_file").isNotNull()
        & (F.col("binlog_file") != "")
        & F.col("log_position").isNotNull()
        & (F.col("log_position") != 0)
    )
    return (
        eff.groupBy("binlog_file", F.col("log_position").alias("binlog_position"))
        .agg(
            F.max_by(
                F.struct(
                    F.col("schema").alias("schema_name"),
                    F.col("table").alias("table_name"),
                ),
                F.struct("event_no", "row_no"),
            ).alias("__st")
        )
        .select(
            "binlog_file",
            "binlog_position",
            F.col("__st.schema_name").alias("schema_name"),
            F.col("__st.table_name").alias("table_name"),
        )
    )


class CorpusCurate:
    """``curate.main(argv, spark=session)`` over a seeded corpus with the
    full recipe: Gopher rules, shingle novelty, repetition cap, near-dup
    canonicalization, contamination cap, benchmark drop and span
    trimming.  The thresholds make every stage keep most documents and
    drop some (``--trace 1`` reports each stage's keep ratio)."""

    name = "corpus_curate"
    n_docs = 500
    warmup_ops = 0
    min_timed = 1
    min_novelty, max_repetition, max_contamination, trim_spans = 0.02, 0.01, 0.05, 4
    COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")

    @property
    def argv(self) -> list[str]:
        return [
            "--gopher",
            "--min-novelty", str(self.min_novelty),
            "--max-repetition", str(self.max_repetition),
            "--max-contamination", str(self.max_contamination),
            "--trim-spans", str(self.trim_spans),
        ]

    def setup(self, spark, seed: int, work: str, tracer: Tracer | None = None) -> None:
        self.work = work
        self.feed = CurateFeed(seed, self.n_docs, {
            "min_novelty": self.min_novelty,
            "max_repetition": self.max_repetition,
            "max_contamination": self.max_contamination,
            "trim_spans": self.trim_spans,
        })
        self.items = self.n_docs
        # documents left after each stage
        self.recipe = {"argv": " ".join(self.argv), **self.feed.stages}

    def prepare(self, op: int) -> SimpleNamespace:
        root = os.path.join(self.work, f"op{op:03d}")
        docs = os.path.join(root, "in", "documents.parquet")
        n = self.feed.write(docs, op)
        return SimpleNamespace(
            op=op, root=root, in_bytes=n, docs=docs, out=os.path.join(root, "out", "cleaned")
        )

    def run(self, spark, inp: SimpleNamespace):
        from binlog_avro_comparator_spark import curate

        # the CLI prints its summary line; stdout is the benchmark's own
        with contextlib.redirect_stdout(sys.stderr):
            return curate.main(["--docs", inp.docs, "--out", inp.out, *self.argv], spark=spark)

    def check(self, inp: SimpleNamespace, result) -> bool:
        got = Counter(
            tuple(r[c] for c in self.COLUMNS) for r in pq.read_table(inp.out).to_pylist()
        )
        return result == 0 and got == self.feed.expected

    def out_bytes(self, inp: SimpleNamespace) -> int:
        return dir_bytes(os.path.join(inp.root, "out"))

    def batch_walls(self, timed: list) -> list[float]:
        # a batch curation is a single batch
        return [wall for wall, _, _ in timed]

    def trace(self, spark, tracer: Tracer, inp: SimpleNamespace) -> None:
        """One op as spans, in the order curation_survivors composes the
        stages, then the CLI's write."""
        from binlog_avro_comparator_spark.operators import dedup as D, textstats as T

        op = inp.op

        def docs():
            return spark.read.parquet(inp.docs)

        def gopher():
            d = docs()
            ok = T.gopher_quality_flags(d).filter(F.col("passes_gopher")).select("doc_id")
            return d.join(ok, on="doc_id", how="left_semi")

        def novel():
            stale = (
                D.shingle_novelty(docs())
                .filter(F.col("novelty") < self.min_novelty)
                .select("doc_id")
            )
            return gopher().join(stale, on="doc_id", how="left_anti")

        def rep_ok(d):
            return (
                T.repetition_scores(d)
                .filter(F.col("repetition_ratio") <= self.max_repetition)
                .select("doc_id")
            )

        def repetition():
            d = novel()
            return d.join(rep_ok(d), on="doc_id", how="left_semi")

        def canonical():
            d = novel()
            return D.dedup_keep_canonical(d).join(rep_ok(d), on="doc_id")

        def contamination():
            d = novel()
            bad = (
                T.contamination_scores(d)
                .filter(F.col("contamination") > self.max_contamination)
                .select("doc_id")
            )
            # the CLI drops the benchmark documents (ids below 10)
            return canonical().join(bad, on="doc_id", how="left_anti").filter(
                F.col("doc_id") >= 10
            )

        def spans():
            d = contamination()
            trimmed = D.remove_repeated_spans(d, k=self.trim_spans).select(
                "doc_id", F.col("text").alias("__t")
            )
            return d.join(trimmed, on="doc_id").withColumn("text", F.col("__t")).drop("__t")

        tracer.force("input", op, docs)
        tracer.force("operators.textstats.gopher", op, gopher, "input")
        tracer.force("operators.dedup.novelty", op, novel, "operators.textstats.gopher")
        tracer.force("operators.textstats.repetition", op, repetition,
                     "operators.dedup.novelty")
        tracer.force("operators.dedup.keep_canonical", op, canonical,
                     "operators.textstats.repetition")
        tracer.force("operators.textstats.contamination", op, contamination,
                     "operators.dedup.keep_canonical")
        tracer.force("operators.dedup.spans", op, spans, "operators.textstats.contamination")

        def sink() -> int:
            spark.catalog.clearCache()
            self.run(spark, inp)
            return parquet_rows(inp.out)

        tracer.run("sink", op, sink, "operators.dedup.spans")
        self._sink_bytes = dir_bytes(inp.out)

    def layers(self, tracer: Tracer, timed: list) -> dict[str, float]:
        out = {}
        chain = (
            "input",
            "operators.textstats.gopher",
            "operators.dedup.novelty",
            "operators.textstats.repetition",
            "operators.dedup.keep_canonical",
            "operators.textstats.contamination",
            "operators.dedup.spans",
        )
        for up, layer in zip(chain, chain[1:]):
            # every stage but the span trim drops whole documents
            rows_in = None if layer == "operators.dedup.spans" else (up,)
            out.update(layer_metrics(tracer, layer, (layer,), (up,), rows_in=rows_in))
        # the whole composition, forced as one plan (the last prefix)
        out.update(layer_metrics(tracer, "operators.curation", ("operators.dedup.spans",),
                                 ("input",)))
        out.update(layer_metrics(tracer, "sink", ("sink",), ("operators.dedup.spans",)))
        out["sink.out_bytes"] = self._sink_bytes
        return out


WORKLOADS = {w.name: w for w in (CdcCheckText, CdcFoldReplay, CorpusCurate)}

