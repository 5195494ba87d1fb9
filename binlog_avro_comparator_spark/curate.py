"""Corpus-curation CLI: drive the training-data pipeline over a
documents parquet from the shell.

  python -m binlog_avro_comparator_spark.curate \\
      --docs /path/documents.parquet --out /path/cleaned \\
      [--max-repetition 0.2] [--max-contamination 0.34] [--cpus 8]

Writes the surviving documents (full rows) as parquet under --out and
prints one JSON summary line.  The filters compose exactly like the
oracle-checked ``corpus_curation_pipeline`` query (one shared
``curation_survivors``; see SCALE.md for the shuffle audit of each
stage): lazily, except for the two materialized stage boundaries and
the clustering rounds, which the whole run holds in one
``cache_scope()`` and releases after the write.
"""

from __future__ import annotations

import argparse
import json
import sys


def _out_partitions(docs) -> int:
    """Part files to write: one per ``spark.sql.files.maxPartitionBytes``
    of input (the split size of Spark's own scan), at least one -- a
    function of the input alone.  Left to the plan, the count is the
    partitioning of the span trim's last join, which AQE settles at run
    time: planned as a broadcast up front, it streams the 4-way spread
    of the survivors; turned into one later, it reads the sort-merge
    exchange's map output instead (1 partition here) -- so one input
    came out as 1 or 4 files from run to run."""
    size = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split = docs.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(1, -(-size // split))


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="binlog_avro_comparator_spark.curate")
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument("--out", required=True, help="output parquet directory")
    p.add_argument("--max-repetition", type=float, default=0.2)
    p.add_argument("--max-contamination", type=float, default=1.0 / 3.0)
    p.add_argument("--benchmark-max-id", type=int, default=10)
    p.add_argument(
        "--keep-benchmark",
        action="store_true",
        help="keep the benchmark/eval documents themselves in the output "
        "(default: dropped -- training corpora must exclude eval texts)",
    )
    p.add_argument(
        "--partition-by",
        default=None,
        help="column to partition the output parquet by (e.g. lang) -- "
        "the layout a per-language training mixture reads selectively",
    )
    p.add_argument(
        "--trim-spans",
        type=int,
        default=None,
        metavar="K",
        help="additionally trim word K-gram spans repeated across the "
        "surviving documents (exact-substring dedup materialization; "
        "rewrites text, whitespace-normalized)",
    )
    p.add_argument(
        "--boilerplate-segs",
        type=int,
        default=None,
        metavar="W",
        help="additionally drop every occurrence of non-overlapping "
        "W-word segments shared by >= --boilerplate-df surviving "
        "documents (CCNet-style boilerplate removal; runs before "
        "--trim-spans)",
    )
    p.add_argument("--boilerplate-df", type=int, default=5)
    p.add_argument(
        "--gopher",
        action="store_true",
        help="prepend the Gopher rule battery (word count / word length "
        "/ symbol ratio / alpha fraction / stopword rules) before the "
        "expensive stages",
    )
    p.add_argument(
        "--min-source-rep",
        type=float,
        default=None,
        metavar="RATE",
        help="drop documents whose source's corpus-level stopword rate "
        "is below RATE (domain-reputation cut, before dedup)",
    )
    p.add_argument(
        "--min-novelty",
        type=float,
        default=None,
        help="drop documents whose shingle-novelty score (fraction of "
        "their distinct shingles first seen in them) is below this",
    )
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from .operators.curation import curation_survivors
    from .session import get_spark

    # an injected session (tests, notebooks) is the caller's to manage;
    # only a session we created here gets stopped
    owns_session = spark is None
    if owns_session:
        spark = get_spark("corpus-curate", cpus=args.cpus)
        spark.sparkContext.setLogLevel("WARN")
    try:
        from pyspark.sql import Observation, functions as F

        from .functions.caching import cache_scope

        # the counters need no persist and no read-back (so the
        # zero-survivor case needs no guard): curate-in resolves with
        # the first job that scans the input -- the pre-filter boundary
        # when a pre-filter is on -- and curate-out with the write
        in_obs, out_obs = Observation("curate-in"), Observation("curate-out")
        # the scope releases every frame the stages cache or checkpoint
        # once the write has consumed them
        with cache_scope():
            docs = spark.read.parquet(args.docs)
            n_parts = _out_partitions(docs)
            survivors = curation_survivors(
                docs.observe(in_obs, F.count(F.lit(1)).alias("n")),
                max_repetition=args.max_repetition,
                max_contamination=args.max_contamination,
                benchmark_max_id=args.benchmark_max_id,
                drop_benchmark=not args.keep_benchmark,
                trim_spans_k=args.trim_spans,
                boilerplate_seg_words=args.boilerplate_segs,
                boilerplate_df_threshold=args.boilerplate_df,
                gopher_rules=args.gopher,
                min_source_stop_rate=args.min_source_rep,
                min_novelty=args.min_novelty,
            ).observe(out_obs, F.count(F.lit(1)).alias("n"))
            writer = survivors.repartition(n_parts).write.mode("overwrite")
            if args.partition_by:
                writer = writer.partitionBy(args.partition_by)
            writer.parquet(args.out)
        total, kept = in_obs.get["n"], out_obs.get["n"]
        print(
            json.dumps(
                {
                    "total_docs": total,
                    "kept_docs": kept,
                    "dropped_docs": total - kept,
                    "out": args.out,
                }
            )
        )
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
