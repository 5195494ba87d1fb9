"""Partition-balancing helpers shared by the corpus operators.

``spread_small_scan`` exists because the local test corpora arrive as
ONE parquet file -> one input split -> one task, which would serialize
all CPU-heavy per-row work (shingling, hashing) onto a single core.

The guard matters at scale: ``repartition()`` is a full shuffle of
every row, so applying it unconditionally to an input that is already
well-partitioned (a 100 TB corpus scan has tens of thousands of file
splits) would double the pipeline's I/O for zero benefit.  We only pay
the shuffle when the scan's own partition count is materially below the
cluster's parallelism -- i.e. exactly the single-file / few-file case
the helper exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .caching import checkpoint_partitions


def _scan_file_count(df: DataFrame) -> int | None:
    """Number of input splits under the frame's leaves, from the
    ANALYZED plan -- pure driver metadata (no job, no ``df.rdd``
    conversion, which would re-plan the query to RDD form on every
    guarded call).  A file relation counts its files; a frame
    materialized by ``scoped_checkpoint`` counts the partitions it was
    materialized in, so a frame spread once before its checkpoint is
    not round-robined again by every operator that reads it.  None
    when any leaf is neither (e.g. a local createDataFrame relation):
    the caller then assumes the input is small -- exactly the
    in-memory test-corpus case."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LogicalRelation":
                total += len(leaf.relation().location().inputFiles())
            elif leaf.nodeName() == "LogicalRDD" and (
                n := checkpoint_partitions(leaf)
            ) is not None:
                total += n
            else:
                return None
        return total
    except Exception:
        return None


def spread_small_scan(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Round-robin repartition ``df`` to the cluster's default
    parallelism, but ONLY if the input is materially under-split: fewer
    source FILES (or checkpoint partitions) than ``min_fraction`` of
    the default parallelism.
    Well-partitioned inputs (a 100 TB scan has tens of thousands of
    splits) pass through untouched -- no shuffle added to the plan.

    File count is a conservative lower bound on scan splits (large
    files split further by maxPartitionBytes, never merge below it
    while openCostInBytes stays default), so the guard can only
    over-trigger on inputs that are already cheap to reshuffle."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    threshold = max(1, int(target * min_fraction))
    n_files = _scan_file_count(df)
    if n_files is not None and n_files >= threshold:
        return df
    return df.repartition(target)
