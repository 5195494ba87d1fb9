"""The corpus-curation composition, shared by the oracle-checked
``corpus_curation_pipeline`` query and the ``curate`` CLI so the two
can never drift: repetition cap -> near-dup canonicalization ->
contamination cap (see SCALE.md for the per-stage shuffle audit).

The composition is a DAG, not a tree: every stage reads the corpus and
the last stages read the survivors twice, so one lazy plan would
re-expand the whole upstream once per reference.  Two stage boundaries
are therefore materialized once each, eagerly and with their lineage
cut (``scoped_checkpoint``): the corpus after the corpus-level
pre-filters (Gopher, source reputation, novelty), and the survivors
before boilerplate / span trimming -- the first only when a pre-filter
is on, the second only when a rewrite is on, so the default recipe
stays one lazy plan around the clustering fixpoint.  Both boundaries, and the clustering
fixpoint's rounds, are registered in ``functions.caching``; the caller
releases them with ``cache_scope()`` once it has consumed the result
(the ``curate`` CLI scopes its whole run)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.caching import scoped_checkpoint
from ..functions.partitioning import spread_small_scan
from .dedup import (
    dedup_keep_canonical,
    remove_boilerplate_segments,
    remove_repeated_spans,
    shingle_novelty,
)
from .textstats import (
    contamination_scores,
    filter_by_source_reputation,
    gopher_quality_flags,
    repetition_scores,
)


def curation_survivors(
    documents: DataFrame,
    max_repetition: float = 0.2,
    max_contamination: float = 1.0 / 3.0,
    benchmark_max_id: int = 10,
    drop_benchmark: bool = False,
    max_iter: int = 15,
    trim_spans_k: int | None = None,
    boilerplate_seg_words: int | None = None,
    boilerplate_df_threshold: int = 5,
    gopher_rules: bool = False,
    min_source_stop_rate: float | None = None,
    min_novelty: float | None = None,
) -> DataFrame:
    """Documents surviving all curation filters (full rows).

    ``drop_benchmark=True`` additionally removes the benchmark/eval
    documents themselves -- a TRAINING corpus must exclude the eval
    texts outright, not just partial leaks of them (the CLI defaults to
    dropping; the oracle-checked query keeps them for contract
    stability).

    ``trim_spans_k`` (off by default, preserving the oracle contract)
    additionally rewrites each surviving document's text through
    ``remove_repeated_spans(k=trim_spans_k)`` -- whole-document filters
    first, then span-level exact-substring trimming of what survives,
    the order the published recipe uses (no point trimming documents
    that are about to be dropped outright).  Note the trimmed text is
    whitespace-normalized (see remove_repeated_spans).

    ``boilerplate_seg_words`` (off by default, same contract note)
    runs ``remove_boilerplate_segments`` over the survivors FIRST --
    boilerplate (drop-everywhere) before span dedup (keep-first), so a
    shared footer cannot donate a 'keeper' copy that span trimming
    would preserve in one document.

    ``gopher_rules`` / ``min_source_stop_rate`` (off by default, same
    contract note) prepend the CHEAP gates -- the Gopher rule battery
    (zero-exchange projection) and the domain/source reputation cut
    (one ~#sources aggregate + broadcast) -- BEFORE the expensive
    dedup/contamination stages, the published-recipe ordering: rule
    filters first so clustering and shingling never touch documents a
    projection would have dropped.

    ``min_novelty`` (off by default, same contract note) drops
    documents whose shingle-novelty score -- the fraction of their
    distinct shingles first seen in THEM (dedup.shingle_novelty) --
    falls below the threshold: the marginal-contribution gate that
    catches recombined/templated text near-dup pair filters miss.
    Scored over the original corpus; too-short-to-shingle documents
    are kept (score undefined, not zero)."""
    # corpus-level signals (reputation, novelty) are computed over the
    # ORIGINAL frame by contract -- measuring them after other cuts
    # would make each document's score depend on filter ordering (and
    # let a spam source launder its rate by having its worst documents
    # removed first)
    if min_novelty is not None:
        stale = (
            shingle_novelty(documents)
            .filter(F.col("novelty") < min_novelty)
            .select("doc_id")
        )
    if min_source_stop_rate is not None:
        ok_src = filter_by_source_reputation(
            documents, min_stop_rate=min_source_stop_rate
        ).select("doc_id")
    if gopher_rules:
        ok = (
            gopher_quality_flags(documents)
            .filter(F.col("passes_gopher"))
            .select("doc_id")
        )
        documents = documents.join(ok, on="doc_id", how="left_semi")
    if min_source_stop_rate is not None:
        documents = documents.join(ok_src, on="doc_id", how="left_semi")
    if min_novelty is not None:
        # anti-join on the LOW-novelty set: documents too short to
        # shingle have no novelty row and are kept (score undefined,
        # not zero)
        documents = documents.join(stale, on="doc_id", how="left_anti")
    if gopher_rules or min_source_stop_rate is not None or min_novelty is not None:
        # boundary 1: repetition, clustering and contamination all read
        # the pre-filtered corpus -- computed once, spread once
        documents = scoped_checkpoint(spread_small_scan(documents))
    rep_ok = (
        repetition_scores(documents)
        .filter(F.col("repetition_ratio") <= max_repetition)
        .select("doc_id")
    )
    kept = dedup_keep_canonical(documents, max_iter=max_iter).join(rep_ok, on="doc_id")
    contaminated = (
        contamination_scores(documents, benchmark_max_id=benchmark_max_id)
        .filter(F.col("contamination") > max_contamination)
        .select("doc_id")
    )
    out = kept.join(contaminated, on="doc_id", how="left_anti")
    if drop_benchmark:
        out = out.filter(F.col("doc_id") >= benchmark_max_id)
    if boilerplate_seg_words is not None or trim_spans_k is not None:
        # boundary 2: the rewrites below join the survivors back onto
        # an operator over the survivors -- two references
        out = scoped_checkpoint(out)
    if boilerplate_seg_words is not None:
        deboiler = remove_boilerplate_segments(
            out,
            seg_words=boilerplate_seg_words,
            df_threshold=boilerplate_df_threshold,
        ).select("doc_id", F.col("text_clean").alias("__deboiler"))
        out = (
            out.join(deboiler, on="doc_id")
            .withColumn("text", F.col("__deboiler"))
            .drop("__deboiler")
        )
    if trim_spans_k is not None:
        # span df is computed over the SURVIVORS (a span repeated only
        # in already-dropped docs is not a duplicate in the output
        # corpus); full rows keep all their columns, text is replaced
        cleaned = remove_repeated_spans(out, k=trim_spans_k).select(
            "doc_id", F.col("text").alias("__trimmed")
        )
        out = (
            out.join(cleaned, on="doc_id")
            .withColumn("text", F.col("__trimmed"))
            .drop("__trimmed")
        )
    return out


def erasure_requests_sample(events: DataFrame, modulus: int = 101) -> DataFrame:
    """Deterministic stand-in for a right-to-be-forgotten request
    feed: the ~1/modulus of users whose portable 48-bit md5 hash is 0
    mod ``modulus``.  Real deployments replace this with the actual
    request table; everything downstream (erase / erasure_audit) only
    sees a (user_id) frame either way."""
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    return (
        events.select("user_id")
        .distinct()
        .filter(h % modulus == 0)
    )


def erase(df: DataFrame, key: str, requests: DataFrame) -> DataFrame:
    """The purge itself: LEFT ANTI join against the request set on the
    subject key.  The request side is broadcast (a deletion queue is
    small by law -- it drains on every sweep); the fact table streams
    through map-side, no shuffle, no sort -- at 100 TB this is a scan
    that rewrites surviving files, which is exactly what a compliance
    sweep over a data lake must be."""
    return df.join(
        F.broadcast(requests.select(F.col(requests.columns[0]).alias(key))),
        key,
        "left_anti",
    )


def erasure_audit(
    facts: list[tuple[str, DataFrame, str]], requests: DataFrame
) -> DataFrame:
    """Compliance evidence for a right-to-be-forgotten sweep: per fact
    table, total rows, rows purged, and distinct subjects actually hit
    -- the numbers the audit log must carry so "we deleted it" is a
    provable statement rather than a claim.

    Each table contributes ONE aggregate over a broadcast-flagged scan
    (the request set joins map-side, the count-distinct is over the
    tiny hit subset); audits union into a frame of len(facts) rows.
    Purge and audit read the same request frame, so the counts are the
    deltas the erase() pass produces by construction.  Returns
    (table_name, n_rows_total, n_rows_purged, n_subjects_purged)."""
    req = requests.select(
        F.col(requests.columns[0]).alias("__subject")
    ).withColumn("__hit", F.lit(True))
    audits = []
    for name, df, key in facts:
        flagged = df.select(F.col(key).alias("__subject")).join(
            F.broadcast(req), "__subject", "left"
        )
        audits.append(
            flagged.agg(
                F.count("*").alias("n_rows_total"),
                F.count(F.when(F.col("__hit"), 1)).alias("n_rows_purged"),
                F.count_distinct(
                    F.when(F.col("__hit"), F.col("__subject"))
                ).alias("n_subjects_purged"),
            ).select(
                F.lit(name).alias("table_name"),
                "n_rows_total",
                "n_rows_purged",
                "n_subjects_purged",
            )
        )
    out = audits[0]
    for a in audits[1:]:
        out = out.unionAll(a)
    return out
