"""Query registry: the driver contract surface.

``queries()`` maps names to (spark, sf_dir) -> DataFrame callables;
``oracle_sql()`` maps the same names to DuckDB SQL that computes the
identical result over the same parquet tables.  Column names/aliases
match pairwise -- the driver sorts columns by name before value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import oracle
from ..fixtures import (
    derive_avro_payload,
    derive_avro_rows,
    derive_binlog_events,
    derive_binlog_events_with_payload,
    derive_typed_avro_payload,
    derive_typed_rows,
    generate_parser_text_lines,
)
from ..functions.caching import (
    materialized,
    persisted,
    read_stored_parquet,
    scratch_dir,
)
from ..functions.zorder import zorder_key_n_sql, zorder_key_sql
from ..functions.hilbert import hilbert_sql_ctes
from ..sources.avro import DATASTREAM_AVRO_SCHEMA, read_avro_dir
from ..sources.avro_codec import encode_container
from ..operators.parse import parse_binlog_text
from ..operators import compare as C
from ..operators.analytics import (
    big_ticket_orders,
    brand_bracket_revenue,
    discounted_revenue,
    shipping_priority,
    small_quantity_revenue,
    supplier_part_counts,
    excess_quantity_suppliers,
    idle_rich_customers,
    important_parts,
    late_line_priority_mix,
    min_cost_supplier_per_part,
    nation_market_share,
    promo_revenue_share,
    returned_item_losses,
    top_revenue_supplier,
    volume_shipping,
    customer_nation_revenue,
    customer_order_distribution,
    data_quality_report,
    funnel_stages,
    hll_distinct_users,
    late_exclusive_suppliers,
    gap_fill_locf,
    late_shipment_orders,
    misra_gries_heavy_hitters,
    time_rollup,
    burst_minutes,
    value_anomalies,
    retention_cohorts,
    event_type_transitions,
    monthly_revenue_growth,
    high_value_customers,
    kmv_distinct_users,
    part_profit_by_nation,
    q1_pricing_summary,
    regional_supplier_volume,
    revenue_rollup,
    running_windows,
    top_revenue_orders,
    user_set_ops,
)
from ..operators.snapshot import apply_changes, snapshot_diff
from ..operators.multimodal import audio_features, image_features
from ..operators.dedup import (
    MINHASH_PRIME,
    SIMHASH_BITS,
    dedup_clusters,
    dedup_keep_canonical,
    exact_dedup,
    jaccard_pairs,
    levenshtein_near_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    remove_boilerplate_segments,
    remove_repeated_spans,
    repeated_span_stats,
    minhash_params,
    simhash_band_slices,
    simhash_fingerprints,
    simhash_near_pairs,
    shingle_novelty,
)
from ..operators.sessionize import sessionize
from ..operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
    cosine_topk_pandas,
    embedding_near_dup_pairs,
    plane_signs,
)
from ..operators.textstats import (
    clean_text,
    redact_pii,
    split_assignments,
    contamination_scores,
    corpus_vocab_topk,
    encode_token_ids,
    filter_by_source_reputation,
    fingerprints,
    lang_id,
    length_quantiles,
    quality_deciles,
    quality_scores,
    repetition_scores,
    doc_slugs,
    gopher_quality_flags,
    shard_assignments,
    source_reputation,
    stratified_sample,
    tfidf_top_terms,
    token_stats,
    type_token_ratio,
    inverted_index,
    term_pmi,
)
from ..session import ensure_session_conf
from ..sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


def _cdc_frames(spark: SparkSession, sf_dir: str):
    ensure_session_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    binlog = derive_binlog_events(ev)
    avro = derive_avro_rows(ev)
    return avro, C.prepare_binlog(binlog), C.prepare_avro(avro)


# --- extension queries -----------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_conf(spark)
    return load_table(spark, sf_dir, "documents")


# star-import surface for the family modules (underscore names
# included -- the registry re-exports everything)
__all__ = [_n for _n in list(globals()) if not _n.startswith('__')]
