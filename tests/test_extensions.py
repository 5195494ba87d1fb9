"""Unit tests for the dedup / similarity / text / sessionize operators."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F, types as T

from binlog_avro_comparator_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    shingles,
)
from binlog_avro_comparator_spark.operators.sessionize import sessionize
from binlog_avro_comparator_spark.operators.similarity import cosine_topk
from binlog_avro_comparator_spark.operators.textstats import (
    fingerprints,
    lang_id,
    token_stats,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)], DOCS_SCHEMA
    )


def test_exact_dedup(spark):
    df = _docs(spark, ["same text here", "same text here", "different"])
    out = {r.keep_doc_id: r.n_copies for r in exact_dedup(df).collect()}
    assert out == {0: 2, 2: 1}


def test_shingles_short_doc_empty(spark):
    df = _docs(spark, ["one two", "a b c d"])
    rows = shingles(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.shingle)
    assert 0 not in by_doc  # < 3 words -> no shingles (not bogus ones)
    assert sorted(by_doc[1]) == ["a b c", "b c d"]


def test_jaccard_identical_docs(spark):
    df = _docs(spark, ["the quick brown fox jumps", "the quick brown fox jumps", "zz yy xx ww vv"])
    rows = {(r.doc_a, r.doc_b): r for r in jaccard_pairs(df).collect()}
    assert rows[(0, 1)].jaccard == 1.0
    assert (0, 2) not in rows  # no shared shingle -> not a candidate


def test_lsh_finds_identical_docs(spark):
    df = _docs(spark, ["w1 w2 w3 w4 w5 w6", "w1 w2 w3 w4 w5 w6", "q1 q2 q3 q4 q5 q6"])
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(df).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_token_stats_and_lang(spark):
    df = _docs(spark, ["the cat is on the mat!", "le chat et la table des un"])
    ts = {r.doc_id: r for r in token_stats(df).collect()}
    assert ts[0].n_ws_tokens == 6
    assert ts[0].n_bpe_tokens == 7  # 'mat' + '!' split
    lg = {r.doc_id: r.lang_guess for r in lang_id(df).collect()}
    assert lg[0] == "en" and lg[1] == "fr"


def test_fingerprint_order_sensitive(spark):
    df = _docs(spark, ["a b c", "c b a", "a b c"])
    fp = {r.doc_id: r.fingerprint for r in fingerprints(df).collect()}
    assert fp[0] == fp[2]
    assert fp[0] != fp[1]  # rolling hash is order-sensitive


def test_cosine_topk_self_similarity(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [1.0, 0.0, 0.0], 0),   # identical to 0
            (2, [0.0, 1.0, 0.0], 1),   # orthogonal
            (3, [0.9, 0.1, 0.0], 0),   # close to 0
        ],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        ),
    )
    out = cosine_topk(emb, n_queries=1, k=3).collect()
    ranked = [(r.rank, r.neighbor_id, r.cos_sim) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0][1] == 1 and ranked[0][2] == 1.0  # identical vector first
    assert ranked[1][1] == 3                          # then the near one
    assert ranked[2][1] == 2 and ranked[2][2] == 0.0  # orthogonal last


def test_sessionize_gap_split(spark):
    base = 1_700_000_000_000_000  # epoch micros
    rows = [
        (1, base, 10, "click", 0.0, "{}"),
        (2, base + 60_000_000, 10, "click", 0.0, "{}"),            # +1 min: same session
        (3, base + 45 * 60_000_000, 10, "click", 0.0, "{}"),       # +45 min: new session
        (4, base, 20, "click", 0.0, "{}"),                          # other user
    ]
    ev = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts_us", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        ),
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    out = {(r.user_id, r.session_id): r.n_events for r in sessionize(ev).collect()}
    assert out == {(10, 1): 2, (10, 2): 1, (20, 1): 1}


def test_spread_small_scan_is_conditional(spark, tmp_path):
    from binlog_avro_comparator_spark.functions.partitioning import (
        _scan_file_count,
        spread_small_scan,
    )

    target = spark.sparkContext.defaultParallelism
    # a single-FILE scan gets spread to full parallelism
    spark.range(0, 100).coalesce(1).write.parquet(str(tmp_path / "single"))
    single = spark.read.parquet(str(tmp_path / "single"))
    assert _scan_file_count(single) == 1
    assert spread_small_scan(single).rdd.getNumPartitions() == target
    # a well-split scan passes through with NO shuffle added (identity)
    n_files = max(2, target)
    spark.range(0, 1000).repartition(n_files).write.parquet(str(tmp_path / "multi"))
    wide = spark.read.parquet(str(tmp_path / "multi"))
    assert _scan_file_count(wide) == n_files
    assert spread_small_scan(wide) is wide
    # filters/projections above the scan don't hide the file count
    assert _scan_file_count(wide.filter("id > 10").select("id")) == n_files
    # non-file inputs (in-memory test corpora) are assumed small
    assert _scan_file_count(spark.range(0, 100, 1, 1)) is None
    assert spread_small_scan(spark.range(0, 100, 1, 1)).rdd.getNumPartitions() == target
    local = spark.createDataFrame([(i,) for i in range(10)], "id long")
    assert _scan_file_count(local) is None
    # a checkpoint counts the partitions it was materialized in: spread
    # once before it, it is not round-robined again downstream
    from binlog_avro_comparator_spark.functions.caching import (
        cache_scope,
        scoped_checkpoint,
    )

    with cache_scope():
        spread = scoped_checkpoint(spread_small_scan(single))
        assert _scan_file_count(spread.filter("id > 10")) == target
        assert spread_small_scan(spread) is spread
        narrow = scoped_checkpoint(single)
        assert _scan_file_count(narrow) == 1
        assert spread_small_scan(narrow).rdd.getNumPartitions() == target


def test_simhash_band_slices_partition_bits():
    from binlog_avro_comparator_spark.operators.dedup import simhash_band_slices

    for bits, bands in [(48, 4), (48, 7), (48, 5), (64, 8)]:
        slices = simhash_band_slices(bits, bands)
        assert len(slices) == bands
        covered = []
        for off, width in slices:
            assert width >= 1
            covered.extend(range(off, off + width))
        assert covered == list(range(bits))  # disjoint, exhaustive, ordered


def test_simhash_near_pairs_exact_recall(spark):
    """With bands = max_hamming + 1 (default), banding must find EVERY
    pair within the hamming radius -- verified against brute force."""
    from itertools import combinations

    from binlog_avro_comparator_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    texts = [base + tail for tail in ["", "alpha", "beta", "gamma gamma", "x y z", "omega"]]
    docs = _docs(spark, texts)
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    brute = {
        (a, b)
        for a, b in combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    banded = {
        (r.doc_a, r.doc_b) for r in simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert banded == brute


def _embs(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_planes_for_corpus_sizing_rule():
    from binlog_avro_comparator_spark.operators.similarity import planes_for_corpus

    # monotone growth with corpus size, clamped at both ends
    sizes = [10**4, 10**6, 10**9, 10**11]
    planes = [planes_for_corpus(n) for n in sizes]
    assert planes == sorted(planes)
    assert planes_for_corpus(10**6) == 10       # 2^10 * 1024 ~= 1e6
    assert planes_for_corpus(10**9) == 20
    assert planes_for_corpus(10**11) == 27      # ~100 TB corpus
    assert planes_for_corpus(10) == 4           # min clamp
    assert planes_for_corpus(10**30) == 32      # max clamp
    # halving target doubles buckets (one more plane)
    assert planes_for_corpus(10**6, target_bucket_rows=512) == 11


def test_bands_for_corpus_sizing_rule():
    from binlog_avro_comparator_spark.operators.dedup import bands_for_corpus

    # band-key length (rows) grows logarithmically with corpus size
    sizes = [10**4, 10**6, 10**9, 10**11]
    rows = [bands_for_corpus(n)[1] for n in sizes]
    assert rows == sorted(rows)
    assert bands_for_corpus(10**6)[1] == 6    # ln(1e6)/ln(10)
    assert bands_for_corpus(10**9)[1] == 9
    assert bands_for_corpus(10**11)[1] == 11  # ~100 TB corpus
    # bands center the S-curve midpoint (1/b)^(1/r) on the threshold
    b, r = bands_for_corpus(10**9, threshold=0.8)
    assert abs((1.0 / b) ** (1.0 / r) - 0.8) < 0.03
    # a lower threshold needs more bands at the same corpus size
    assert bands_for_corpus(10**9, threshold=0.6)[0] > b
    # degenerate corpus falls back to the test-scale 4x4 default
    assert bands_for_corpus(0) == (4, 4)
    # signature width = bands*rows is what minhash_signatures consumes
    assert all(bands_for_corpus(n)[0] * bands_for_corpus(n)[1] > 0 for n in sizes)


def test_bucket_cardinality_grows_with_planes(spark):
    import math
    import random

    rng = random.Random(7)
    vecs = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(200)]
    emb = _embs(spark, vecs)
    from binlog_avro_comparator_spark.operators.similarity import hyperplane_bucket

    counts = {
        p: emb.select(
            hyperplane_bucket(F.col("embedding"), n_planes=p).alias("b")
        ).agg(F.countDistinct("b")).collect()[0][0]
        for p in (4, 8, 12)
    }
    assert counts[4] < counts[8] < counts[12]
    assert counts[4] <= 2**4 and counts[8] <= 2**8


@pytest.mark.slow
def test_near_dup_multi_table_recall_superset(spark):
    """OR-construction across tables can only ADD candidate pairs; at a
    plane count high enough to split a true near-pair in table 0, a
    second table recovers it."""
    import random

    from binlog_avro_comparator_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    # plant near-duplicates: tiny perturbations of existing vectors
    vecs = base + [[x + rng.gauss(0, 1e-3) for x in v] for v in base[:10]]
    emb = _embs(spark, vecs)

    def pairset(**kw):
        return {
            (r.vec_a, r.vec_b)
            for r in embedding_near_dup_pairs(emb, threshold=0.98, **kw).collect()
        }

    one = pairset(n_planes=12, n_tables=1)
    two = pairset(n_planes=12, n_tables=2)
    four = pairset(n_planes=12, n_tables=4)
    assert one <= two <= four
    # every planted pair has cosine ~1; with 4 tables recall should be total
    assert {(i, 40 + i) for i in range(10)} <= four


def test_near_dup_corpus_rows_drives_planes(spark):
    """corpus_rows hint resolves geometry via planes_for_corpus and the
    operator still runs end-to-end."""
    from binlog_avro_comparator_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    vecs = [[1.0] * 64, [1.0] * 64, [-1.0] * 64]
    emb = _embs(spark, vecs)
    # 10^6-row hint -> 10 planes; identical vectors always share buckets
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            emb, threshold=0.99, corpus_rows=10**6
        ).collect()
    }
    assert got == {(0, 1)}


def test_ivf_probing_all_lists_is_exact(spark):
    """IVF with n_probe == n_centroids scans every inverted list, so it
    must reproduce the exact brute-force top-k bit for bit."""
    import random

    from binlog_avro_comparator_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )

    rng = random.Random(11)
    emb = _embs(spark, [[rng.gauss(0, 1) for _ in range(64)] for _ in range(120)])
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(emb, n_queries=8, k=3).collect()
    }
    ivf_all = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_ivf(
            emb, n_queries=8, k=3, n_centroids=4, n_probe=4, centroid_stride=11
        ).collect()
    }
    assert ivf_all == exact
    # restricted probing returns a (possibly smaller) high-quality subset
    ivf_1 = cosine_topk_ivf(
        emb, n_queries=8, k=3, n_centroids=4, n_probe=1, centroid_stride=11
    )
    assert 0 < ivf_1.count() <= len(exact)


def test_dedup_clusters_transitive_chain(spark):
    """Min-label propagation must close transitive chains: a path graph
    a-b-c-d (diameter 3) collapses to one cluster labeled min(node)."""
    from binlog_avro_comparator_spark.operators.dedup import dedup_clusters

    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (70, 80)], "doc_a long, doc_b long"
    )
    docs = _docs(spark, ["irrelevant"])
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters(docs, edges=edges).collect()
    }
    assert got == {(10, 10), (20, 10), (30, 10), (40, 10), (70, 70), (80, 70)}


def test_dedup_clusters_on_lsh_pairs(spark):
    """End-to-end over real LSH edges: identical docs cluster together,
    the odd one out is absent (no edges touch it)."""
    from binlog_avro_comparator_spark.operators.dedup import dedup_clusters

    docs = _docs(
        spark,
        [
            "w1 w2 w3 w4 w5 w6 w7 w8",
            "w1 w2 w3 w4 w5 w6 w7 w8",
            "totally different content here entirely",
        ],
    )
    got = {(r.doc_id, r.cluster_id) for r in dedup_clusters(docs).collect()}
    assert got == {(0, 0), (1, 0)}


def test_windowed_stream_matches_batch(spark):
    """The availableNow streaming windowed agg (complete mode) equals
    the equivalent batch aggregation -- the oracle-parity contract."""
    from binlog_avro_comparator_spark.plans.registry import (
        _q_events_windowed_stream,
    )
    from binlog_avro_comparator_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    streamed = {
        tuple(r) for r in _q_events_windowed_stream(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    batch = {
        tuple(r)
        for r in ev.groupBy(
            F.window("ts", "10 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            F.unix_millis("w.end").alias("window_end_ms"),
            "event_type",
            "n_events",
            "min_value",
            "max_value",
        )
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_clean_text_redacts_and_collapses(spark):
    from binlog_avro_comparator_spark.operators.textstats import clean_text

    docs = _docs(
        spark,
        [
            "contact me at john.doe+x@example.co.uk   or https://ex.com/a?b=1 now",
            "no pii   here\tjust   spaces",
        ],
    )
    rows = {r.doc_id: r for r in clean_text(docs).collect()}
    assert rows[0].clean_text == "contact me at <EMAIL> or <URL> now"
    assert rows[1].clean_text == "no pii here just spaces"
    assert rows[1].removed_chars > 0


def test_length_quantiles_hand_computed(spark):
    from binlog_avro_comparator_spark.operators.textstats import length_quantiles

    docs = spark.createDataFrame(
        [(i, "x", "en", "s", n) for i, n in enumerate([10, 20, 30, 40])],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = length_quantiles(docs).collect()[0]
    # R-7 interpolation over [10,20,30,40]
    assert (r.n_docs, r.p50_chars, r.p90_chars) == (4, 25.0, 37.0)
    # approx mode: same shape, sketch-based (long results), plausible values
    ra = length_quantiles(docs, approx=True).collect()[0]
    assert ra.n_docs == 4 and 10 <= ra.p50_chars <= 30


def test_stratified_sample_deterministic_rate(spark):
    from binlog_avro_comparator_spark.operators.textstats import stratified_sample

    docs = spark.createDataFrame(
        [(i, "t", "en" if i % 2 else "fr", "s", i) for i in range(2000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    a = {r.doc_id for r in stratified_sample(docs).collect()}
    b = {r.doc_id for r in stratified_sample(docs.repartition(7)).collect()}
    assert a == b  # layout-independent, rerun-stable
    assert 0.05 < len(a) / 2000 < 0.15  # ~1/10 rate
    by_lang = stratified_sample(docs).groupBy("lang").count().collect()
    assert {r["lang"] for r in by_lang} == {"en", "fr"}  # both strata sampled


def test_repetition_scores_hand_computed(spark):
    from binlog_avro_comparator_spark.operators.textstats import repetition_scores

    docs = _docs(spark, ["a b c a b c a b c", "all words unique here now", "x y"])
    rows = {r.doc_id: r for r in repetition_scores(docs).collect()}
    # trigrams of doc 0: 7 total, 3 distinct -> ratio 4/7
    assert (rows[0].n_grams, rows[0].n_distinct_grams) == (7, 3)
    assert rows[0].repetition_ratio == 4 / 7
    assert rows[1].repetition_ratio == 0.0
    assert (rows[2].n_grams, rows[2].repetition_ratio) == (0, 0.0)  # < k words


def test_contamination_scores_hand_computed(spark):
    from binlog_avro_comparator_spark.operators.textstats import (
        contamination_scores,
    )

    texts = ["the quick brown fox jumps"] + ["pad"] * 9  # doc 0 = benchmark
    texts += [
        "the quick brown fox sleeps",   # doc 10: shares 2 of 3 shingles
        "completely novel text corpus today",  # doc 11: clean
    ]
    docs = _docs(spark, texts)
    rows = {r.doc_id: r for r in contamination_scores(docs).collect()}
    assert set(rows) == {10, 11}  # benchmark + short docs excluded
    assert (rows[10].n_shingles, rows[10].n_contaminated) == (3, 2)
    assert rows[10].contamination == 2 / 3
    assert rows[11].n_contaminated == 0 and rows[11].contamination == 0.0


def test_dedup_keep_canonical_drops_losers(spark):
    from binlog_avro_comparator_spark.operators.dedup import dedup_keep_canonical

    docs = spark.createDataFrame(
        [
            (0, "w1 w2 w3 w4 w5 w6", "en", "s", 17),
            (1, "w1 w2 w3 w4 w5 w6", "en", "s", 17),  # dup of 0 -> dropped
            (2, "other text entirely different", "en", "s", 29),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    kept = {r.doc_id for r in dedup_keep_canonical(docs).collect()}
    assert kept == {0, 2}


def test_kmv_estimate_accuracy_and_exact_smallgroup(spark):
    """KMV: groups under k report exactly; larger groups estimate
    within the expected ~1/sqrt(k) relative error band."""
    from binlog_avro_comparator_spark.operators.analytics import kmv_distinct_users

    rows = [(i, "big", i % 2000) for i in range(6000)]          # 2000 distinct
    rows += [(10_000 + i, "small", i) for i in range(40)]       # 40 < k
    ev = spark.createDataFrame(
        [(eid, None, uid, et, 0.0, None) for eid, et, uid in
         ((r[0], r[1], r[2]) for r in rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.event_type: r for r in kmv_distinct_users(ev).collect()}
    assert got["small"].est_distinct_users == 40.0  # exact fallback
    est = got["big"].est_distinct_users
    assert abs(est - 2000) / 2000 < 0.4  # ~3 sigma at k=64


def test_as_of_join_semantics(spark):
    """<= semantics (equal ts matches), latest-prior wins, tie broken
    by tie_col (highest), no-prior-right keeps NULL payload."""
    from binlog_avro_comparator_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [(1, 50, 50), (1, 100, 100), (1, 150, 150), (2, 10, 10)],
        "user_id long, event_id long, ts_ms long",
    )
    right = spark.createDataFrame(
        [(1, 900, 100, 1.0), (1, 901, 100, 2.0), (1, 902, 120, 3.0)],
        "user_id long, rid long, ts_ms long, v double",
    )
    out = {
        r.event_id: r["__asof"]
        for r in as_of_join(
            left, right, ["user_id"], "ts_ms", ["rid", "v"], tie_col="rid"
        ).collect()
    }
    assert out[50] is None                    # nothing at or before 50
    assert out[100].rid == 901                # equal-ts matches; tie -> max rid
    assert out[150].rid == 902                # latest prior
    assert out[10] is None                    # other key untouched


def test_range_join_bucketed_boundaries(spark):
    """Band is [lo, hi): lo edge included, hi edge excluded; pairs
    spanning a bucket boundary are found exactly once."""
    from binlog_avro_comparator_spark.operators.joins import range_join_bucketed

    left = spark.createDataFrame(
        [(1, 10, 1000)], "user_id long, event_id long, ts_ms long"
    )
    right = spark.createDataFrame(
        [(1, 20, 1000), (1, 21, 1099), (1, 22, 1100), (1, 23, 999), (2, 24, 1050)],
        "user_id long, event_id long, ts_ms long",
    )
    got = sorted(
        r.r_event_id
        for r in range_join_bucketed(
            left, right, ["user_id"], "ts_ms", 0, 100
        ).collect()
    )
    assert got == [20, 21]  # 1100 excluded (hi), 999 excluded (lo), user 2 excluded
    # cross-boundary: band [50, 150) from ts=1000 spans two 100-wide buckets
    got2 = sorted(
        r.r_event_id
        for r in range_join_bucketed(
            left, right, ["user_id"], "ts_ms", 50, 150
        ).collect()
    )
    assert got2 == [21, 22]  # each found exactly once (no dup from explode)


def test_range_join_bucketed_negative_timestamps(spark):
    """Bucket ids must floor, not truncate toward zero: a pair
    straddling t=0 (left at -30, right at +30, band [0, 100)) lands in
    consistent buckets and is found.  Truncating division maps -30 and
    +30 both to bucket 0 only by accident of sign -- floor keeps the
    bucket grid uniform across zero."""
    from binlog_avro_comparator_spark.operators.joins import range_join_bucketed

    left = spark.createDataFrame(
        [(1, 10, -30), (1, 11, -170)], "user_id long, event_id long, ts_ms long"
    )
    right = spark.createDataFrame(
        [(1, 20, 30), (1, 21, -90), (1, 22, -171)],
        "user_id long, event_id long, ts_ms long",
    )
    got = sorted(
        (r.event_id, r.r_event_id)
        for r in range_join_bucketed(
            left, right, ["user_id"], "ts_ms", 0, 100
        ).collect()
    )
    # -30 -> [-30, 70): matches 30; -170 -> [-170, -70): matches -90;
    # -171 excluded (just below -170's lo edge)
    assert got == [(10, 20), (11, 21)]


def test_as_of_join_string_tie_col(spark):
    """tie_col of any orderable type works (null placeholder is typed
    from the right side)."""
    from binlog_avro_comparator_spark.operators.joins import as_of_join

    left = spark.createDataFrame([(1, 5, 100)], "k long, event_id long, ts_ms long")
    right = spark.createDataFrame(
        [(1, "aa", 100, 1.0), (1, "zz", 100, 2.0)],
        "k long, tag string, ts_ms long, v double",
    )
    [row] = as_of_join(
        left, right, ["k"], "ts_ms", ["tag", "v"], tie_col="tag"
    ).collect()
    assert row["__asof"].tag == "zz"  # highest tie wins


def test_repeated_span_stats_hand_computed(spark):
    from binlog_avro_comparator_spark.operators.dedup import repeated_span_stats

    base = " ".join(f"w{i}" for i in range(25))
    docs = _docs(
        spark,
        [
            base + " tail one",          # shares the 25-word prefix spans
            base + " tail two",          # with doc 0
            " ".join(f"u{i}" for i in range(30)),  # all spans unique
            "too short",                  # < 20 words -> absent
        ],
    )
    rows = {r.doc_id: r for r in repeated_span_stats(docs, k=20).collect()}
    assert set(rows) == {0, 1, 2}
    # docs 0/1: 27 words -> 8 spans each; spans 1-7 all fall within the
    # shared "w0..w24 tail" prefix (27th word differs), span 8 doesn't
    assert (rows[0].n_spans, rows[0].n_repeated) == (8, 7)
    assert rows[0].repeated_ratio == 7 / 8
    assert (rows[2].n_repeated, rows[2].repeated_ratio) == (0, 0.0)


def test_unigram_logprob_ordering(spark):
    """Docs made of globally-common tokens outscore docs of rare
    tokens; n_tokens is the doc's own token count."""
    from binlog_avro_comparator_spark.operators.textstats import (
        unigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [(1, "the the the the"), (2, "the the rare1 rare2"), (3, "the")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in unigram_logprob_scores(docs).collect()}
    assert got[1].n_tokens == 4
    # doc 1 is all 'the' (count 7 of 9 tokens); doc 2 mixes two singletons
    assert got[1].mean_logprob > got[2].mean_logprob
    import math
    assert abs(got[1].mean_logprob - round(math.log10(7 / 9), 6)) < 1e-9


def test_mixture_weights_normalized(spark):
    """Raw and smoothed weights each sum to 1; alpha<1 up-samples the
    smaller slice (smoothed > raw for the minority group)."""
    from binlog_avro_comparator_spark.operators.textstats import mixture_weights

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h", "en", "s"), (2, "a b c d e f g h", "en", "s"),
         (3, "x y", "fr", "s")],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.lang: r for r in mixture_weights(docs, by=["lang"]).collect()}
    assert abs(sum(r.weight for r in rows.values()) - 1.0) < 1e-5
    assert abs(sum(r.weight_smoothed for r in rows.values()) - 1.0) < 1e-5
    assert rows["fr"].weight_smoothed > rows["fr"].weight  # up-sampled
    assert rows["en"].n_tokens == 16 and rows["fr"].n_docs == 1


def test_sample_k_per_group_exact_and_deterministic(spark):
    """Exactly min(k, group size) docs per group, and the picked set is
    identical across reruns and input partitionings."""
    from binlog_avro_comparator_spark.operators.textstats import sample_k_per_group

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 3 else "fr", "s", 10) for i in range(60)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    a = sample_k_per_group(docs, k=5)
    counts = {r.lang: r.n for r in a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 5, "fr": 5}
    ids_a = sorted(r.doc_id for r in a.collect())
    ids_b = sorted(r.doc_id for r in sample_k_per_group(docs.repartition(13), k=5).collect())
    assert ids_a == ids_b


def test_cache_scope_releases_operator_caches(spark):
    """Running many corpora through caching operators inside
    cache_scope must not accumulate persisted frames: every frame the
    scope registered is unpersisted on exit and the registry drains to
    its entry mark.  Asserts on cache_scope's OWN registry + the
    frames' storage levels -- not on getPersistentRDDs() counts, whose
    baseline races the ContextCleaner GC-ing other tests'
    localCheckpoint RDDs (the round-4 flake)."""
    from binlog_avro_comparator_spark.functions import caching
    from binlog_avro_comparator_spark.functions.caching import cache_scope
    from binlog_avro_comparator_spark.operators.dedup import lsh_candidate_pairs

    base = len(caching._LIVE)

    def is_cached(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    for offset in (0, 1000):
        corpus = spark.createDataFrame(
            [(offset + i, f"doc {i} body words alpha beta gamma {i}") for i in range(30)],
            "doc_id long, text string",
        )
        with cache_scope():
            lsh_candidate_pairs(corpus).count()  # materializes the sig cache
            handles = list(caching._LIVE[base:])
            assert handles                       # cache was real
            assert all(is_cached(df) for df in handles)
        assert len(caching._LIVE) == base        # registry drained on exit
        assert not any(is_cached(df) for df in handles)  # frames unpersisted


def test_remove_repeated_spans_golden_overlap(spark):
    """Hand-built overlapping-span case: the shared run 'a b c d e'
    yields three overlapping 3-gram spans in each doc; their covered
    union is trimmed from the non-keeper only, whitespace normalized.
    Intra-doc repetition does not trigger (df is over distinct docs),
    and a fully-shared doc comes back as '' instead of vanishing."""
    from binlog_avro_comparator_spark.operators.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x"),       # keeper of the shared spans
            (2, "z  a b c d e"),      # overlapping spans cover idx 2..6
            (3, "unique words only"),
            (4, "p q r p q r"),       # intra-doc repeat only
            (5, "a b c d e x"),       # exact dup of doc 1 -> fully covered
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in remove_repeated_spans(docs, k=3).collect()}
    assert got[1].text == "a b c d e x" and got[1].n_removed == 0
    assert got[2].text == "z" and (got[2].n_words, got[2].n_kept) == (6, 1)
    assert got[3].text == "unique words only" and got[3].n_removed == 0
    assert got[4].text == "p q r p q r" and got[4].n_removed == 0
    assert got[5].text == "" and got[5].n_kept == 0  # present, emptied


def test_curation_trim_spans_composition(spark):
    """trim_spans_k composes span trimming onto the survivor set: full
    rows keep their columns, text is the trimmed rebuild, and span df
    is computed over survivors only."""
    from binlog_avro_comparator_spark.operators.curation import curation_survivors

    long_unique = " ".join(f"u{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (100, long_unique + " a b c d e end", "en", "s", 1),
            (101, long_unique[:0] + "start a b c d e close", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r.doc_id: r
        for r in curation_survivors(
            docs, max_repetition=1.0, max_contamination=2.0, trim_spans_k=3
        ).collect()
    }
    # both survive the whole-doc filters; doc 100 (lower id) keeps the
    # shared run, doc 101 loses it
    assert "a b c d e" in out[100].text
    assert "a b c d e" not in out[101].text
    assert out[101].text.startswith("start")
    assert out[101].lang == "en" and out[101].source == "s"  # full rows


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events(spark, rows):
    return (
        spark.createDataFrame(rows, EVENTS_SCHEMA)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .drop("ts_us")
    )


def test_apply_changes_last_write_wins(spark):
    from binlog_avro_comparator_spark.operators.snapshot import apply_changes

    base = 1_700_000_000_000_000
    ev = _events(
        spark,
        [
            (1, base, 10, "click", 1.0, "{}"),      # INSERT
            (2, base + 1_000_000, 10, "view", 2.0, "{}"),   # UPDATE -> last
            (3, base, 20, "click", 1.0, "{}"),
            (4, base + 1_000_000, 20, "purchase", 0.0, "{}"),  # DELETE -> gone
            (5, base, 30, "purchase", 0.0, "{}"),
            (6, base + 1_000_000, 30, "click", 9.0, "{}"),  # re-insert after delete
            (7, base, 40, "signup", 0.0, "{}"),     # non-DML: ignored entirely
        ],
    )
    got = {r.user_id: r for r in apply_changes(ev).collect()}
    assert set(got) == {10, 30}
    assert got[10].last_op == "UPDATE" and got[10].n_changes == 2
    assert got[30].last_op == "INSERT" and got[30].last_value == 9.0
    assert 40 not in got  # signup alone creates no row


def test_apply_changes_same_ms_tiebreak(spark):
    from binlog_avro_comparator_spark.operators.snapshot import apply_changes

    base = 1_700_000_000_000_000
    # same millisecond: higher event_id wins
    ev = _events(
        spark,
        [
            (1, base, 10, "click", 1.0, "{}"),
            (2, base, 10, "purchase", 0.0, "{}"),
        ],
    )
    assert apply_changes(ev).count() == 0  # event 2 (DELETE) wins the tie


def test_funnel_stage_order_is_strict(spark):
    from binlog_avro_comparator_spark.operators.analytics import funnel_stages

    base = 1_700_000_000_000_000
    ev = _events(
        spark,
        [
            # user 10: click BEFORE the first view must not count
            (1, base, 10, "click", 0.0, "{}"),
            (2, base + 1_000_000, 10, "view", 0.0, "{}"),
            (3, base + 2_000_000, 10, "click", 0.0, "{}"),
            (4, base + 3_000_000, 10, "purchase", 0.0, "{}"),
            # user 20: view only
            (5, base, 20, "view", 0.0, "{}"),
            # user 30: purchase before click -> stage 2 only
            (6, base, 30, "view", 0.0, "{}"),
            (7, base + 1_000_000, 30, "purchase", 0.0, "{}"),
            (8, base + 2_000_000, 30, "click", 0.0, "{}"),
            # user 40: no view -> absent
            (9, base, 40, "click", 0.0, "{}"),
        ],
    )
    got = {r.user_id: r for r in funnel_stages(ev).collect()}
    assert set(got) == {10, 20, 30}
    assert got[10].stage_reached == 3
    assert got[10].click_ts_ms > got[10].view_ts_ms
    assert got[20].stage_reached == 1 and got[20].click_ts_ms is None
    assert got[30].stage_reached == 2 and got[30].purchase_ts_ms is None


def test_chunk_documents_overlap_and_tail(spark):
    """Chunks step by stride with chunk-stride overlap; the tail chunk
    is short; empty docs emit nothing."""
    from binlog_avro_comparator_spark.operators.textstats import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, "only two"), (3, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        chunk_documents(docs, chunk=4, stride=3).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 1,4,7,10 -> sizes 4,4,4,1
    assert [r.start_token for r in by_doc[1]] == [1, 4, 7, 10]
    assert [r.n_chunk_tokens for r in by_doc[1]] == [4, 4, 4, 1]
    assert by_doc[1][0].chunk_text == "w0 w1 w2 w3"
    assert by_doc[1][1].chunk_text == "w3 w4 w5 w6"  # 1-token overlap
    assert by_doc[1][3].chunk_text == "w9"
    assert [r.n_chunk_tokens for r in by_doc[2]] == [2]
    assert 3 not in by_doc


def test_pack_sequences_offsets_contiguous(spark):
    """Within a shard, stream offsets are the exclusive prefix sum of
    token counts in (hash, doc_id) order -- no gaps, no padding -- and
    seq assignment is offset // budget."""
    from binlog_avro_comparator_spark.operators.textstats import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join("t" * 1 for _ in range(3 + i % 5))) for i in range(40)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs, budget=16, n_shards=4).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(len(v) for v in by_shard.values())  # every shard non-empty
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.stream_offset)
        acc = 0
        for r in rs:
            assert r.stream_offset == acc  # contiguous: exclusive prefix sum
            assert r.seq_id == acc // 16
            assert r.seq_offset == acc % 16
            acc += r.n_tokens
    # deterministic under repartitioning
    again = pack_sequences(docs.repartition(7), budget=16, n_shards=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_mixture_sample_rates_and_determinism(spark):
    """Up-weighted minority slices keep everything (rate capped at 1);
    the majority slice thins; the picked set is rerun-deterministic."""
    from binlog_avro_comparator_spark.operators.textstats import mixture_sample

    docs = spark.createDataFrame(
        [(i, "word " * 20, "en", "s", 100) for i in range(200)]
        + [(1000 + i, "petit mot", "fr", "s", 9) for i in range(3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = mixture_sample(docs, frac=0.5)
    rows = out.collect()
    rates = {r.lang: r.keep_rate for r in rows}
    assert rates.get("fr") == 1.0  # tiny slice fully kept after smoothing
    assert rates["en"] < 1.0
    kept_en = sum(1 for r in rows if r.lang == "en")
    # deterministic hash sampling: expected ~ rate * 200, loose band
    assert 0 < kept_en < 200
    again = mixture_sample(docs.repartition(11), frac=0.5).collect()
    assert sorted(r.doc_id for r in rows) == sorted(r.doc_id for r in again)


def test_redact_pii_types_and_counts(spark):
    """Each PII type is counted and replaced by its sentinel; a pattern
    counts what it actually substitutes (an IP inside an email is email,
    not email + ip); clean text passes through untouched."""
    from binlog_avro_comparator_spark.operators.textstats import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "host 192.168.0.12 and 10.0.0.1 up"),
            (3, "call +44 123 4567 89 today"),
            (4, "ssn 123-45-6789."),
            (5, "at user@10.0.0.1.example.com ok"),  # IP absorbed by the email
            (6, "nothing to hide"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].n_email == 1 and got[1].text_redacted == "mail <EMAIL> now"
    assert got[2].n_ipv4 == 2 and got[2].text_redacted == "host <IP> and <IP> up"
    assert got[3].n_phone == 1 and got[3].text_redacted == "call <PHONE> today"
    assert got[4].n_id == 1 and got[4].text_redacted == "ssn <ID>."
    assert got[5].n_email == 1 and got[5].n_ipv4 == 0  # counted once, as email
    assert got[6].n_pii == 0 and got[6].text_redacted == "nothing to hide"
    assert all(r.n_pii == r.n_email + r.n_ipv4 + r.n_phone + r.n_id for r in got.values())


def test_split_assignments_deterministic_partition(spark):
    """Every document lands in exactly one split; assignment is a pure
    function of doc_id (layout/rerun independent); proportions track the
    90/5/5 weights loosely at n=2000."""
    from binlog_avro_comparator_spark.operators.textstats import split_assignments

    docs = spark.createDataFrame(
        [(i, "t", "en", "s") for i in range(2000)],
        "doc_id long, text string, lang string, source string",
    )
    rows = split_assignments(docs).collect()
    assert len(rows) == 2000
    by = {}
    for r in rows:
        assert r.split == ("train" if r.bucket < 90 else "val" if r.bucket < 95 else "test")
        by[r.split] = by.get(r.split, 0) + 1
    assert by["train"] > 1600 and 40 < by["val"] < 180 and 40 < by["test"] < 180
    again = {r.doc_id: r.split for r in split_assignments(docs.repartition(13)).collect()}
    assert all(again[r.doc_id] == r.split for r in rows)


def test_kmeans_deterministic_and_partitioning_invariant(spark):
    """Every vector gets exactly one cluster; assignment is a pure
    function of the data (repartition-invariant); cluster_size is
    consistent with the assignment."""
    import random

    from binlog_avro_comparator_spark.operators.similarity import kmeans_assignments

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assignments(docs, k=3, n_iter=3, stride=10, dim=8).collect()
    assert len(out) == 120 and len({r.vec_id for r in out}) == 120
    sizes = {}
    for r in out:
        sizes[r.centroid_id] = sizes.get(r.centroid_id, 0) + 1
    assert all(r.cluster_size == sizes[r.centroid_id] for r in out)
    assert sum(sizes.values()) == 120 and len(sizes) >= 2
    again = kmeans_assignments(
        docs.repartition(13), k=3, n_iter=3, stride=10, dim=8
    ).collect()
    assert {(r.vec_id, r.centroid_id) for r in again} == {
        (r.vec_id, r.centroid_id) for r in out
    }


def test_kmeans_gemm_path_matches_jvm_path(spark):
    """The large-k GEMM assignment (mapInPandas matmul + packed
    argmax) must produce bit-identical assignments to the JVM
    broadcast-fold path -- forced here at small k via gemm_threshold=0
    so both paths run on the same data."""
    import random

    from binlog_avro_comparator_spark.operators.similarity import (
        kmeans_assignments)

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(150)]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    jvm = {
        (r.vec_id, r.centroid_id)
        for r in kmeans_assignments(docs, k=8, n_iter=3, stride=7, dim=8).collect()
    }
    gemm = {
        (r.vec_id, r.centroid_id)
        for r in kmeans_assignments(
            docs, k=8, n_iter=3, stride=7, dim=8, gemm_threshold=0
        ).collect()
    }
    assert gemm == jvm and len(jvm) == 150


def test_remove_boilerplate_segments_golden(spark):
    """Hand-built boilerplate case: the 3-word segment 'nav home about'
    opens 4 of 5 docs (df=4 >= threshold) and is dropped from ALL of
    them -- no keeper copy, unlike span dedup.  Segment boundaries are
    non-overlapping (doc 4's 'x nav home' / 'about y z' segments do NOT
    match the boilerplate segment), an under-threshold segment stays,
    and an all-boilerplate doc comes back as '' instead of vanishing."""
    from binlog_avro_comparator_spark.operators.dedup import (
        remove_boilerplate_segments,
    )

    docs = spark.createDataFrame(
        [
            (1, "nav home about alpha beta gamma"),
            (2, "nav home about delta eps zeta"),
            (3, "nav home about eta theta iota"),
            (4, "x nav home about y z"),       # offset -> different segments
            (5, "nav home about"),             # boilerplate only -> ''
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in remove_boilerplate_segments(
            docs, seg_words=3, df_threshold=4
        ).collect()
    }
    assert got[1].text_clean == "alpha beta gamma" and got[1].n_dropped == 1
    assert got[2].text_clean == "delta eps zeta" and got[2].n_dropped == 1
    assert got[3].text_clean == "eta theta iota" and got[3].n_dropped == 1
    assert got[4].text_clean == "x nav home about y z" and got[4].n_dropped == 0
    assert got[5].text_clean == "" and (got[5].n_segments, got[5].n_dropped) == (1, 1)


def test_semdedup_prunes_planted_cluster_dup(spark):
    """SemDeDup keeps the lowest vec_id of a planted near-identical
    pair and never compares across clusters: two opposite-direction
    groups land in different k-means clusters, so the cross-group
    cosine (-1) is never even computed, and within the first cluster
    the exact-duplicate vector loses to its lower-id twin."""
    from binlog_avro_comparator_spark.operators.similarity import semdedup_survivors

    dim = 4
    base = [1.0, 0.2, 0.1, 0.0]
    anti = [-1.0, -0.2, -0.1, 0.0]
    rows = [
        (0, [float(v) for v in base]),        # centroid seed (stride hits vec_id 0)
        (1, [float(v) for v in base]),        # exact dup of 0 -> loser
        (2, [float(v * 1.001) for v in base]),# near dup of 0 -> loser
        (3, [float(v) for v in anti]),        # other direction, survives
        (4, [0.0, 0.0, 0.0, 1.0]),            # orthogonal, survives
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = semdedup_survivors(emb, k=2, n_iter=2, threshold=0.99, stride=3, dim=4)
    survivors = sorted(r.vec_id for r in got.collect())
    assert survivors == [0, 3, 4]


def test_customer_order_distribution_counts_zero_order_customers(spark):
    """Q13's defining property: customers with no qualifying orders
    appear in the c_count = 0 bucket (an inner join would lose them),
    and excluded-priority orders don't count."""
    from binlog_avro_comparator_spark.operators.analytics import (
        customer_order_distribution,
    )

    customer = spark.createDataFrame(
        [(1,), (2,), (3,)], "c_custkey long"
    )
    orders = spark.createDataFrame(
        [
            (10, 1, "5-LOW"),
            (11, 1, "5-LOW"),
            (12, 2, "1-URGENT"),  # excluded -> customer 2 counts as zero
        ],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    got = {
        r.c_count: r.custdist
        for r in customer_order_distribution(customer, orders).collect()
    }
    assert got == {0: 2, 2: 1}


def test_quantize_int8_endpoints_and_constant_dim(spark):
    """Endpoint values code to 0/255 exactly; a constant dimension
    (max == min) codes to 0 with zero reconstruction error; errors are
    integer units."""
    from binlog_avro_comparator_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 5.0]),
            (1, [1.0, 5.0]),
            (2, [0.5, 5.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in quantize_embeddings_int8(emb, dim=2).collect()}
    assert got[0].codes == [0, 0] and got[0].err_units == 0
    assert got[1].codes == [255, 0] and got[1].err_units == 0
    # 0.5 -> code floor(127.5 + 0.5) = 128, recon 128/255 ~ 0.50196...
    assert got[2].codes == [128, 0]
    assert got[2].err_units == round(abs(0.5 - 128 / 255.0) * 1e6)


def test_zorder_key_matches_python_interleave(spark):
    """zorder_key == the reference Morton interleave, including key
    folding (values >= 2^bits wrap via pmod)."""
    from binlog_avro_comparator_spark.functions.zorder import zorder_key

    def morton(a, b, bits=16):
        a %= 1 << bits
        b %= 1 << bits
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    pairs = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (65536, 2), (12345, 54321)]
    df = spark.createDataFrame(pairs, "a long, b long").select(
        "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")
    )
    got = {(r.a, r.b): r.z for r in df.collect()}
    assert got == {(a, b): morton(a, b) for a, b in pairs}


def test_remove_boilerplate_by_lines(spark):
    """by_lines mode: the unit is the newline-delimited line (CCNet's
    real paragraph unit) -- a footer LINE shared by 4 docs is dropped
    everywhere regardless of its word count, blank lines never count
    as segments, and the rebuild joins with newlines."""
    from binlog_avro_comparator_spark.operators.dedup import (
        remove_boilerplate_segments,
    )

    footer = "copyright 2026 example corp all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"body one\n\n{footer}"),
            (2, f"body two\n{footer}"),
            (3, f"body three\n{footer}"),
            (4, f"{footer}\nbody four"),
            (5, "standalone"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in remove_boilerplate_segments(
            docs, df_threshold=4, by_lines=True
        ).collect()
    }
    assert got[1].text_clean == "body one" and got[1].n_segments == 2
    assert got[2].text_clean == "body two"
    assert got[4].text_clean == "body four"
    assert got[5].text_clean == "standalone" and got[5].n_dropped == 0


def test_bloom_contamination_no_false_negatives(spark):
    """The Bloom variant must flag every shingle the exact broadcast
    check flags (one-sided error), agree exactly when the bitmap is
    collision-free, and collapse to the exact rates at generous m."""
    from binlog_avro_comparator_spark.operators.textstats import (
        bloom_contamination,
        contamination_scores,
    )

    texts = ["the quick brown fox jumps over the lazy dog today"] + ["pad"] * 9
    texts += [
        "the quick brown fox jumps high",      # overlaps the benchmark
        "completely novel text corpus for training runs",  # clean
        "over the lazy dog today it leaps",    # partial overlap
    ]
    docs = _docs(spark, texts)
    exact = {r.doc_id: r for r in contamination_scores(docs).collect()}
    bloom = {r.doc_id: r for r in bloom_contamination(docs).collect()}
    assert set(bloom) == set(exact)
    for doc_id, ex in exact.items():
        bl = bloom[doc_id]
        assert bl.n_shingles == ex.n_shingles
        # one-sided: never misses a true hit
        assert bl.n_bloom_hits >= ex.n_contaminated
    # at m=4096 with a handful of benchmark shingles, collisions are
    # absent and the Bloom answer IS the exact answer
    assert all(
        bloom[d].n_bloom_hits == exact[d].n_contaminated for d in exact
    )


def test_bloom_contamination_single_shuffle_plan(spark):
    """The corpus side must reach the per-doc aggregate through
    broadcast joins only: no shuffle of corpus shingles, no sort-merge
    join anywhere in the plan."""
    from binlog_avro_comparator_spark.operators.textstats import (
        bloom_contamination,
    )

    docs = _docs(spark, [f"alpha beta gamma delta {i} epsilon" for i in range(30)])
    plan = bloom_contamination(docs)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_fuzzy_contamination_catches_paraphrase(spark):
    """A corpus doc that lightly edits a benchmark doc still collides
    in some LSH band and scores a high (but < 1) exact Jaccard; an
    unrelated doc produces no candidate pair at all; an exact copy
    scores 1.0.  Candidates are corpus x benchmark only -- corpus
    near-dups of each other never appear."""
    from binlog_avro_comparator_spark.operators.dedup import (
        fuzzy_contamination_pairs,
    )

    bench = " ".join(f"w{i}" for i in range(48)) + " closing words here"
    para = bench.replace("w20", "edited")  # light mid-document edit
    rows = [
        (0, bench),                      # benchmark slice: doc_id < 10
        (1, "completely different words everywhere nothing shared at all"),
        (10, para),                      # paraphrased leak
        (11, bench),                     # verbatim leak
        (12, "unrelated corpus document with its own content entirely"),
        (13, "unrelated corpus document with its own content entirely"),  # corpus dup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.bench_id): r.jaccard
        for r in fuzzy_contamination_pairs(docs, benchmark_max_id=10).collect()
    }
    assert got[(11, 0)] == 1.0
    assert (10, 0) in got and 0.5 < got[(10, 0)] < 1.0
    assert all(d not in (12, 13) for d, _ in got)   # no corpus-corpus pairs
    assert all(b == 0 for _, b in got)              # doc 1 never matches


@pytest.mark.slow
def test_mllib_slice_classifier_separates(spark):
    """The MLlib bridge: engine scoring operators -> feature vector ->
    distributed LogisticRegression.  On the synthetic corpus the 'en'
    slice is separable enough that the fitted model ranks true-slice
    docs above others on average (the classifier-based curation
    signal); training is in-cluster, scoring is per-row."""
    from binlog_avro_comparator_spark.operators.mlbridge import (
        train_slice_classifier,
    )
    from binlog_avro_comparator_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    _, scored = train_slice_classifier(docs)
    rows = scored.groupBy("label").agg(F.avg("p_target").alias("m")).collect()
    means = {int(r.label): r.m for r in rows}
    assert 0.0 < means[0] < means[1] < 1.0


def test_gopher_flags_rules(spark):
    from binlog_avro_comparator_spark.operators.textstats import gopher_quality_flags

    rows = [
        # passes all five rules: 26 words, wordlen in [4,10], no
        # symbols, all alpha, >= 2 stopword hits
        (1, " ".join(["the", "quick"] * 13), "en", "s", 0),
        # too short (2 words) -> fails word count, passes others
        (2, "the word", "en", "s", 0),
        # symbol-heavy -> fails symbol ratio
        (3, " ".join(["the;", "a,", "x!"] * 9), "en", "s", 0),
        # numeric tokens -> fails alpha fraction and stopwords
        (4, " ".join(["123", "456"] * 13), "en", "s", 0),
    ]
    df = spark.createDataFrame(rows, DOCS_SCHEMA)
    got = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert got[1]["passes_gopher"]
    assert not got[2]["ok_word_count"] and got[2]["ok_alpha_words"]
    assert not got[3]["ok_symbol_ratio"]
    assert not got[4]["ok_alpha_words"] and not got[4]["ok_stopwords"]
    assert not got[4]["passes_gopher"]


def test_source_reputation_ratio_of_sums(spark):
    """The per-source rate must be ratio-of-sums, not mean of per-doc
    ratios: one long low-stopword doc outweighs many short clean ones
    under ratio-of-sums, and the two disagree on this fixture."""
    from binlog_avro_comparator_spark.operators.textstats import source_reputation

    rows = [
        # srcA: one short all-stopword doc (ratio 1.0) + one long
        # stopword-free doc.  mean-of-ratios = 0.5 (would pass);
        # ratio-of-sums = 2/42 ~= 0.048 (fails the 0.065 cut).
        (1, "the a", "en", "srcA", 0),
        (2, " ".join(["word"] * 40), "en", "srcA", 0),
        (3, "the a of to", "en", "srcB", 0),
    ]
    df = spark.createDataFrame(rows, DOCS_SCHEMA)
    got = {r["source"]: r for r in source_reputation(df).collect()}
    assert abs(got["srcA"]["stop_rate"] - round(2 / 42, 6)) < 1e-9
    assert got["srcB"]["stop_rate"] == 1.0
    assert got["srcB"]["reputable"] and not got["srcA"]["reputable"]


def test_enrich_profile_power_user_flag(spark):
    from binlog_avro_comparator_spark.streaming.enrich_stream import user_profile

    rows = [(i, 1000 + i, "u1" if i < 6 else "u2",
             "purchase" if i < 5 else "click", float(i), "{}")
            for i in range(10)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_ms long, user_id string, event_type string, value double, props string"
    )
    prof = {r["user_id"]: r for r in user_profile(ev).collect()}
    assert prof["u1"]["user_n_purchases"] == 5
    assert prof["u1"]["user_n_events"] == 6
    assert prof["u2"]["user_n_purchases"] == 0
    assert prof["u1"]["user_total_value"] == float(sum(range(6)))


def test_misra_gries_adversarial_partitioning(spark):
    """The MG guarantee must hold under a partitioning chosen to dilute
    the heavy key: one key holding ~30% of rows spread evenly across
    every partition, decoys concentrated.  The result must equal the
    exact strict-share answer regardless of layout."""
    from binlog_avro_comparator_spark.operators.analytics import (
        misra_gries_heavy_hitters,
    )

    # 300 'hot' rows + 700 rows of 70 distinct decoys (10 each)
    rows = [("hot",)] * 300 + [(f"d{i}",) for i in range(70) for _ in range(10)]
    df = spark.createDataFrame(rows, "key string").repartition(8)
    got = misra_gries_heavy_hitters(df, "key", share=0.25).collect()
    assert [(r["key"], r["cnt"]) for r in got] == [("hot", 300)]
    assert abs(got[0]["share"] - 0.3) < 1e-9
    # share above every key's frequency -> empty, not an error
    assert misra_gries_heavy_hitters(df, "key", share=0.5).count() == 0


@pytest.mark.slow
def test_curation_gopher_and_source_gates(spark):
    """The cheap gates prepend: a Gopher-failing doc and a doc from a
    low-reputation source drop BEFORE dedup; survivors keep full rows."""
    from binlog_avro_comparator_spark.operators.curation import curation_survivors

    # 32 words, stopworded, mean word length (3+9+6+1)/4 = 4.75
    good = " ".join(["the", "wordsmith", "keeper", "a"] * 8)
    rows = [
        (100, good, "en", "srcGood", 1),
        (101, "too short", "en", "srcGood", 1),  # fails gopher word count
        # srcBad: stopword-free -> source stop_rate 0 -> reputation drop
        (102, " ".join(["zq"] * 40), "en", "srcBad", 1),
        (103, " ".join(["zq"] * 40) + " extra", "en", "srcBad", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation_survivors(
        docs,
        max_repetition=1.0,
        max_contamination=2.0,
        gopher_rules=True,
        min_source_stop_rate=0.05,
    )
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [100]
    # gates off -> the gopher-failing and bad-source docs pass through
    # (103 still folds into 102's near-dup cluster; 102 is canonical)
    loose = curation_survivors(docs, max_repetition=1.0, max_contamination=2.0)
    assert sorted(r.doc_id for r in loose.collect()) == [100, 101, 102]


def test_compact_parquet_dir(spark, tmp_path):
    from binlog_avro_comparator_spark.functions.layout import compact_parquet_dir

    p = str(tmp_path / "frag")
    spark.range(0, 10_000).withColumn("v", F.col("id") * 2).repartition(
        64
    ).write.parquet(p)
    before = spark.read.parquet(p).orderBy("id").collect()
    stats = compact_parquet_dir(spark, p, target_bytes=1 << 40)  # -> 1 file
    assert stats["files_before"] == 64 and stats["files_after"] == 1
    after = spark.read.parquet(p).orderBy("id").collect()
    assert after == before
    # no stray tmp/backup dirs left beside the target
    assert [d for d in tmp_path.iterdir()] == [tmp_path / "frag"]


def test_write_zordered_disjoint_file_ranges(spark, tmp_path):
    """Each output file must own a disjoint Morton-key range -- that
    range disjointness IS what makes file-level min/max pruning work
    on both interleaved dimensions."""
    from binlog_avro_comparator_spark.functions.layout import write_zordered
    from binlog_avro_comparator_spark.functions.zorder import zorder_key

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    p = str(tmp_path / "zordered")
    write_zordered(df, "x", "y", p, n_files=8, bits=6)
    back = spark.read.parquet(p)
    assert back.count() == 4096
    ranges = (
        back.withColumn("__z", zorder_key(F.col("x"), F.col("y"), bits=6))
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"))
        .collect()
    )
    assert len(ranges) == 8
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans  # strictly disjoint, ordered


def test_avi_roundtrip_and_truncation(spark):
    """encode_avi -> _parse_avi roundtrip: header dims and every frame
    byte-exact (odd-length frames exercise RIFF word padding); a
    truncated tail yields the clean frames parsed so far, not an
    error; non-AVI bytes take the fake path with decoder marked."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        _parse_avi,
        encode_avi,
        video_frames_riff,
    )

    frames = [b"frame-one", b"xx", b"odd"]  # odd lengths force padding
    blob = encode_avi(frames, width=320, height=200, usec_per_frame=33_333)
    w, h, upf, back = _parse_avi(blob)
    assert (w, h, upf) == (320, 200, 33_333)
    assert back == frames
    # truncation: drop the last 4 bytes -> final frame lost, rest clean
    w2, h2, _, back2 = _parse_avi(blob[:-4])
    assert (w2, h2) == (320, 200) and back2 == frames[:2]
    assert _parse_avi(b"not a riff container") is None

    media = spark.createDataFrame(
        [(1, "video", blob), (2, "video", b"raw-bytes-not-avi" * 100)],
        "media_id long, kind string, content binary",
    )
    rows = {(r.media_id, r.frame_index): r for r in video_frames_riff(media).collect()}
    assert rows[(1, 0)].decoder == "riff-avi" and rows[(1, 0)].width == 320
    assert rows[(1, 2)].n_frames == 3
    assert rows[(2, 0)].decoder == "fake-deterministic"


def test_salted_shuffle_join_matches_plain_join(spark):
    from binlog_avro_comparator_spark.functions.skew import salted_shuffle_join

    # one hot key (90% of left rows) + a tail
    left = spark.createDataFrame(
        [(1 if i < 900 else i % 50 + 2, i) for i in range(1000)], "k long, lv long"
    )
    right = spark.createDataFrame([(i, i * 10) for i in range(60)], "k long, rv long")
    plain = set(
        (r.k, r.lv, r.rv) for r in left.join(right, on="k", how="inner").collect()
    )
    salted = set(
        (r.k, r.lv, r.rv)
        for r in salted_shuffle_join(left, right, on=["k"], n_salts=4).collect()
    )
    assert salted == plain and len(plain) == 1000
    # left join keeps unmatched left rows exactly once
    left2 = left.union(spark.createDataFrame([(999_999, -1)], "k long, lv long"))
    lj = salted_shuffle_join(left2, right, on=["k"], n_salts=4, how="left")
    assert lj.filter(F.col("k") == 999_999).count() == 1
    assert lj.count() == 1001


def test_source_reputation_not_laundered_by_gopher_cut(spark):
    """Reputation is a CORPUS-level rate: a spam source must not become
    reputable because its worst documents were removed by the Gopher
    gate first.  srcSpam's corpus rate is 16/432 ~= 0.037 (< 0.065),
    even though its one Gopher-surviving doc alone rates 0.5."""
    from binlog_avro_comparator_spark.operators.curation import curation_survivors

    good = " ".join(["the", "wordsmith", "keeper", "a"] * 8)
    rows = [
        (100, good, "en", "srcSpam", 1),               # passes gopher
        (101, " ".join(["zq"] * 400), "en", "srcSpam", 1),  # fails gopher
        (102, good + " extra wordage here", "en", "srcOk", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation_survivors(
        docs,
        max_repetition=1.0,
        max_contamination=2.0,
        gopher_rules=True,
        min_source_stop_rate=0.065,
    )
    assert sorted(r.doc_id for r in out.collect()) == [102]


def test_new_operators_empty_input_safe(spark):
    """Zero-row inputs: every round-4 operator yields an empty (or
    grand-total-only) frame, never a crash -- the behavior a scheduled
    pipeline hits on an empty partition day."""
    from binlog_avro_comparator_spark.operators.analytics import (
        gap_fill_locf,
        misra_gries_heavy_hitters,
        time_rollup,
    )
    from binlog_avro_comparator_spark.operators.snapshot import (
        apply_changes,
        snapshot_diff,
    )
    from binlog_avro_comparator_spark.operators.textstats import (
        gopher_quality_flags,
        source_reputation,
    )

    no_docs = spark.createDataFrame([], DOCS_SCHEMA)
    assert gopher_quality_flags(no_docs).count() == 0
    assert source_reputation(no_docs).count() == 0
    assert misra_gries_heavy_hitters(no_docs, "lang", 0.25).count() == 0
    no_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    rollup = time_rollup(no_events).collect()
    # rollup of nothing = at most the grand-total row (count 0)
    assert all(r.level == "total" and r.n_events == 0 for r in rollup)
    assert gap_fill_locf(no_events).count() == 0
    assert snapshot_diff(
        apply_changes(no_events), apply_changes(no_events)
    ).count() == 0


def test_value_anomalies_flags_planted_outlier(spark):
    from binlog_avro_comparator_spark.operators.analytics import value_anomalies

    rows = [(i, 1000 + i, i % 7, "click", 10.0 + (i % 3), "{}") for i in range(60)]
    rows.append((999, 2000, 1, "click", 10_000.0, "{}"))  # planted outlier
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_ms long, user_id long, event_type string, value double, props string",
    )
    out = {r.event_id: r for r in value_anomalies(ev).collect()}
    assert out[999].is_anomaly
    flagged = [e for e, r in out.items() if r.is_anomaly]
    assert flagged == [999]  # the tight cluster stays unflagged
    assert abs(out[0].zscore) < 1.0


def test_snapshot_diff_classifies_changes(spark):
    """Hand-built event stream: a user created before and untouched
    after the cutoff drops out of the diff; one updated, one created
    after (INSERT), one deleted after (DELETE)."""
    from binlog_avro_comparator_spark.operators.snapshot import (
        apply_changes,
        snapshot_diff,
    )

    base = 1_700_000_000_000_000
    day = 86_400 * 1_000_000
    rows = [
        # user 1: created before cutoff, never touched again
        (1, base, 1, "click", 1.0, "{}"),
        # user 2: created before, updated after -> UPDATE
        (2, base, 2, "click", 2.0, "{}"),
        (3, base + 5 * day, 2, "view", 2.5, "{}"),
        # user 3: created after -> INSERT
        (4, base + 5 * day, 3, "click", 3.0, "{}"),
        # user 4: created before, deleted after -> DELETE
        (5, base, 4, "click", 4.0, "{}"),
        (6, base + 5 * day, 4, "purchase", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    cutoff = F.timestamp_micros(F.lit(base + 2 * day))
    old = apply_changes(ev.filter(F.col("ts") < cutoff))
    new = apply_changes(ev)
    got = {r.user_id: r.change for r in snapshot_diff(old, new).collect()}
    assert got == {2: "UPDATE", 3: "INSERT", 4: "DELETE"}


def test_retention_cohorts_hand_matrix(spark):
    """Two cohorts, hand-checkable offsets: cohort wk0 = users 1,2
    (user 1 returns in wk1 and wk3; user 2 never), cohort wk1 =
    user 3 (returns wk2).  Retention = n_users / cohort size."""
    from binlog_avro_comparator_spark.operators.analytics import retention_cohorts

    wk = 7 * 24 * 3600 * 1_000_000  # a week of microseconds
    base = 1_500_000_000_000_000  # 2017-07-14, a Friday
    rows = [
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + wk, 1, "view", 1.0, "{}"),
        (3, base + 3 * wk, 1, "view", 1.0, "{}"),
        (4, base + 1, 2, "view", 1.0, "{}"),
        (5, base + wk, 3, "view", 1.0, "{}"),
        (6, base + 2 * wk, 3, "view", 1.0, "{}"),
        (7, base, None, "view", 1.0, "{}"),  # null user dropped
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    got = {
        (r.cohort_week, r.week_offset): (r.n_users, r.retention)
        for r in retention_cohorts(ev).collect()
    }
    # base week Monday is 2017-07-10; base+wk Monday is 2017-07-17
    assert got == {
        ("2017-07-10", 0): (2, 1.0),
        ("2017-07-10", 1): (1, 0.5),
        ("2017-07-10", 3): (1, 0.5),
        ("2017-07-17", 0): (1, 1.0),
        ("2017-07-17", 1): (1, 1.0),
    }


def test_event_type_transitions_hand_matrix(spark):
    """user 1: view->click->purchase; user 2: view->view.  Transition
    probabilities are per from-type over the union of both users."""
    from binlog_avro_comparator_spark.operators.analytics import (
        event_type_transitions,
    )

    rows = [
        (1, 1_000, 1, "view"),
        (2, 2_000, 1, "click"),
        (3, 3_000, 1, "purchase"),
        (4, 1_000, 2, "view"),
        (5, 2_000, 2, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long, event_type string"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.p_transition)
        for r in event_type_transitions(ev).collect()
    }
    assert got == {
        ("view", "click"): (1, 0.5),
        ("view", "view"): (1, 0.5),
        ("click", "purchase"): (1, 1.0),
    }


def test_inverted_index_head_posting_tie_break(spark):
    """Head posting is (tf DESC, doc_id ASC): equal tf picks the lower
    doc_id; min_df prunes singleton terms."""
    from binlog_avro_comparator_spark.operators.textstats import inverted_index

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple banana banana"),
            (3, "apple cherry"),
        ],
        "doc_id long, text string",
    )
    got = {r.term: r for r in inverted_index(docs).collect()}
    assert set(got) == {"apple", "banana"}  # cherry has df 1 -> pruned
    assert (got["apple"].df_docs, got["apple"].total_tf) == (3, 4)
    assert (got["apple"].top_doc_id, got["apple"].top_doc_tf) == (1, 2)
    # banana: tf 1 in doc 1, tf 2 in doc 2 -> head is doc 2
    assert (got["banana"].top_doc_id, got["banana"].top_doc_tf) == (2, 2)


def test_term_pmi_independence_and_association(spark):
    """Terms in every doc have PMI 0 with each other; a pair that only
    co-occurs in a subset scores ln(n_ab * N / (df_a * df_b))."""
    import math

    from binlog_avro_comparator_spark.operators.textstats import term_pmi

    docs = spark.createDataFrame(
        [(i, "alpha beta" + (" gamma delta" if i < 4 else "")) for i in range(8)],
        "doc_id long, text string",
    )
    got = {(r.term_a, r.term_b): r.pmi for r in term_pmi(docs).collect()}
    assert got[("alpha", "beta")] == 0.0
    assert got[("delta", "gamma")] == round(math.log(4 * 8 / (4 * 4)), 6)
    assert got[("alpha", "gamma")] == round(math.log(4 * 8 / (8 * 4)), 6)


def test_shingle_novelty_first_holder_wins(spark):
    """doc 1 owns all its shingles (first by doc_id); an exact copy at
    doc 2 scores 0; a half-overlapping doc scores the novel fraction."""
    from binlog_avro_comparator_spark.operators.dedup import shingle_novelty

    text = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, text),
            (2, text),  # exact copy -> nothing novel
            (3, "one two three six seven"),  # shares 1 of 3 shingles
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in shingle_novelty(docs).collect()}
    assert (got[1].n_shingles, got[1].n_novel, got[1].novelty) == (3, 3, 1.0)
    assert (got[2].n_shingles, got[2].n_novel, got[2].novelty) == (3, 0, 0.0)
    # doc 3 shingles: "one two three" (seen), "two three six", "three six seven"
    assert (got[3].n_shingles, got[3].n_novel) == (3, 2)
    assert got[3].novelty == round(2 / 3, 6)


def test_pagerank_integer_contract_and_partition_invariance(spark):
    """Hand graph: star c1-{s1,s2,s3} + chain c2-s1.  s1 (degree 2)
    must outrank s2/s3 (degree 1, same neighborhood); total mass stays
    within rounding-loss of RANK_UNIT; repartitioning the edge input
    changes nothing (integer sums are order-independent)."""
    from binlog_avro_comparator_spark.operators.graph import (
        RANK_UNIT,
        pagerank,
        purchase_edges,
    )

    orders = spark.createDataFrame(
        [(1, 101), (2, 101), (3, 102)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(1, 11), (1, 12), (2, 13), (3, 11)], "l_orderkey long, l_suppkey long"
    )
    edges = purchase_edges(orders, lineitem)
    got = {r.node: r.rank_units for r in pagerank(edges).collect()}
    assert set(got) == {"c:101", "c:102", "s:11", "s:12", "s:13"}
    assert got["s:11"] > got["s:12"] == got["s:13"]
    # floor divisions only LOSE mass: total <= UNIT, within n_nodes*iters units
    assert RANK_UNIT - 5 * 3 * 25 < sum(got.values()) <= RANK_UNIT
    again = {
        r.node: r.rank_units for r in pagerank(edges.repartition(7)).collect()
    }
    assert again == got


def test_pq_codes_shape_and_subspace_independence(spark):
    """Every vector gets exactly m codes in [0, k); two vectors equal
    in one subspace but different in another share the code only where
    they agree (subspace quantizers are independent)."""
    import numpy as np

    from binlog_avro_comparator_spark.operators.similarity import pq_codes

    rng = np.random.RandomState(7)
    base = rng.rand(300, 64).astype(float)
    # vec 298 copies vec 0's FIRST 16 dims (subspace 0) only
    base[298, :16] = base[0, :16]
    rows = [(i, [float(v) for v in base[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_codes(emb).collect()
    assert len(out) == 300 * 4
    assert all(0 <= r.code < 8 for r in out)
    codes = {(r.vec_id, r.subspace): r.code for r in out}
    assert codes[(298, 0)] == codes[(0, 0)]


def test_pq_adc_topk_retrieves_planted_clusters(spark):
    """Corpus of 8 well-separated block clusters (cluster j spikes dims
    [8j, 8j+8)): ADC over PQ codes must retrieve same-cluster neighbors
    for every query, and ranks must be a clean 1..5 per query."""
    from binlog_avro_comparator_spark.operators.similarity import pq_adc_topk

    rows = []
    for i in range(296):
        j = i % 8
        # deterministic small jitter, no RNG
        vec = [0.5 + ((i * 64 + d) % 7) * 0.01 for d in range(64)]
        for d in range(8 * j, 8 * j + 8):
            vec[d] = 10.0 + ((i + d) % 5) * 0.05
        rows.append((i, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_adc_topk(emb).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(32))
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == [1, 2, 3, 4, 5]
        same = sum(1 for r in rs if r.neighbor_id % 8 == q % 8)
        assert same >= 4, (q, [(r.neighbor_id, r.score) for r in rs])


def test_curation_min_novelty_gate(spark):
    """The novelty gate drops a document assembled entirely from
    already-seen phrasing (novelty 0 vs its sources) while keeping the
    originals; too-short-to-shingle docs survive (score undefined)."""
    from binlog_avro_comparator_spark.operators.curation import curation_survivors

    a = "alpha beta gamma delta epsilon zeta"
    b = "one two three four five six seven"
    recombined = "alpha beta gamma one two three"  # every shingle? no:
    # its shingles: (alpha beta gamma) seen in a; (beta gamma one),
    # (gamma one two) NOVEL; (one two three) seen in b -> novelty 0.5
    rows = [
        (10, a, "en", "s", 1),
        (11, b, "en", "s", 1),
        (12, recombined, "en", "s", 1),
        (13, "hi", "en", "s", 1),  # no shingles -> kept
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    strict = curation_survivors(
        docs, max_repetition=1.0, max_contamination=2.0, min_novelty=0.6
    )
    assert sorted(r.doc_id for r in strict.collect()) == [10, 11, 13]
    loose = curation_survivors(docs, max_repetition=1.0, max_contamination=2.0)
    assert sorted(r.doc_id for r in loose.collect()) == [10, 11, 12, 13]


@pytest.mark.slow
def test_round5_operators_empty_input_safe(spark):
    """Zero-row inputs for the round-5 additions: empty frames out,
    never a crash (the empty-partition-day contract)."""
    from binlog_avro_comparator_spark.operators.analytics import (
        event_type_transitions,
        retention_cohorts,
    )
    from binlog_avro_comparator_spark.operators.dedup import shingle_novelty
    from binlog_avro_comparator_spark.operators.graph import pagerank, purchase_edges
    from binlog_avro_comparator_spark.operators.similarity import (
        pq_adc_topk,
        pq_codes,
    )
    from binlog_avro_comparator_spark.operators.textstats import (
        inverted_index,
        term_pmi,
    )

    no_docs = spark.createDataFrame([], DOCS_SCHEMA)
    assert inverted_index(no_docs).count() == 0
    assert term_pmi(no_docs).count() == 0
    assert shingle_novelty(no_docs).count() == 0
    no_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    assert retention_cohorts(no_events).count() == 0
    assert event_type_transitions(no_events).count() == 0
    no_orders = spark.createDataFrame([], "o_orderkey long, o_custkey long")
    no_li = spark.createDataFrame([], "l_orderkey long, l_suppkey long")
    assert pagerank(purchase_edges(no_orders, no_li)).count() == 0
    no_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert pq_codes(no_emb).count() == 0
    assert pq_adc_topk(no_emb).count() == 0


def test_merge_upsert_semantics(spark):
    """Hand merge: update replaces the WHOLE row (source NULLs win --
    never per-column resurrection of target values), insert adds,
    delete removes, delete-of-absent no-ops, untouched rows pass."""
    from binlog_avro_comparator_spark.operators.snapshot import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, name string, v long",
    )
    source = spark.createDataFrame(
        [
            (2, None, 99, False),   # update: name becomes NULL
            (4, "d", 40, False),    # insert
            (3, "x", 0, True),      # delete
            (5, "y", 0, True),      # delete of absent key: no-op
        ],
        "k long, name string, v long, is_del boolean",
    )
    got = {
        r.k: (r.name, r.v)
        for r in merge_upsert(target, source, ["k"], delete_col="is_del").collect()
    }
    assert got == {1: ("a", 10), 2: (None, 99), 4: ("d", 40)}


def test_merge_upsert_snapshot_invariant(spark):
    """merge(snapshot(<cutoff), delta(>=cutoff, tombstones kept))
    carries exactly the LIVE keys of snapshot(all) -- key-set and
    last-op agreement (n_changes differs by design: MERGE replaces
    rows, it does not sum histories)."""
    from binlog_avro_comparator_spark.operators.snapshot import (
        apply_changes,
        merge_upsert,
    )
    from binlog_avro_comparator_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    target = apply_changes(ev.filter(F.col("ts") < cutoff))
    delta = apply_changes(ev.filter(F.col("ts") >= cutoff), keep_deletes=True)
    merged = merge_upsert(
        target,
        delta.withColumn("__d", F.col("last_op") == "DELETE"),
        ["user_id"],
        delete_col="__d",
    )
    full = apply_changes(ev)
    m = {r.user_id: (r.last_op, r.last_event_id) for r in merged.collect()}
    f = {r.user_id: (r.last_op, r.last_event_id) for r in full.collect()}
    assert m == f


def test_bm25_prefers_rare_term_and_short_docs(spark):
    """BM25 sanity on a hand corpus: a doc matching the RARE query
    term outranks one matching only the common term; among equal-tf
    matches the shorter document scores higher (length normalization);
    non-matching docs are absent."""
    from binlog_avro_comparator_spark.operators.textstats import bm25_topk

    filler = " ".join(["pad"] * 30)
    docs = spark.createDataFrame(
        [
            (1, "rare common"),                  # short, both terms
            (2, "rare common " + filler),        # long, both terms
            (3, "common " + filler),             # common only
            (4, "common common common"),         # common only, high tf
            (5, filler),                         # no match
            (6, "common"),                       # common only, short
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, query_terms=("rare", "common"), k=6).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert 5 not in ranked
    # rare-term docs hold the top two slots; short beats long
    assert ranked[:2] == [1, 2]
    scores = {r.doc_id: r.score for r in out}
    assert scores[1] > scores[2] > scores[3]


def test_weighted_sample_statistics_and_determinism(spark):
    """A-ES sampling: over a 9:1 weight split, heavy docs dominate the
    sample (statistical bound loose but decisive); output is invariant
    under repartitioning; keys obey the exponential-sort form."""
    from binlog_avro_comparator_spark.operators.textstats import (
        weighted_sample_topk,
    )

    # 200 docs: ids < 100 weight 900, rest weight 100 -> heavy docs are
    # 9x likelier per slot; expected heavy share of a k=40 sample is
    # ~90%, demand > 60%
    docs = spark.createDataFrame(
        [(i, "t", 900 if i < 100 else 100) for i in range(200)],
        "doc_id long, text string, n_chars long",
    )
    out = weighted_sample_topk(docs, k=40).collect()
    assert len(out) == 40
    heavy = sum(1 for r in out if r.doc_id < 100)
    assert heavy > 24, heavy
    again = weighted_sample_topk(docs.repartition(7), k=40).collect()
    assert {(r.doc_id, r.rank) for r in again} == {(r.doc_id, r.rank) for r in out}
    assert all(r.sample_key < 0 for r in out)  # ln(u)/w is negative


def test_triangles_clique_vs_chain(spark):
    """A 4-clique yields its C(4,3)=4 triangles exactly once each; a
    4-chain yields none; orientation (a<b) is preserved."""
    from binlog_avro_comparator_spark.operators.graph import triangles

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    chain = [(10, 11), (11, 12), (12, 13)]
    edges = spark.createDataFrame(clique + chain, "doc_a long, doc_b long")
    got = sorted(
        (r.doc_a, r.doc_b, r.doc_c) for r in triangles(edges).collect()
    )
    assert got == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]


def test_hdr_quantiles_bounded_error_and_merge_invariance(spark):
    """Histogram-sketch quantiles: the midpoint estimate sits inside
    the picked bucket, so the relative error against the exact R-7
    percentile stays within the bucket geometry (6.25%/octave, plus
    centi-unit quantization on small values); sub-16-centi values are
    EXACT; and the bucket counts merge by addition, so the result is
    partitioning-invariant."""
    from binlog_avro_comparator_spark.operators.analytics import hdr_quantiles

    rows = [
        (i, 1_700_000_000_000_000 + i, 1, "click" if i % 2 else "view",
         float(i % 200) + 0.37, "{}")
        for i in range(400)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    out = hdr_quantiles(ev).collect()
    assert len(out) == 2 * 3  # two types x three quantiles
    assert all(r.rel_err <= 0.0725 for r in out), [
        (r.event_type, r.q, r.rel_err) for r in out
    ]
    # values < 0.16 land in the exact unit buckets: estimate == value
    tiny = spark.createDataFrame(
        [(i, 1_700_000_000_000_000, 1, "t", 0.05, "{}") for i in range(20)],
        "event_id long, ts_us long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    trow = hdr_quantiles(tiny).collect()[0]
    assert trow.est_value == 0.055 and trow.exact_value == 0.05
    again = {
        (r.event_type, r.q): r.est_value
        for r in hdr_quantiles(ev.repartition(13)).collect()
    }
    assert again == {(r.event_type, r.q): r.est_value for r in out}


def test_cms_overestimates_and_narrow_width_collides(spark):
    """CMS one-sided error: est >= true always; with a deliberately
    tiny width (w=2) collisions force overcounts, while a comfortable
    width yields exact counts for a handful of keys; partial-agg
    mergeability = repartition invariance."""
    from binlog_avro_comparator_spark.operators.analytics import cms_type_counts

    rows = [
        (i, 1_700_000_000_000_000 + i, 1, ["a", "b", "c", "d", "e"][i % 5], 1.0, "{}")
        for i in range(500)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    wide = {r.key: r for r in cms_type_counts(ev, d=4, w=64).collect()}
    assert all(r.overcount >= 0 for r in wide.values())
    assert all(r.est_n == r.true_n for r in wide.values())  # 5 keys, 64 buckets
    narrow = cms_type_counts(ev, d=2, w=2).collect()
    assert all(r.est_n >= r.true_n for r in narrow)
    assert any(r.overcount > 0 for r in narrow)  # 5 keys into 2 buckets must collide
    again = {r.key: r.est_n for r in cms_type_counts(ev.repartition(9), d=4, w=64).collect()}
    assert again == {k: r.est_n for k, r in wide.items()}


def test_scd2_history_intervals(spark):
    """INSERT/UPDATE open versions, any next change closes the open
    one, a DELETE closes without opening -- and the post-delete
    re-insert starts a NEW interval after a coverage gap."""
    from binlog_avro_comparator_spark.operators.snapshot import scd2_history

    base = 1_700_000_000_000_000  # microseconds
    s = 1_000_000
    ev = _events(
        spark,
        [
            (1, base, 10, "click", 1.0, "{}"),           # v1
            (2, base + 1 * s, 10, "view", 2.0, "{}"),    # v2
            (3, base + 2 * s, 10, "purchase", 0.0, "{}"),  # DELETE closes v2
            (4, base + 3 * s, 10, "click", 9.0, "{}"),   # v3, open
            (5, base, 20, "signup", 5.0, "{}"),          # non-DML: no version
        ],
    )
    rows = {r.version: r for r in scd2_history(ev).collect()}
    ms = base // 1000
    assert set(rows) == {1, 2, 3}
    assert (rows[1].valid_from_ms, rows[1].valid_to_ms) == (ms, ms + 1000)
    assert (rows[2].valid_from_ms, rows[2].valid_to_ms) == (ms + 1000, ms + 2000)
    assert rows[2].op == "UPDATE" and not rows[2].is_current
    # v3 opens AFTER the deleted gap [t+2s, t+3s) and stays open
    assert rows[3].valid_from_ms == ms + 3000 and rows[3].valid_to_ms is None
    assert rows[3].is_current and rows[3].value == 9.0


def test_scd2_lookup_point_in_time(spark):
    """Probes resolve against the half-open interval containing them:
    inclusive of valid_from, exclusive of valid_to; NULL before the
    first version and inside a deleted gap."""
    from binlog_avro_comparator_spark.operators.snapshot import (
        scd2_history,
        scd2_lookup,
    )

    base = 1_700_000_000_000_000
    s = 1_000_000
    ev = _events(
        spark,
        [
            (1, base, 10, "click", 1.0, "{}"),
            (2, base + 1 * s, 10, "view", 2.0, "{}"),
            (3, base + 2 * s, 10, "purchase", 0.0, "{}"),
            (4, base + 3 * s, 10, "click", 9.0, "{}"),
        ],
    )
    ms = base // 1000
    probes = spark.createDataFrame(
        [
            (100, 10, ms - 1),     # pre-first-version -> NULL
            (101, 10, ms),         # == valid_from of v1 -> v1 (inclusive)
            (102, 10, ms + 999),   # inside v1
            (103, 10, ms + 1000),  # == valid_to of v1 -> v2 (exclusive end)
            (104, 10, ms + 2500),  # deleted gap -> NULL
            (105, 10, ms + 9000),  # open current version -> v3
        ],
        "probe_event_id long, user_id long, probe_ts_ms long",
    )
    got = {
        r.probe_event_id: r.version
        for r in scd2_lookup(scd2_history(ev), probes).collect()
    }
    assert got == {100: None, 101: 1, 102: 1, 103: 2, 104: None, 105: 3}


def test_measure_profile_sets_and_totals(spark):
    """The melt produces one row per (row, measure); the grouping sets
    emit per-flag stats AND measure totals in the same frame, totals
    marked is_total=1 with a NULL flag; sums are decimal-exact."""
    from binlog_avro_comparator_spark.operators.analytics import measure_profile

    li = spark.createDataFrame(
        [("A", 1.0, 10.0, 0.1, 0.02), ("A", 2.0, 20.0, 0.2, 0.04),
         ("R", 4.0, 40.0, 0.3, 0.06)],
        "l_returnflag string, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double",
    )
    rows = measure_profile(li).collect()
    # 2 flags x 4 measures + 4 measure totals
    assert len(rows) == 12
    per = {(r.l_returnflag, r.measure): r for r in rows if r.is_total == 0}
    tot = {r.measure: r for r in rows if r.is_total == 1}
    assert all(r.l_returnflag is None for r in tot.values())
    assert per[("A", "l_quantity")].sum_value == 3.0
    assert per[("A", "l_quantity")].avg_value == 1.5
    assert tot["l_quantity"].n == 3 and tot["l_quantity"].sum_value == 7.0
    assert tot["l_discount"].sum_value == 0.6  # decimal sum: no fp drift


def test_sign_bit_words_packing(spark):
    """Sign words equal a Python bit-pack against per-dim means,
    including bit 63 (long-min, the OR-fold edge) and popcount."""
    from binlog_avro_comparator_spark.operators.similarity import (
        SIGN_POWERS,
        sign_bit_words,
    )

    import random

    rng = random.Random(7)
    dim = 64
    vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(20)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    means = [round(sum(v[d] for v in vecs) / len(vecs), 6) for d in range(dim)]

    def pack(v):
        w = 0
        for d in range(dim):
            if v[d] > means[d]:
                w |= SIGN_POWERS[d] & ((1 << 64) - 1)
        return w - (1 << 64) if w >= (1 << 63) else w

    got = {r.vec_id: r for r in sign_bit_words(emb).collect()}
    for i, v in enumerate(vecs):
        assert got[i].sign_word == pack(v), i
        assert got[i].n_pos == bin(pack(v) & ((1 << 64) - 1)).count("1")
    # bit 63 must actually be exercised somewhere in the sample
    assert any(r.sign_word < 0 for r in got.values())


def test_hamming_topk_agrees_with_bruteforce_on_planted(spark):
    """On a corpus of two well-separated planted clusters the Hamming
    shortlist keeps the true neighbors, so top-k == exact top-k."""
    from binlog_avro_comparator_spark.operators.similarity import (
        cosine_topk,
        hamming_topk,
    )

    import random

    rng = random.Random(3)
    dim = 64

    def around(center, n):
        return [
            [c + rng.uniform(-0.05, 0.05) for c in center] for _ in range(n)
        ]

    a = [1.0 if d < 32 else -1.0 for d in range(dim)]
    b = [-1.0 if d < 32 else 1.0 for d in range(dim)]
    vecs = around(a, 20) + around(b, 20)
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(emb, n_queries=4, k=3).collect()
    }
    # rerank >= cluster size: same-cluster words are identical (Hamming
    # 0 ties), so a smaller shortlist would cut true neighbors by the
    # vec_id tie-break -- the documented ANN recall/rerank trade
    got = hamming_topk(emb, n_queries=4, k=3, rerank=20).collect()
    assert {(r.query_id, r.rank): r.neighbor_id for r in got} == exact
    # stage-1 metric is carried through: same-cluster neighbors are
    # Hamming-near while the planted opposite cluster is ~dim away
    assert all(r.hamming_dist <= 16 for r in got)


def test_kmv_set_ops_exact_below_k(spark):
    """With fewer than k distinct users per side the sketches ARE the
    sets, so every estimate must equal its exact twin -- the
    boundary that pins the estimator wiring (union merge, common
    count, jaccard, intersection product)."""
    from binlog_avro_comparator_spark.operators.analytics import kmv_set_ops

    rows = []
    # A = u0..u19, B = u10..u29 (overlap 10), C = u0..u4 (subset of A)
    for u in range(20):
        rows.append((f"u{u}", "A"))
    for u in range(10, 30):
        rows.append((f"u{u}", "B"))
    for u in range(5):
        rows.append((f"u{u}", "C"))
    ev = spark.createDataFrame(
        [(uid, t, i) for i, (uid, t) in enumerate(rows)],
        "user_id string, event_type string, event_id long",
    )
    got = {(r.type_a, r.type_b): r for r in kmv_set_ops(ev).collect()}
    ab = got[("A", "B")]
    assert ab.exact_a == 20 and ab.exact_b == 20
    assert ab.exact_intersection == 10 and ab.exact_union == 30
    assert ab.n_union_kept == 30 and ab.est_union == 30.0
    assert ab.sketch_common == 10
    assert ab.jaccard_est == round(10 / 30, 6)
    assert ab.est_intersection == round(10 / 30 * 30.0, 4)
    ac = got[("A", "C")]
    assert ac.exact_intersection == 5 and ac.sketch_common == 5
    bc = got[("B", "C")]  # disjoint pair
    assert bc.exact_intersection == 0 and bc.sketch_common == 0
    assert bc.jaccard_est == 0.0 and bc.est_intersection == 0.0


def test_kmv_union_sketch_composability(spark):
    """The merged pair sketch equals the sketch of the concatenated
    corpus: bottom-k(bottom-k(A) ++ bottom-k(B)) == bottom-k(A ++ B).
    This is the property that lets two days' sketches merge without
    the raw data."""
    from binlog_avro_comparator_spark.operators.analytics import (
        _kmv_bottom_k,
        kmv_set_ops,
    )

    import random

    rng = random.Random(11)
    rows = [(f"u{rng.randrange(400)}", t, i)
            for i, t in enumerate(["A"] * 600 + ["B"] * 600)]
    ev = spark.createDataFrame(
        rows, "user_id string, event_type string, event_id long"
    )
    merged = {
        (r.type_a, r.type_b): r for r in kmv_set_ops(ev).collect()
    }[("A", "B")]
    # sketch of the union corpus: relabel both types to one
    from pyspark.sql import functions as F

    union_ks = _kmv_bottom_k(
        ev.withColumn("event_type", F.lit("U"))
    ).collect()[0].ks
    assert merged.n_union_kept == len(union_ks)
    assert merged.union_kth == max(union_ks)


def test_ann_recall_report_planted_clusters(spark):
    """On well-separated planted clusters every tier retrieves the
    true neighbors: recall 1.0 for hamming/ivf-style exact-rerank
    paths (denominator = n_queries * k, n_returned bounded by it)."""
    from binlog_avro_comparator_spark.operators.similarity import (
        ann_recall_report,
    )

    import random

    rng = random.Random(5)
    dim = 64

    def around(center, n):
        return [
            [c + rng.uniform(-0.05, 0.05) for c in center] for _ in range(n)
        ]

    a = [1.0 if d < 32 else -1.0 for d in range(dim)]
    b = [-1.0 if d < 32 else 1.0 for d in range(dim)]
    # cluster size 15: each query's 14 same-cluster candidates all tie
    # at Hamming 0, so the default rerank=20 shortlist covers them and
    # the exact re-rank recovers the true top-k
    vecs = around(a, 15) + around(b, 15)
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {r.method: r for r in ann_recall_report(emb, n_queries=4, k=3).collect()}
    assert set(got) == {"lsh", "hamming", "ivf"}
    for m, r in got.items():
        assert 0 <= r.total_hits <= r.n_returned <= 12, m
        assert r.recall == round(r.total_hits / 12.0, 6), m
    # hamming reranks 20 >= cluster size candidates exactly: full recall
    assert got["hamming"].recall == 1.0


def test_bpe_merge_candidates_textbook_counts(spark):
    """Pair counts equal the textbook per-occurrence enumeration:
    'aaa' contributes ('a','a') twice per occurrence, 1-char words
    contribute nothing, counts weight by word frequency."""
    from binlog_avro_comparator_spark.operators.textstats import (
        bpe_merge_candidates,
    )

    docs = spark.createDataFrame(
        [(1, "aaa ab"), (2, "aaa x"), (3, "ab ab")],
        "doc_id long, text string",
    )
    got = {(r.left_sym, r.right_sym): r for r in bpe_merge_candidates(docs).collect()}
    # 'aaa' freq 2 -> ('a','a') 2*2=4; 'ab' freq 3 -> ('a','b') 3; 'x' nothing
    assert got[("a", "a")].pair_count == 4
    assert got[("a", "b")].pair_count == 3
    assert set(got) == {("a", "a"), ("a", "b")}
    assert got[("a", "a")].merge_rank == 1 and got[("a", "b")].merge_rank == 2


def test_hilbert_key_matches_reference_and_adjacency(spark):
    """hilbert_key == the classic xy2d walk (order-1 canonical U plus a
    full order-4 grid incl. the pmod fold of out-of-range/negative
    keys), and consecutive curve positions are ADJACENT cells -- the
    locality property Z-order lacks and the reason this key exists."""
    from binlog_avro_comparator_spark.functions.hilbert import hilbert_key

    def xy2d(n_bits, x, y):
        d = 0
        s = 1 << (n_bits - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = [(x, y) for x in range(16) for y in range(16)] + [(-3, 70001), (99999, -1)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = df.select(
        "x", "y",
        hilbert_key(F.col("x"), F.col("y"), bits=4).alias("h4"),
        hilbert_key(F.col("x"), F.col("y")).alias("h16"),
    ).collect()
    grid = {}
    for r in out:
        if 0 <= r.x < 16 and 0 <= r.y < 16:
            assert r.h4 == xy2d(4, r.x, r.y), (r.x, r.y)
            grid[r.h4] = (r.x, r.y)
        assert r.h16 == xy2d(16, r.x % (1 << 16), r.y % (1 << 16)), (r.x, r.y)
    # curve order-1: (0,0)->0 (0,1)->1 (1,1)->2 (1,0)->3
    assert [grid[d] for d in range(4)][:1] == [(0, 0)]
    # adjacency: every consecutive pair of curve positions is 1 step apart
    for d in range(255):
        (x1, y1), (x2, y2) = grid[d], grid[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d


def test_leakage_safe_splits_cluster_cohesion(spark):
    """Every near-dup cluster lands whole in ONE split (the leakage
    guarantee), and unclustered docs match the doc-level split
    exactly (same salt, same cut points)."""
    from binlog_avro_comparator_spark.operators.textstats import (
        leakage_safe_splits,
        split_assignments,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight ") * 3
    docs = spark.createDataFrame(
        [
            (1, base, "en", "web"),
            (2, base + "tail", "en", "web"),        # near-dup of 1
            (50, "completely different text about spark engines and "
                 "distributed joins " * 5, "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.doc_id: r for r in leakage_safe_splits(docs).collect()}
    assert got[1].split_key == got[2].split_key == 1  # canonical = min id
    assert got[1].split == got[2].split               # cohesion
    doc_level = {r.doc_id: r for r in split_assignments(docs).collect()}
    assert got[50].split_key == 50
    assert got[50].split == doc_level[50].split
    assert got[1].split == doc_level[1].split  # canonical keeps its own slot


def test_purchase_attribution_semantics(spark):
    """First/last touch resolve inside the session only; direct
    conversions (no prior touch) report nulls and zero; a second
    purchase in the same session counts earlier touches but never the
    earlier purchase."""
    from binlog_avro_comparator_spark.operators.analytics import (
        purchase_attribution,
    )
    from pyspark.sql import functions as F

    m = 60_000
    rows = [
        # user 1, session 1: view, click, purchase, purchase
        (1, 1, "view", 0), (2, 1, "click", m), (3, 1, "purchase", 2 * m),
        (4, 1, "purchase", 3 * m),
        # user 1, session 2 (gap > 30 min): direct purchase
        (5, 1, "purchase", 2 * m + 40 * m),
        # user 2: touch in a PREVIOUS session must not attribute
        (6, 2, "view", 0), (7, 2, "purchase", 50 * m),
    ]
    ev = spark.createDataFrame(
        [(e, u, t, ts) for e, u, t, ts in rows],
        "event_id long, user_id long, event_type string, ts_off long",
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("ts_off")).alias("ts"),
    )
    got = {r.event_id: r for r in purchase_attribution(ev).collect()}
    assert set(got) == {3, 4, 5, 7}
    assert (got[3].first_touch_id, got[3].last_touch_id, got[3].n_touches) == (1, 2, 2)
    # purchase 4: same touches; the earlier purchase 3 is not a touch
    assert (got[4].first_touch_id, got[4].last_touch_id, got[4].n_touches) == (1, 2, 2)
    assert (got[5].first_touch_id, got[5].n_touches) == (None, 0)  # direct
    assert (got[7].first_touch_id, got[7].n_touches) == (None, 0)  # cross-session


def test_dedup_keep_best_prefers_longest(spark):
    """keep-best keeps the LONGEST cluster member where keep-canonical
    keeps the smallest id; unclustered docs always survive."""
    from binlog_avro_comparator_spark.operators.dedup import (
        dedup_keep_best,
        dedup_keep_canonical,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight ") * 3
    docs = spark.createDataFrame(
        [
            (1, base, "en", "web", 100),
            (2, base + " extended tail words", "en", "web", 300),  # longest dup
            (9, "unrelated engine text about shuffles " * 6, "en", "web", 50),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    best = {r.doc_id for r in dedup_keep_best(docs).collect()}
    canon = {r.doc_id for r in dedup_keep_canonical(docs).collect()}
    assert best == {2, 9}   # longest member survives
    assert canon == {1, 9}  # canonical keeps min id


def test_resume_bookmarks_rollup(spark):
    """Bookmarks report the max position, feed-order-last gtid, and
    per-file event counts."""
    from binlog_avro_comparator_spark.operators.compare import resume_bookmarks

    bp = spark.createDataFrame(
        [
            ("f1", 100, "uuid:1", 1),
            ("f1", 300, "uuid:3", 3),
            ("f1", 200, "uuid:2", 2),
            ("f2", 50, "uuid:9", 9),
        ],
        "binlog_file string, binlog_position long, gtid_next string, line_no long",
    )
    got = {r.binlog_file: r for r in resume_bookmarks(bp).collect()}
    assert got["f1"].n_events == 3
    assert got["f1"].last_position == 300
    assert got["f1"].last_line_no == 3 and got["f1"].last_gtid == "uuid:3"
    assert got["f2"].n_events == 1 and got["f2"].last_gtid == "uuid:9"


def test_skew_report_detects_hot_key(spark):
    """A planted 90%-hot key dominates max/skew; summary stats are
    exact over the per-key counts."""
    from binlog_avro_comparator_spark.operators.analytics import (
        join_key_skew_report,
    )
    from pyspark.sql import functions as F

    rows = [(7, i) for i in range(90)] + [(i + 100, 1000 + i) for i in range(10)]
    ev = spark.createDataFrame(rows, "user_id long, event_id long")
    r = join_key_skew_report(ev).collect()[0]
    assert (r.n_keys, r.n_rows, r.max_key_rows, r.top_key) == (11, 100, 90, 7)
    assert r.avg_key_rows == round(100 / 11, 4)
    assert r.skew_factor == round(90 / (100 / 11), 4)


def test_hybrid_search_rrf_fusion(spark):
    """RRF fuses the two rankings: a planted doc that is best on BOTH
    signals wins; fusion scores equal the hand formula from the
    integer ranks; dense scoring touches only BM25 survivors (a doc
    without the query terms never appears, however similar its
    embedding)."""
    from binlog_avro_comparator_spark.operators.textstats import (
        hybrid_search_topk,
    )

    filler = "lorem ipsum dolor sit amet " * 10
    docs = spark.createDataFrame(
        [
            (0, "query doc placeholder", "en", "web"),       # query embedding row
            (1, "spark join fast spark join fast " + filler, "en", "web"),
            (2, "spark " + filler, "en", "web"),
            (3, filler, "en", "web"),                         # no terms: excluded
        ],
        "doc_id long, text string, lang string, source string",
    )
    qv = [1.0] * 8
    embs = spark.createDataFrame(
        [
            (0, qv),
            (1, [0.9] * 8),        # near the query vector
            (2, [-1.0] * 8),       # opposite
            (3, qv),               # identical -- but lexically excluded
        ],
        "vec_id long, embedding array<double>",
    )
    got = hybrid_search_topk(
        docs, embs, query_terms=("spark", "join", "fast"), k=5
    ).collect()
    by_doc = {r.doc_id: r for r in got}
    assert 3 not in by_doc  # dense side probes candidates only
    assert got[0].doc_id == 1  # best on both signals
    for r in got:
        assert r.rrf_score == round(
            1.0 / (60 + r.bm25_rank) + 1.0 / (60 + r.cos_rank), 9
        )


def test_incremental_dedup_matches_planted(spark):
    """A planted new-batch copy of a history doc reports that doc as
    its best match with jaccard ~1 and is_duplicate; a novel new doc
    reports zero/none; history docs never appear in the output."""
    from binlog_avro_comparator_spark.operators.dedup import (
        incremental_dedup_matches,
    )

    hist_text = ("the quick brown fox jumps over the lazy dog and then "
                 "runs far away into the deep dark forest tonight ") * 3
    docs = spark.createDataFrame(
        [
            (1, hist_text, "en", "web"),                        # history
            (3, "unrelated history text about engines " * 8, "en", "web"),
            (10, hist_text, "en", "web"),                       # new: exact copy of 1
            (20, "genuinely novel content nothing shares " * 8, "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.doc_id: r for r in incremental_dedup_matches(docs).collect()}
    assert set(got) == {10, 20}
    assert got[10].best_match_id == 1 and got[10].is_duplicate
    assert got[10].jaccard == 1.0
    assert got[20].best_match_id is None and not got[20].is_duplicate
    assert got[20].jaccard == 0.0 and got[20].n_intersect == 0


def test_matryoshka_recall_planted_prefix_structure(spark):
    """Exact-duplicate clusters interleaved by id parity make recall
    fully deterministic: a prefix that SEES the separating dims
    recovers the full top-k (recall 1.0); a prefix of constant dims
    ties everything, so the id tie-break retrieves the three lowest
    ids and exactly one per query is a true neighbor."""
    from binlog_avro_comparator_spark.operators.similarity import (
        matryoshka_recall_report,
    )

    dim = 64
    # dims 0..1 constant everywhere; dims 2..7 separate the clusters;
    # tail constant.  Cluster A = even ids, B = odd ids (interleaved).
    def vec(cluster):
        sep = 1.0 if cluster == 0 else -1.0
        return [1.0, 1.0] + [sep] * 6 + [0.5] * (dim - 8)

    emb = spark.createDataFrame(
        [(i, vec(i % 2)) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    got = {r.prefix_dim: r for r in matryoshka_recall_report(
        emb, prefix_dims=(2, 8), n_queries=4, k=3
    ).collect()}
    assert set(got) == {2, 8}
    for r in got.values():
        assert r.n_returned == 12
        assert r.recall == round(r.total_hits / 12.0, 6)
    # prefix 8 sees the separating dims: identical ranking to truth
    assert got[8].recall == 1.0
    # prefix 2 is constant: all-tie, ids 1,2,3 (2,3,4 for q>=1) come
    # back and exactly one of the three matches each query's cluster
    assert got[2].total_hits == 4


def test_pipeline_dag_builds_once_and_prunes(spark):
    """Diamond deps build each node exactly once; targets prune the
    graph; cycles and unbound sources error at the right time."""
    import pytest as _pytest

    from binlog_avro_comparator_spark.plans.dag import CycleError, Pipeline
    from pyspark.sql import functions as F

    p = Pipeline()
    p.source("base")
    calls = []

    @p.table()
    def left(spark, base):
        calls.append("left")
        return base.withColumn("l", F.col("x") + 1)

    @p.table()
    def right(spark, base):
        calls.append("right")
        return base.withColumn("r", F.col("x") * 2)

    @p.table()
    def joined(spark, left, right):
        calls.append("joined")
        return left.join(right, "x")

    @p.table()
    def unrelated(spark, base):
        calls.append("unrelated")
        return base

    base = spark.createDataFrame([(1,), (2,)], "x long")
    out = p.materialize(spark, targets=["joined"], sources={"base": base})
    assert sorted(calls) == ["joined", "left", "right"]  # pruned + once each
    assert out["joined"].count() == 2
    assert "unrelated" not in out

    with _pytest.raises(ValueError, match="not bound"):
        p.materialize(spark, targets=["left"])

    p2 = Pipeline()

    @p2.table()
    def a(spark, b):
        return b

    with _pytest.raises(CycleError):
        @p2.table()
        def b(spark, a):
            return a

    p3 = Pipeline()
    with _pytest.raises(ValueError, match="must be 'spark'"):
        @p3.table()
        def bad(base):
            return base


def test_zorder_key_n_matches_reference_and_2col(spark):
    """zorder_key_n == a Python n-way interleave; for n=2 it equals
    zorder_key bit for bit; >62-bit configurations are rejected."""
    import pytest as _pytest

    from binlog_avro_comparator_spark.functions.zorder import (
        zorder_key,
        zorder_key_n,
    )

    def interleave(vals, bits=16):
        n = len(vals)
        z = 0
        for j, v in enumerate(vals):
            v %= 1 << bits
            for i in range(bits):
                z |= ((v >> i) & 1) << (i * n + j)
        return z

    rows = [(1, 2, 3), (65535, 0, 65535), (-5, 70000, 9)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    out = df.select(
        "a", "b", "c",
        zorder_key_n([F.col("a"), F.col("b"), F.col("c")]).alias("z3"),
        zorder_key_n([F.col("a"), F.col("b")]).alias("z2n"),
        zorder_key(F.col("a"), F.col("b")).alias("z2"),
    ).collect()
    for r in out:
        assert r.z3 == interleave([r.a, r.b, r.c]), (r.a, r.b, r.c)
        assert r.z2n == r.z2 == interleave([r.a, r.b])
    with _pytest.raises(ValueError, match="exceeds"):
        zorder_key_n([F.col("a")] * 4, bits=16)


def test_winsorize_and_rolling_mau_semantics(spark):
    """Winsorize clips exactly at the published bounds; rolling MAU
    counts a customer once per trailing window however many months
    they ordered in."""
    from binlog_avro_comparator_spark.operators.analytics import (
        rolling_monthly_active_customers,
        winsorized_values,
    )
    import datetime

    ev = spark.createDataFrame(
        [(i, "t", float(i)) for i in range(1, 101)],
        "event_id long, event_type string, value double",
    )
    got = {r.event_id: r for r in winsorized_values(ev).collect()}
    clipped = [r for r in got.values() if r.was_clipped]
    assert {r.event_id for r in clipped} == {1, 100}
    assert got[1].value_winsorized == got[1].lo_bound
    assert got[100].value_winsorized == got[100].hi_bound
    assert got[50].value_winsorized == 50.0 and not got[50].was_clipped

    d = datetime.date
    orders = spark.createDataFrame(
        [
            (1, d(2024, 1, 5)), (1, d(2024, 1, 20)),   # same month: once
            (1, d(2024, 2, 1)),
            (2, d(2024, 2, 10)),
            (3, d(2024, 4, 1)),
        ],
        "o_custkey long, o_orderdate date",
    )
    got_m = {r.month: r for r in rolling_monthly_active_customers(orders).collect()}
    assert got_m["2024-01"].n_active == 1 and got_m["2024-01"].n_active_rolling == 1
    # Feb: active {1,2}; rolling Jan-Feb distinct {1,2}
    assert got_m["2024-02"].n_active == 2 and got_m["2024-02"].n_active_rolling == 2
    # Apr: active {3}; rolling Feb-Apr distinct {1,2,3}
    assert got_m["2024-04"].n_active == 1 and got_m["2024-04"].n_active_rolling == 3
    assert "2024-03" not in got_m  # no orders -> no monthly row


def test_bootstrap_mean_statistics(spark):
    """Replicate means scatter around the point estimate with the
    bootstrap's expected behavior: every replicate deterministic
    (rerun-identical), n_eff ~ n, and the spread shrinks as the
    standard error should."""
    from binlog_avro_comparator_spark.operators.analytics import (
        bootstrap_mean_price,
    )

    rows = [(i // 4, i % 4, float(100 + (i * 37) % 50)) for i in range(400)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber long, l_extendedprice double"
    )
    out1 = sorted(bootstrap_mean_price(li, b=16).collect())
    out2 = sorted(bootstrap_mean_price(li, b=16).collect())
    assert out1 == out2  # hash-derived weights: rerun-identical
    point = [r for r in out1 if r.replicate == 0][0]
    reps = [r for r in out1 if r.replicate > 0]
    assert len(reps) == 16 and point.n_eff == 400
    # Poisson(1) weights: effective n within 25% of n for every replicate
    assert all(abs(r.n_eff - 400) < 100 for r in reps)
    # replicate means bracket the point estimate and stay within a few
    # standard errors (sd(values) ~ 14.4, se ~ 0.72)
    ms = [r.mean_price for r in reps]
    assert min(ms) < point.mean_price < max(ms)
    assert all(abs(m - point.mean_price) < 5 for m in ms)


def test_ab_test_welch_matches_hand_computation(spark):
    """The Welch statistics equal a from-scratch Python computation
    over the SAME md5-parity split -- pins the portable arm assignment
    and the exact-sums-then-double arithmetic."""
    import hashlib
    import math

    from binlog_avro_comparator_spark.operators.analytics import ab_test_welch

    rows = [(i, 1000 + i, "t", float(10 + (i * 7) % 13)) for i in range(200)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )
    got = ab_test_welch(ev).collect()
    assert len(got) == 1
    r = got[0]

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16) % 2

    a = [v for (_, u, _, v) in rows if arm(u) == 0]
    b = [v for (_, u, _, v) in rows if arm(u) == 1]
    assert r.n_a == len(a) and r.n_b == len(b)
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = (sum(x * x for x in a) / len(a) - ma * ma) * (len(a) / (len(a) - 1.0))
    vb = (sum(x * x for x in b) / len(b) - mb * mb) * (len(b) / (len(b) - 1.0))
    sa, sb = va / len(a), vb / len(b)
    t = (ma - mb) / math.sqrt(sa + sb)
    df = (sa + sb) ** 2 / (sa * sa / (len(a) - 1) + sb * sb / (len(b) - 1))
    assert abs(r.mean_a - round(ma, 6)) < 1e-9
    assert abs(r.t_stat - round(t, 6)) < 1e-6
    assert abs(r.df - round(df, 6)) < 1e-4
    # Welch df sits between min(n)-1 and n_a+n_b-2
    assert min(r.n_a, r.n_b) - 1 <= r.df <= r.n_a + r.n_b - 2


def test_value_trend_ols_recovers_planted_line(spark):
    """A perfectly linear series fits with the planted slope and
    r2 == 1; a constant series reports slope 0 / r2 0 via the
    zero-variance guard."""
    from binlog_avro_comparator_spark.operators.analytics import value_trend_ols

    rows = []
    for h in range(48):  # value = 5 + 2*(hour index) on the 'lin' type
        ts = f"2024-01-01 {h % 24:02d}:30:00" if h < 24 else f"2024-01-02 {h % 24:02d}:30:00"
        x = 473352 + h  # hour index of 2024-01-01 00:xx UTC is epoch//3600
        rows.append((h, ts, "lin", 5.0 + 2.0 * x))
        rows.append((1000 + h, ts, "flat", 7.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.event_type: r for r in value_trend_ols(ev).collect()}
    assert got["lin"].n == 48
    assert abs(got["lin"].slope_per_hour - 2.0) < 1e-4
    assert abs(got["lin"].r2 - 1.0) < 1e-6
    assert got["flat"].slope_per_hour == 0.0 or abs(got["flat"].slope_per_hour) < 1e-9
    assert got["flat"].r2 == 0.0


def test_cusum_changepoint_finds_level_shift(spark):
    """Minute rate steps from 2/min to 8/min at minute 30 of 60: the
    CUSUM trough sits at the last pre-shift minute (minute 29), where
    the running sum of (count - overall mean) is most negative."""
    from binlog_avro_comparator_spark.operators.analytics import (
        cusum_changepoints,
    )

    rows = []
    eid = 0
    for m in range(60):
        rate = 2 if m < 30 else 8
        for i in range(rate):
            rows.append((eid, f"2024-01-01 00:{m:02d}:{i:02d}", "t"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = cusum_changepoints(ev).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_minutes == 60
    assert r.change_minute == "2024-01-01 00:29:00"
    # mean rate is 5; 30 minutes at -3 deviation -> peak magnitude 90
    assert abs(r.cusum_at_peak - (-90.0)) < 1e-9


def test_basket_pairs_support_and_lift(spark):
    """Hand-built baskets: counts bounded per order, lift > 1 for
    brands that co-occur more than independence predicts."""
    from binlog_avro_comparator_spark.operators.analytics import (
        basket_brand_pairs,
    )

    # 10 orders: A+B together in 6, A alone in 2, B alone in 2... plus
    # C everywhere (independent of both)
    li, pt = [], [(1, "A"), (2, "B"), (3, "C")]
    ln = 0
    for o in range(10):
        parts = [3]
        if o < 6:
            parts += [1, 2]
        elif o < 8:
            parts += [1]
        else:
            parts += [2]
        for p in parts:
            li.append((o, p, ln))
            ln += 1
    lineitem = spark.createDataFrame(
        li, "l_orderkey long, l_partkey long, l_linenumber long"
    )
    part = spark.createDataFrame(pt, "p_partkey long, p_brand string")
    got = {
        (r.brand_a, r.brand_b): r
        for r in basket_brand_pairs(lineitem, part).collect()
    }
    ab = got[("A", "B")]
    assert ab.n_orders_both == 6
    # lift = 6*10/(8*8) = 0.9375
    assert abs(ab.lift - 0.9375) < 1e-9
    # C co-occurs with A in all 8 of A's orders: lift = 8*10/(8*10) = 1
    assert abs(got[("A", "C")].lift - 1.0) < 1e-9
    # duplicate lineitems within an order must not inflate support
    lineitem2 = lineitem.unionAll(lineitem)
    got2 = {
        (r.brand_a, r.brand_b): r.n_orders_both
        for r in basket_brand_pairs(lineitem2, part).collect()
    }
    assert got2[("A", "B")] == 6


def test_hard_negative_mining_planted_clusters(spark):
    """Anchor 0 has a near-exact duplicate (vec 40) and a distinct
    cluster nearby: the positive must be the duplicate and the hard
    negative a non-duplicate at least the margin below it."""
    from binlog_avro_comparator_spark.operators.similarity import (
        hard_negative_pairs,
    )

    rows = []
    # anchors 0..3: unit vectors along distinct-ish directions
    base = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    for i, v in enumerate(base):
        rows.append((i, v))
    # 40: near-duplicate of anchor 0; 41..44 moderately similar to 0
    rows.append((40, [0.999, 0.01, 0.0, 0.0]))
    for j in range(41, 45):
        rows.append((j, [0.8, 0.1 * (j - 40), 0.05, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.query_id: r
        for r in hard_negative_pairs(emb, n_queries=1, k=8).collect()
    }
    r = got[0]
    assert r.positive_id == 40 and r.pos_sim > 0.99
    assert r.hard_negative_id != 40
    assert r.neg_sim < r.pos_sim - 0.02
    # hardest = MOST similar qualifying neighbor: nothing qualifying
    # scores above it
    assert r.neg_sim >= 0.5


def test_erasure_sweep_purges_and_audits_consistently(spark):
    """erase() drops exactly the requested subjects' rows and the
    audit's arithmetic matches: total - purged == surviving rows."""
    from binlog_avro_comparator_spark.operators.curation import (
        erasure_audit,
        erase,
    )

    ev = spark.createDataFrame(
        [(i, i % 7) for i in range(70)], "event_id long, user_id long"
    )
    od = spark.createDataFrame(
        [(i, i % 5) for i in range(20)], "o_orderkey long, o_custkey long"
    )
    req = spark.createDataFrame([(2,), (4,)], "user_id long")
    audit = {
        r.table_name: r
        for r in erasure_audit(
            [("events", ev, "user_id"), ("orders", od, "o_custkey")], req
        ).collect()
    }
    assert audit["events"].n_rows_total == 70
    assert audit["events"].n_rows_purged == 20  # users 2 and 4, 10 rows each
    assert audit["events"].n_subjects_purged == 2
    assert audit["orders"].n_rows_purged == 8  # custkeys 2 and 4, 4 rows each
    survivors = erase(ev, "user_id", req)
    assert survivors.count() == 70 - 20
    assert survivors.filter(F.col("user_id").isin(2, 4)).count() == 0
    # a subject absent from the data audits as a no-op, not an error
    req2 = spark.createDataFrame([(99,)], "user_id long")
    audit2 = erasure_audit([("events", ev, "user_id")], req2).collect()[0]
    assert audit2.n_rows_purged == 0 and audit2.n_subjects_purged == 0


def test_ivm_refresh_equals_full_recompute(spark):
    """The retraction algebra: a user moving between groups across the
    cutoff, a post-cutoff delete, and a brand-new user all land the
    incremental view exactly on the full recompute."""
    from binlog_avro_comparator_spark.operators.snapshot import (
        apply_changes,
        ivm_refresh_typestats,
    )

    rows = [
        # pre-cutoff: u1 INSERT (click), u2 UPDATE-last (view), u3 click
        (1, "2024-01-10 00:00:00", 1, "click", 10.0),
        (2, "2024-01-11 00:00:00", 2, "click", 20.0),
        (3, "2024-01-12 00:00:00", 2, "view", 21.0),
        (4, "2024-01-13 00:00:00", 3, "click", 30.0),
        # post-cutoff: u1 flips to view-group, u3 deleted, u4 appears
        (5, "2024-01-20 00:00:00", 1, "view", 11.0),
        (6, "2024-01-21 00:00:00", 3, "purchase", 0.0),
        (7, "2024-01-22 00:00:00", 4, "click", 40.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.last_op: r for r in ivm_refresh_typestats(ev).collect()}
    full = (
        apply_changes(ev)
        .groupBy("last_op")
        .agg(
            F.count("*").alias("n_users"),
            F.round(
                F.sum(F.col("last_value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_last_value"),
        )
        .collect()
    )
    want = {r.last_op: r for r in full}
    assert set(got) == set(want) == {"INSERT", "UPDATE"}
    for op in want:
        assert got[op].n_users == want[op].n_users, op
        assert got[op].sum_last_value == want[op].sum_last_value, op
    # spot values: INSERT group is u4 only (u1 moved out, u3 deleted)
    assert got["INSERT"].n_users == 1 and got["INSERT"].sum_last_value == 40.0
    # UPDATE group: u1 (11.0) + u2 (21.0)
    assert got["UPDATE"].n_users == 2 and got["UPDATE"].sum_last_value == 32.0


def test_customer_360_segments(spark):
    from binlog_avro_comparator_spark.operators.analytics import customer_360

    orders = spark.createDataFrame(
        [(1, 10, 100.0), (2, 10, 50.0), (3, 20, 25.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "view"),
            (2, "2024-01-02 00:00:00", 10, "click"),
            (3, "2024-01-01 00:00:00", 30, "view"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.entity_id: r for r in customer_360(orders, events).collect()}
    assert got[10].segment == "active_buyer"
    assert got[10].n_orders == 2 and got[10].total_spend == 150.0
    assert got[10].last_event_type == "click"  # latest ts wins
    assert got[20].segment == "dormant_buyer" and got[20].n_events == 0
    assert got[30].segment == "prospect" and got[30].n_orders == 0
    assert got[30].total_spend == 0.0


def test_chi_square_independence_semantics(spark):
    """A perfectly independent 2x2 table scores chi2 == 0; a fully
    dependent one scores chi2 == N (Cramer's V == 1); empty grid
    cells still contribute their expected counts."""
    from binlog_avro_comparator_spark.operators.analytics import (
        chi_square_independence,
    )

    def mk(rows):
        out, eid = [], 0
        for (et, hour, n) in rows:
            for _ in range(n):
                out.append((eid, f"2024-01-01 {hour:02d}:00:00", et))
                eid += 1
        return spark.createDataFrame(
            out, "event_id long, ts string, event_type string"
        ).withColumn("ts", F.to_timestamp("ts"))

    # independent: both types spread 50/50 over both hours
    ind = chi_square_independence(
        mk([("a", 1, 10), ("a", 2, 10), ("b", 1, 20), ("b", 2, 20)])
    ).collect()[0]
    assert ind.dof == 1 and ind.chi2 == 0.0 and ind.cramers_v == 0.0
    # fully dependent: type determines the hour; the (a,2)/(b,1) grid
    # cells are EMPTY and must still contribute
    dep = chi_square_independence(
        mk([("a", 1, 15), ("b", 2, 15)])
    ).collect()[0]
    assert dep.dof == 1
    assert abs(dep.chi2 - 30.0) < 1e-6  # chi2 == N for a perfect 2x2
    assert abs(dep.cramers_v - 1.0) < 1e-9


def test_psi_drift_detects_planted_shift(spark):
    """Identical pre/post distributions score ~0 PSI; a shifted
    post-cutoff distribution scores big; contributions sum to the
    published total."""
    from binlog_avro_comparator_spark.operators.analytics import (
        psi_drift_report,
    )

    def mk(post_offset):
        rows = []
        for i in range(400):
            rows.append((i, "2024-01-05 00:00:00", float(i % 100)))
        for i in range(400):
            rows.append(
                (1000 + i, "2024-01-25 00:00:00", float(i % 100 + post_offset))
            )
        return spark.createDataFrame(
            rows, "event_id long, ts string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))

    stable = psi_drift_report(mk(0)).collect()
    assert len(stable) == 10
    assert all(abs(r.psi_total) < 0.01 for r in stable)
    assert (
        abs(sum(r.psi_contrib for r in stable) - stable[0].psi_total) < 1e-4
    )
    shifted = psi_drift_report(mk(80)).collect()
    assert shifted[0].psi_total > 0.5  # industry "significant drift" >> 0.2


def test_ks_drift_bounds_and_shift(spark):
    """KS == 0 for identical sides, ~1 for disjoint supports, and the
    statistic is invariant to repartitioning (sketch determinism)."""
    from binlog_avro_comparator_spark.operators.analytics import ks_drift_report

    def mk(post_base):
        rows = []
        for i in range(300):
            rows.append((i, "2024-01-05 00:00:00", "t", float(1 + i % 50)))
            rows.append(
                (1000 + i, "2024-01-25 00:00:00", "t", float(post_base + i % 50))
            )
        return spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))

    same = ks_drift_report(mk(1)).collect()[0]
    assert same.ks_stat == 0.0 and same.n_pre == 300 and same.n_post == 300
    disjoint = ks_drift_report(mk(100000)).collect()[0]
    assert disjoint.ks_stat == 1.0
    df = mk(25)
    a = ks_drift_report(df).collect()[0].ks_stat
    b = ks_drift_report(df.repartition(17)).collect()[0].ks_stat
    assert a == b and 0.0 < a < 1.0


def test_mad_anomalies_robust_to_contamination(spark):
    """A single extreme value flags under MAD while barely moving the
    median/MAD; a constant group pins mod_z to 0 (zero-MAD guard)."""
    from binlog_avro_comparator_spark.operators.analytics import mad_anomalies

    rows = [(i, "t", float(10 + i % 5)) for i in range(99)]
    rows.append((99, "t", 10000.0))           # the contaminant
    rows += [(100 + i, "const", 7.0) for i in range(10)]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = {r.event_id: r for r in mad_anomalies(ev).collect()}
    assert got[99].is_anomaly and got[99].mod_z > 100
    # the bulk is clean: values 10..14 around median 12, MAD 1 -> |z| <= 1.35
    assert all(not got[i].is_anomaly for i in range(99))
    assert got[100].mod_z == 0.0 and not got[100].is_anomaly


def test_observation_metrics_single_pass(spark):
    """with_metrics/cdc_ingest_metrics: counters land after one action
    with no second scan, and match a direct aggregate."""
    from binlog_avro_comparator_spark.functions.observe import (
        cdc_ingest_metrics,
        with_metrics,
    )

    ev = spark.createDataFrame(
        [(1, 100, "g1"), (2, 0, None), (3, None, "g3"), (4, 250, "g4")],
        "event_id long, log_position long, gtid string",
    )
    observed, obs = cdc_ingest_metrics(ev)
    out = observed.filter(F.col("log_position").isNotNull()).count()
    assert out == 3  # the observed frame still behaves as the input
    got = obs.get
    assert got["n_rows"] == 4  # metrics see PRE-filter rows (attach point)
    assert got["n_invalid_position"] == 2
    assert got["max_position"] == 250
    assert got["n_missing_gtid"] == 1
    # generic helper: custom metric names
    df2, obs2 = with_metrics(ev, "custom", F.sum("event_id").alias("s"))
    df2.collect()
    assert obs2.get["s"] == 10


def test_twap_weights_by_holding_time(spark):
    """10.0 held for 90% of the day then 20.0 for 10% -> twap 11.0;
    a same-timestamp tie carries zero weight; plain mean would say 15."""
    from binlog_avro_comparator_spark.operators.analytics import twap_daily

    rows = [
        # day is 86400000 ms; first sample holds 0:00->21:36 (77760000
        # ms = 90%), second 21:36->24:00 (8640000 ms = 10%)
        (1, "2024-01-01 00:00:00", 7, 10.0),
        (2, "2024-01-01 21:36:00", 7, 20.0),
        # user 8: two samples at the SAME instant -- first one zero-weight
        (3, "2024-01-02 00:00:00", 8, 999.0),
        (4, "2024-01-02 00:00:00", 8, 5.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {(r.user_id, r.day): r for r in twap_daily(ev).collect()}
    assert got[(7, "2024-01-01")].twap == 11.0
    assert got[(7, "2024-01-01")].n_samples == 2
    assert got[(8, "2024-01-02")].twap == 5.0  # 999 held zero ms


def test_path_trigrams_ordering_and_bounds(spark):
    from binlog_avro_comparator_spark.operators.analytics import (
        event_path_trigrams,
    )

    rows, eid = [], 0
    for u in range(5):  # every user walks a->b->c->b
        for i, t in enumerate(["a", "b", "c", "b"]):
            rows.append((eid, f"2024-01-01 00:0{i}:00", u, t))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = event_path_trigrams(ev, k=5).collect()
    # 2 distinct trigrams per user: (a,b,c) and (b,c,b), 5 each
    assert len(got) == 2
    assert got[0].n == 5 and got[1].n == 5
    # deterministic tie order: (a,b,c) before (b,c,b)
    assert (got[0].step_1, got[0].step_2, got[0].step_3) == ("a", "b", "c")
    # paths never cross user boundaries: no trigram ends at another
    # user's first event
    assert all(r.step_3 in ("c", "b") for r in got)


def test_hll_rolling_distinct_merges_hours(spark):
    """Hand-built hours: users seen in hour H count in H..H+2; the
    sketch-union estimate tracks the exact rolling count."""
    from binlog_avro_comparator_spark.operators.analytics import (
        hll_rolling_distinct,
    )

    rows = []
    eid = 0
    # hour 0: users 0..9; hour 1: users 5..14; hour 5: user 100
    for h, users in [(0, range(10)), (1, range(5, 15)), (5, [100])]:
        for u in users:
            rows.append((eid, f"2024-01-01 {h:02d}:30:00", u))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.hour: r for r in hll_rolling_distinct(ev).collect()}
    # hour 1 sees hour-0 and hour-1 users: 15 distinct, 2 merged hours
    assert got["2024-01-01 01:00:00"].n_exact_rolling == 15
    assert got["2024-01-01 01:00:00"].n_hours_merged == 2
    # hour 3 sees only hour-1 users (0 aged out)
    assert got["2024-01-01 03:00:00"].n_exact_rolling == 10
    # hour 5 is isolated
    assert got["2024-01-01 05:00:00"].n_exact_rolling == 1
    assert all(r.within_bound for r in got.values())
    # hour 2 merges both source hours too
    assert got["2024-01-01 02:00:00"].n_exact_rolling == 15


def test_dedup_method_agreement_planted_corpus(spark):
    """A corpus where near-dup pairs are unambiguous: every method
    finds the two planted copy-pairs, so all agreements are 1.0; the
    output carries exactly the 3 method combinations."""
    from binlog_avro_comparator_spark.operators.dedup import (
        dedup_method_agreement,
    )

    base1 = "the quick brown fox jumps over the lazy dog " * 30
    base2 = "pack my box with five dozen liquor jugs today " * 30
    docs = []
    for i in range(40):  # 40 distinct background docs
        docs.append((i, f"unique document number {i} " + f"filler {i} " * 60))
    docs += [(100, base1), (101, base1), (102, base2), (103, base2)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.method_a, r.method_b): r for r in dedup_method_agreement(d).collect()}
    assert set(got) == {
        ("minhash", "ngram"),
        ("minhash", "simhash"),
        ("ngram", "simhash"),
    }
    for r in got.values():
        assert r.n_both == 2 and r.n_a == 2 and r.n_b == 2
        assert r.agreement == 1.0


def test_scd2_audit_detects_planted_corruption(spark):
    """A healthy built history audits consistent; hand-corrupted
    interval rows trip exactly the right counters."""
    from binlog_avro_comparator_spark.operators.snapshot import (
        scd2_audit,
        scd2_history,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0),
        (2, "2024-01-02 00:00:00", 1, "view", 2.0),
        (3, "2024-01-03 00:00:00", 1, "purchase", 0.0),  # delete -> gap
        (4, "2024-01-04 00:00:00", 1, "click", 3.0),
        (5, "2024-01-01 00:00:00", 2, "click", 9.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    hist = scd2_history(ev)
    ok = scd2_audit(hist).collect()[0]
    assert ok.consistent and ok.n_overlaps == 0 and ok.n_multi_open == 0
    assert ok.n_gaps == 1  # the delete hole, reported not failed
    # corrupt: make user 1's first version overlap into the second
    bad = hist.withColumn(
        "valid_to_ms",
        F.when(
            (F.col("user_id") == 1) & (F.col("version") == 1),
            F.col("valid_to_ms") + 86400000 * 2,
        ).otherwise(F.col("valid_to_ms")),
    )
    r = scd2_audit(bad).collect()[0]
    assert not r.consistent and r.n_overlaps == 1


def test_join_plan_report_exact_cardinality_and_ladder(spark):
    """est_join_rows equals the actual join count; the strategy ladder
    picks broadcast for a small side and salted_shuffle under a
    planted hot key."""
    from binlog_avro_comparator_spark.operators.analytics import (
        join_plan_report,
    )

    left = spark.createDataFrame(
        [(i, i % 10) for i in range(1000)], "event_id long, user_id long"
    )
    right = spark.createDataFrame(
        [(i, i % 10) for i in range(50)], "o_orderkey long, o_custkey long"
    )
    r = join_plan_report(left, "user_id", right, "o_custkey", broadcast_rows=100).collect()[0]
    actual = left.join(right, left.user_id == right.o_custkey).count()
    assert r.est_join_rows == actual == 1000 * 5  # 100 x 5 per key x 10 keys
    assert r.strategy == "broadcast" and r.n_join_keys == 10
    # hot key: 91% of the left on key 0, small broadcast ruled out
    hot = spark.createDataFrame(
        [(i, 0 if i < 9100 else i % 10) for i in range(10000)],
        "event_id long, user_id long",
    )
    r2 = join_plan_report(hot, "user_id", right, "o_custkey", broadcast_rows=10).collect()[0]
    assert r2.strategy == "salted_shuffle" and r2.top_key == 0
    assert r2.skew_factor > 8.0


def test_lang_id_confusion_planted_labels(spark):
    """Docs whose stopwords unambiguously identify their language:
    diagonal cells dominate, recall/accuracy arithmetic checks out."""
    from binlog_avro_comparator_spark.operators.textstats import (
        lang_id_confusion,
    )

    en = "the and is of to in that it was he for on are with " * 5
    fr = "le la les et de un une est dans que pour sur avec ne " * 5
    docs = [(i, en, "en") for i in range(8)] + [
        (10 + i, fr, "fr") for i in range(4)
    ] + [(20, fr, "en")]  # one mislabeled row -> off-diagonal cell
    d = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {(r.lang, r.lang_guess): r for r in lang_id_confusion(d).collect()}
    assert got[("en", "en")].n == 8
    assert got[("fr", "fr")].n == 4 and got[("fr", "fr")].recall == 1.0
    assert got[("en", "fr")].n == 1  # the planted mislabel
    assert abs(got[("en", "en")].recall - 8 / 9) < 1e-6
    assert abs(got[("en", "en")].accuracy - 12 / 13) < 1e-6


def test_recursive_closure_chains(spark):
    """A 4-doc near-dup chain closes to all C(4,2) reach pairs through
    the recursive CTE, and disconnected pairs stay separate."""
    from binlog_avro_comparator_spark.operators.dedup import lsh_candidate_pairs  # noqa: F401

    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    ).createOrReplaceTempView("nd_pairs")
    out = sorted(
        (r.doc_a, r.doc_b)
        for r in spark.sql(
            """
WITH RECURSIVE reach(doc_a, doc_b) AS (
  SELECT doc_a, doc_b FROM nd_pairs
  UNION ALL
  SELECT r.doc_a, p.doc_b FROM reach r JOIN nd_pairs p ON p.doc_a = r.doc_b
)
SELECT DISTINCT doc_a, doc_b FROM reach"""
        ).collect()
    )
    assert out == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (10, 11)]


def test_template_dedup_collapses_numbered_boilerplate(spark):
    """Docs differing only in digits/whitespace fold into one template
    family with n_distinct_texts > 1; genuinely distinct docs don't."""
    from binlog_avro_comparator_spark.operators.dedup import template_dedup

    docs = [
        (1, "Order #8231 shipped  on 2024-01-07"),
        (2, "Order #99 shipped on 1999-12-31"),
        (3, "Order #8231 shipped  on 2024-01-07"),  # byte-identical to 1
        (4, "A completely different document"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.keep_doc_id: r for r in template_dedup(d).collect()}
    assert len(got) == 2
    fam = got[1]
    assert fam.n_copies == 3 and fam.n_distinct_texts == 2
    assert got[4].n_copies == 1 and got[4].n_distinct_texts == 1


def test_conversion_ab_two_proportion(spark):
    """Hand-checkable conversion rates per arm; pooled z matches a
    from-scratch computation over the same md5 split."""
    import hashlib
    import math

    from binlog_avro_comparator_spark.operators.analytics import (
        conversion_ab_test,
    )

    rows = []
    for u in range(100):
        rows.append((u * 2, u, "view"))
        if u % 3 == 0:  # every third user converts
            rows.append((u * 2 + 1, u, "purchase"))
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    r = conversion_ab_test(ev).collect()[0]

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16) % 2

    a = [u for u in range(100) if arm(u) == 0]
    b = [u for u in range(100) if arm(u) == 1]
    ca = sum(1 for u in a if u % 3 == 0)
    cb = sum(1 for u in b if u % 3 == 0)
    assert (r.n_a, r.n_b, r.conv_a, r.conv_b) == (len(a), len(b), ca, cb)
    pa, pb = ca / len(a), cb / len(b)
    pool = (ca + cb) / 100
    se = math.sqrt(pool * (1 - pool) * (1 / len(a) + 1 / len(b)))
    assert abs(r.z_stat - round((pa - pb) / se, 6)) < 1e-6


def test_benford_audit_follows_and_flags(spark):
    """A log-uniform sample scores a small chi2; a constant-first-digit
    sample scores a huge one; shares sum to ~1."""
    import math

    from binlog_avro_comparator_spark.operators.analytics import benford_audit

    # log-uniform over [1, 10^4): first digits follow Benford closely
    ben = [(i, math.exp(math.log(10) * (i * 4.0 / 2000.0))) for i in range(2000)]
    d1 = benford_audit(
        spark.createDataFrame(ben, "o_orderkey long, o_totalprice double")
    ).collect()
    assert abs(sum(r.share for r in d1) - 1.0) < 1e-3
    chi_ben = d1[0].chi2_total
    flat = [(i, 100.0 + i * 0.01) for i in range(2000)]  # all start with 1
    d2 = benford_audit(
        spark.createDataFrame(flat, "o_orderkey long, o_totalprice double")
    ).collect()
    assert d2[0].chi2_total > 100 * max(chi_ben, 1.0)


def test_abc_classes_two_phase_equals_global(spark):
    """The bucketed prefix sum equals a driver-side global cumsum, and
    the class boundaries land where the shares say."""
    from binlog_avro_comparator_spark.operators.analytics import abc_classes

    rows = [(k, float(1000 - k)) for k in range(100)]  # distinct revenues
    orders = spark.createDataFrame(rows, "o_custkey long, o_totalprice double")
    got = sorted(abc_classes(orders).collect(), key=lambda r: -r.revenue)
    total = sum(v for _, v in rows)
    cum = 0.0
    for r in got:
        cum += r.revenue
        assert abs(r.cum_share - round(cum / total, 6)) < 1e-6
    assert got[0].abc_class == "A" and got[-1].abc_class == "C"
    # ties share buckets: duplicate revenues don't break exactness
    dup = spark.createDataFrame(
        [(k, 50.0) for k in range(40)], "o_custkey long, o_totalprice double"
    )
    gd = sorted(abc_classes(dup).collect(), key=lambda r: r.o_custkey)
    assert abs(gd[-1].cum_share - 1.0) < 1e-9
    assert [round(r.cum_share * 40) for r in gd] == list(range(1, 41))


def test_monitor_cli_end_to_end(spark, tmp_path):
    """The monitor CLI runs every gate over a healthy feed (exit 0)
    and trips on a drifted one (exit 3), emitting one JSON line per
    gate plus the verdict."""
    import io
    import json
    from contextlib import redirect_stdout

    from binlog_avro_comparator_spark.monitor import main as monitor_main

    def write(path, post_offset):
        rows = []
        for i in range(300):
            rows.append((i, "2024-01-05 00:00:00", 1, "click", float(i % 50)))
            rows.append(
                (1000 + i, "2024-01-25 00:00:00", 2, "click",
                 float(i % 50 + post_offset))
            )
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, value double",
        ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(path)

    healthy = str(tmp_path / "healthy")
    write(healthy, 0)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = monitor_main(["--events", healthy], spark=spark)
    lines = [json.loads(x) for x in buf.getvalue().splitlines() if x.strip()]
    assert rc == 0
    assert lines[-1]["verdict"] == "HEALTHY"
    assert {l.get("gate") for l in lines[:-1]} == {
        "psi", "ks", "anomalies", "bursts", "cusum"
    }
    drifted = str(tmp_path / "drifted")
    write(drifted, 500)
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        rc2 = monitor_main(["--events", drifted], spark=spark)
    lines2 = [json.loads(x) for x in buf2.getvalue().splitlines() if x.strip()]
    assert rc2 == 3
    assert lines2[-1]["verdict"] == "ALERT"
    assert "psi" in lines2[-1]["tripped"] and "ks" in lines2[-1]["tripped"]


@pytest.mark.slow
def test_auto_join_ladder_and_equivalence(spark):
    """auto_join picks the expected strategy per shape and every
    strategy returns exactly the plain join's rows."""
    from binlog_avro_comparator_spark.functions.skew import auto_join

    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(10)], "k long, name string"
    )

    def rows(df):
        return sorted(map(tuple, df.select("k", "v", "name").collect()))

    small_left = spark.createDataFrame(
        [(i % 10, i) for i in range(200)], "k long, v long"
    )
    j, s = auto_join(small_left, right, ["k"], broadcast_rows=50)
    assert s == "broadcast"
    assert rows(j) == rows(small_left.join(right, "k"))
    hot = spark.createDataFrame(
        [(0 if i < 1800 else i % 10, i) for i in range(2000)], "k long, v long"
    )
    # replicate the dim so neither side is broadcastable at threshold 5
    big_right = right.unionAll(right)
    j2, s2 = auto_join(hot, big_right, ["k"], broadcast_rows=5)
    assert s2 == "salted_shuffle"
    assert rows(j2) == rows(hot.join(big_right, "k"))
    flat = spark.createDataFrame(
        [(i % 10, i) for i in range(2000)], "k long, v long"
    )
    j3, s3 = auto_join(flat, big_right, ["k"], broadcast_rows=5)
    assert s3 == "shuffle"
    assert rows(j3) == rows(flat.join(big_right, "k"))
    # left-outer with a small RIGHT broadcasts; with only a small LEFT
    # it must NOT claim broadcast (Spark can't hash-broadcast the
    # preserved side) -- it falls through to the shuffle tiers
    lo = spark.createDataFrame([(99, 1)], "k long, v long")
    j4, s4 = auto_join(lo, right, ["k"], how="left", broadcast_rows=50)
    assert s4 == "broadcast" and j4.count() == 1
    assert j4.collect()[0].name is None
    j5, s5 = auto_join(lo, big_right, ["k"], how="left", broadcast_rows=5)
    assert s5 in ("shuffle", "salted_shuffle") and j5.count() == 1


def test_embedding_label_drift_detects_shifted_segment(spark):
    """A label whose vectors point opposite the corpus scores a low
    (negative) cosine; an on-distribution label scores near 1; the
    report is repartition-invariant."""
    from binlog_avro_comparator_spark.operators.similarity import (
        embedding_label_drift,
    )

    rows = []
    for i in range(40):  # bulk: along +x with small jitter
        rows.append((i, [1.0, 0.01 * (i % 5), 0.0, 0.0], "bulk"))
    for i in range(40, 50):  # drifted: along -x
        rows.append((i, [-1.0, 0.0, 0.01 * (i % 3), 0.0], "drifted"))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = {r.label: r for r in embedding_label_drift(emb).collect()}
    assert got["bulk"].n_vectors == 40 and got["drifted"].n_vectors == 10
    assert got["bulk"].cos_to_corpus > 0.99
    assert got["drifted"].cos_to_corpus < -0.9
    again = {
        r.label: r.cos_to_corpus
        for r in embedding_label_drift(emb.repartition(7)).collect()
    }
    assert again == {k: v.cos_to_corpus for k, v in got.items()}


def test_multitouch_linear_credit(spark):
    """Hand journey: view, click, purchase (each gets 1/2), then a
    second purchase in-session with 2 touches before it -> the two
    touches earn another 1/2 each... no new touches means SAME n;
    credits sum to the number of attributed conversions."""
    from binlog_avro_comparator_spark.operators.analytics import (
        multitouch_attribution,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:01:00", 7, "click"),
        (3, "2024-01-01 10:02:00", 7, "purchase"),  # 2 touches -> 1/2 each
        (4, "2024-01-01 10:03:00", 7, "purchase"),  # still 2 touches
        (5, "2024-01-01 12:00:00", 7, "purchase"),  # new session, 0 touches
        (6, "2024-01-01 09:00:00", 8, "view"),      # other user, no purchase
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.touch_type: r for r in multitouch_attribution(ev).collect()}
    assert set(got) == {"view", "click"}
    # each touch credited by both same-session purchases: 0.5 + 0.5
    assert got["view"].credit == 1.0 and got["click"].credit == 1.0
    assert got["view"].n_credited_touches == 2
    # total credit equals attributed purchases (2; the direct one drops)
    assert sum(r.credit for r in got.values()) == 2.0


def test_position_attribution_u_shape(spark):
    """4 touches before a purchase: endpoints 0.4 each, the two middle
    touches 0.1 each; credit still conserves to 1 per conversion."""
    from binlog_avro_comparator_spark.operators.analytics import (
        multitouch_attribution,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:01:00", 7, "click"),
        (3, "2024-01-01 10:02:00", 7, "signup"),
        (4, "2024-01-01 10:03:00", 7, "error"),
        (5, "2024-01-01 10:04:00", 7, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.touch_type: r.credit for r in
           multitouch_attribution(ev, model="position").collect()}
    assert got == {"view": 0.4, "click": 0.1, "signup": 0.1, "error": 0.4}
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_prefix_filter_join_complete_at_threshold(spark):
    """The prefix filter finds EXACTLY the brute-force threshold pairs
    -- completeness (no missed pair) and precision (verification
    filters the candidates) on a corpus with planted pairs straddling
    the threshold."""
    from binlog_avro_comparator_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    docs = [(i, f"unique {i} " + " ".join(f"w{i}_{j}" for j in range(30)))
            for i in range(30)]
    docs.append((100, base))
    docs.append((101, base + "lambda mu nu "))      # high-overlap pair
    docs.append((102, "alpha beta gamma " + " ".join(f"x{j}" for j in range(40))))
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.jaccard for r in prefix_filter_pairs(d).collect()}
    # brute force over ALL candidate pairs (df cap lifted high)
    brute = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(d, max_df=10_000).filter("jaccard >= 0.5").collect()
    }
    assert got == brute
    assert (100, 101) in got and got[(100, 101)] >= 0.5
    assert (100, 102) not in got  # below threshold must be absent


def test_time_decay_attribution_recency(spark):
    """Two touches, 10 minutes apart, purchase right after the second:
    the recent touch earns 2x the stale one (one half-life apart), and
    per-conversion credit still sums to 1."""
    from binlog_avro_comparator_spark.operators.analytics import (
        multitouch_attribution,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:10:00", 7, "click"),
        (3, "2024-01-01 10:10:00", 8, "purchase"),  # other user: dropped
        (4, "2024-01-01 10:10:01", 7, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.touch_type: r.credit for r in
           multitouch_attribution(ev, model="time_decay").collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # ages 601s vs 1s -> weight ratio ~ 2^(600/600) = 2
    assert 1.9 < got["click"] / got["view"] < 2.1


def test_containment_join_finds_embedded_quote(spark):
    """A short doc fully embedded in a long one: containment fires
    src->dst at ~1.0 while symmetric Jaccard sits far below the
    near-dup bar -- and the reverse direction does NOT fire."""
    from binlog_avro_comparator_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = "to be or not to be that is the question of the age"
    host = quote + " " + " ".join(f"filler{j} host{j}" for j in range(60))
    docs = [(1, quote), (2, host)] + [
        (10 + i, " ".join(f"u{i}_{j}" for j in range(40))) for i in range(10)
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_src, r.doc_dst): r for r in containment_pairs(d).collect()}
    assert (1, 2) in got and got[(1, 2)].containment >= 0.9
    assert (2, 1) not in got  # the host is NOT contained in the quote
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(d, max_df=1000).collect()
    }
    assert jac.get((1, 2), 0.0) < 0.2  # symmetric view can't see it


def test_token_allocation_water_filling(spark):
    """Hand caps [10, 20, 100, 200] with a 50% budget (165): the two
    small sources cap out (10 + 20), the two big ones split the rest
    at level 67.5; allocations sum to the target."""
    from binlog_avro_comparator_spark.operators.textstats import (
        token_allocation,
    )

    docs = []
    did = 0
    for src_name, n in [("s10", 10), ("s20", 20), ("s100", 100), ("s200", 200)]:
        docs.append((did, " ".join(f"t{j}" for j in range(n)), src_name))
        did += 1
    d = spark.createDataFrame(docs, "doc_id long, text string, source string")
    got = {r.source: r for r in token_allocation(d).collect()}
    assert got["s10"].is_capped and got["s10"].allocation == 10.0
    assert got["s20"].is_capped and got["s20"].allocation == 20.0
    assert got["s100"].allocation == 67.5 == got["s200"].allocation
    assert not got["s100"].is_capped
    assert abs(sum(r.allocation for r in got.values()) - 165.0) < 1e-6
    assert got["s100"].water_level == 67.5


def test_source_redundancy_flags_duplicate_heavy_feed(spark):
    """A source whose docs are all copies reports redundancy 1.0; a
    clean source reports 0."""
    from binlog_avro_comparator_spark.operators.dedup import source_redundancy

    dup = "the same exact boilerplate text repeated for every doc " * 10
    docs = [(i, dup, "spammy") for i in range(6)] + [
        (10 + i, f"unique {i} " + " ".join(f"w{i}_{j}" for j in range(40)), "clean")
        for i in range(6)
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string, source string")
    got = {r.source: r for r in source_redundancy(d).collect()}
    assert got["spammy"].redundancy == 1.0 and got["spammy"].n_clustered == 6
    assert got["clean"].redundancy == 0.0


def test_minhash_estimate_tracks_exact(spark):
    """On near-identical planted pairs both est and exact sit near 1
    and the absolute error stays below the 1/sqrt(k)-scale bound a
    16-slot signature promises."""
    from binlog_avro_comparator_spark.operators.dedup import (
        minhash_estimate_error,
    )

    base = "one two three four five six seven eight nine ten " * 20
    docs = [(100, base), (101, base + "eleven twelve "),
            (102, base), (103, base)]
    docs += [(i, " ".join(f"z{i}_{j}" for j in range(50))) for i in range(20)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = minhash_estimate_error(d).collect()
    assert got, "planted copies must be LSH candidates"
    for r in got:
        assert r.exact_jaccard > 0.8          # candidates are real dups
        assert r.abs_err <= 0.5               # 16-slot worst case bound
        assert abs(r.abs_err - abs(r.est_jaccard - r.exact_jaccard)) < 1e-9
    # the byte-identical pair estimates exactly 1.0
    ident = [r for r in got if (r.doc_a, r.doc_b) in ((100, 102), (102, 103), (100, 103))]
    assert ident and all(r.est_jaccard == 1.0 for r in ident)


def test_median_of_means_shrugs_off_outlier(spark):
    """One enormous outlier drags the plain mean far away while the
    median of 32 bucket means barely moves -- the robustness the
    estimator exists for; also partition-invariant."""
    from binlog_avro_comparator_spark.operators.analytics import median_of_means

    rows = [(i // 4, i % 4, 100.0 + (i % 7)) for i in range(2000)]
    clean = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber long, l_extendedprice double"
    )
    dirty = clean.unionAll(
        spark.createDataFrame(
            [(9999, 0, 1e9)],
            "l_orderkey long, l_linenumber long, l_extendedprice double",
        )
    )
    c = median_of_means(clean).collect()[0]
    d = median_of_means(dirty).collect()[0]
    assert abs(c.mean - c.median_of_means) < 1.0        # clean: they agree
    assert d.mean > 1000                                 # outlier owns the mean
    assert abs(d.median_of_means - c.median_of_means) < 5  # MoM barely moves
    d2 = median_of_means(dirty.repartition(17)).collect()[0]
    assert d2.median_of_means == d.median_of_means


def test_label_consensus_flags_minority_label(spark):
    """3 copies labeled en + 1 labeled de in one cluster: consensus
    en, the de member flagged; vote ties break to the smaller label."""
    from binlog_avro_comparator_spark.operators.dedup import (
        cluster_label_consensus,
    )

    dup = "same text content in every copy of this document " * 8
    tie = "another duplicated body shared by exactly two docs " * 8
    docs = [
        (1, dup, "en"), (2, dup, "en"), (3, dup, "en"), (4, dup, "de"),
        (10, tie, "fr"), (11, tie, "es"),
    ] + [(20 + i, f"unique {i} " + " ".join(f"q{i}_{j}" for j in range(40)), "en")
         for i in range(8)]
    d = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in cluster_label_consensus(d).collect()}
    assert got[4].consensus_lang == "en" and not got[4].agrees
    assert got[1].agrees and got[2].agrees and got[3].agrees
    # 1-1 tie between es and fr -> smallest label wins
    assert got[10].consensus_lang == "es" and got[11].agrees


def test_rfm_scores_hand_cohort(spark):
    """A freshly-active big spender scores 555; a stale one-order
    minnow scores 1s on every axis; segment concatenates the scores."""
    from binlog_avro_comparator_spark.operators.analytics import rfm_scores

    rows = []
    oid = 0
    # customer k: k+1 orders, latest on day 28-k, each worth (k+1)*10
    import datetime

    for k in range(10):
        for j in range(k + 1):
            d = datetime.date(2024, 1, 28 - k - j)
            rows.append((oid, k, float((k + 1) * 10), d))
            oid += 1
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate date"
    )
    got = {r.o_custkey: r for r in rfm_scores(orders).collect()}
    best = got[9]  # most orders, highest value... but oldest recency
    assert best.f_score == 5 and best.m_score == 5 and best.r_score == 1
    fresh = got[0]  # newest single order, cheapest
    assert fresh.r_score == 5 and fresh.f_score == 1 and fresh.m_score == 1
    assert fresh.segment == "511" and best.segment == "155"
    assert fresh.recency_days == 0  # anchored to the corpus max date


def test_funnel_timing_rates_and_medians(spark):
    """3 users view; 2 click (gaps 60s and 180s -> median 120s);
    1 purchases 30s after the click."""
    from binlog_avro_comparator_spark.operators.analytics import funnel_timing

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:01:00", 1, "click"),
        (3, "2024-01-01 10:01:30", 1, "purchase"),
        (4, "2024-01-01 10:00:00", 2, "view"),
        (5, "2024-01-01 10:03:00", 2, "click"),
        (6, "2024-01-01 10:00:00", 3, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.step: r for r in funnel_timing(ev).collect()}
    vc = got["view_to_click"]
    assert vc.n_eligible == 3 and vc.n_converted == 2
    assert abs(vc.conversion_rate - 2 / 3) < 1e-6
    assert vc.median_gap_ms == 120000.0
    cp = got["click_to_purchase"]
    assert cp.n_eligible == 2 and cp.n_converted == 1
    assert cp.median_gap_ms == 30000.0


def test_source_hygiene_no_row_udfs_or_rdd():
    """Engine-wide contract pinned as a lint: no row-at-a-time Python
    UDFs (every @udf must be Arrow-enabled) and no .rdd plan breaks in
    the package -- the 'stay JVM-side / Arrow-batched' rule the scale
    story depends on, enforced so a future edit can't silently
    reintroduce the slow path."""
    import pathlib
    import re

    pkg = pathlib.Path("binlog_avro_comparator_spark")
    offenders = []
    for py in pkg.rglob("*.py"):
        src = py.read_text(encoding="utf-8")
        for m in re.finditer(r"(?:@|F\.)udf\((.*)", src):
            args = m.group(1)  # rest of the decorator line
            if "useArrow=True" not in args:
                offenders.append(f"{py}: row-at-a-time udf ({args[:40]})")
        # .rdd in executable code (attribute access), not in prose
        for i, line in enumerate(src.splitlines(), 1):
            stripped = line.split("#", 1)[0]
            if re.search(r"\.rdd\b", stripped) and "``" not in line:
                offenders.append(f"{py}:{i}: .rdd plan break")
    assert not offenders, offenders


def test_zipf_fit_recovers_power_law(spark):
    """A corpus built with exact 1/rank frequencies fits slope ~ -1
    with r2 ~ 1; a uniform-frequency corpus fits slope ~ 0."""
    from binlog_avro_comparator_spark.operators.textstats import zipf_fit

    zipf_words = []
    for r in range(1, 41):
        zipf_words += [f"w{r:03d}"] * (1200 // r)
    docs = [(0, " ".join(zipf_words))]
    z = zipf_fit(spark.createDataFrame(docs, "doc_id long, text string"), v=40).collect()[0]
    assert z.v_size == 40
    assert -1.05 < z.slope < -0.95
    assert z.r2 > 0.99
    flat = [(0, (" ".join(f"u{r}" for r in range(40)) + " ") * 5)]
    f = zipf_fit(spark.createDataFrame(flat, "doc_id long, text string"), v=40).collect()[0]
    assert abs(f.slope) < 0.01 and f.v_size == 40


def test_bitext_margin_prefers_translation_over_hub(spark):
    """The ratio margin exists to beat hub vectors: a target close to
    EVERYTHING (the normalized corpus mean) must lose to each source's
    true translation even when its raw cosine is high, and every
    selected pair must be the planted translation."""
    from binlog_avro_comparator_spark.operators.similarity import (
        bitext_margin_pairs)

    import math

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    dim = 8
    srcs = []
    for i in range(5):
        v = [0.1] * dim          # shared component -> the hub is close
        v[i] = 1.0               # per-source identity component
        srcs.append(unit(v))
    hub = unit([sum(v[d] for v in srcs) for d in range(dim)])
    rows = []
    for i, v in enumerate(srcs):
        rows.append((i, v, 0))                       # source segment
        w = list(v)
        w[(i + 1) % dim] += 0.01                     # translation: tiny noise
        rows.append((100 + i, unit(w), 1))
    rows.append((999, hub, 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r.src_id: r
        for r in bitext_margin_pairs(emb, k=2, threshold=1.0).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4}
    for i, r in got.items():
        assert r.dst_id == 100 + i, f"hub stole source {i}: {r}"
        assert r.margin > 1.0


def test_knn_label_audit_flags_planted_mislabel(spark):
    """Two tight clusters; one vector carries the wrong cluster's label
    -- the audit must flag exactly that vector, with its neighbors'
    label as knn_label and full disagreement (n_agree = 0)."""
    from binlog_avro_comparator_spark.operators.similarity import (
        knn_label_audit)

    rows = []
    # cluster around e0 (label 7), cluster around e1 (label 3)
    for i in range(6):
        v = [10.0, float(i % 3), 0.0, 0.0]
        rows.append((i, v, 7))
    for i in range(6):
        v = [0.0, 0.0, 10.0, float(i % 3)]
        rows.append((100 + i, v, 3))
    rows.append((999, [10.0, 1.5, 0.0, 0.0], 3))  # in cluster A, labeled B
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.vec_id: r for r in knn_label_audit(emb, k=5).collect()}
    flagged = {v for v, r in got.items() if r.mislabeled}
    assert flagged == {999}
    assert got[999].knn_label == 7 and got[999].n_agree == 0
    assert got[0].knn_label == 7 and not got[0].mislabeled


def test_vocab_drift_flags_content_shift(spark):
    """A vocabulary that changes between halves produces a large PSI
    with the new word leading the contributions; an identical corpus
    reads ~0."""
    from binlog_avro_comparator_spark.operators.textstats import vocab_drift

    stable = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(40)],
        "doc_id long, text string",
    )
    s = vocab_drift(stable).collect()
    assert abs(s[0].psi_total) < 1e-6
    shifted = spark.createDataFrame(
        [
            (i, "alpha beta gamma" if i % 2 == 0 else "alpha spamword spamword")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    d = vocab_drift(shifted).collect()
    assert d[0].psi_total > 0.5
    assert d[0].word == "spamword" and d[0].psi_contribution > 0


def test_epoch_manifest_permutation_properties(spark):
    """Each epoch covers every document exactly once (a permutation),
    in-shard positions are dense from 1, the two epochs order the
    corpus differently, and re-running yields the identical manifest
    (no RNG anywhere)."""
    from binlog_avro_comparator_spark.operators.textstats import epoch_manifest

    docs = spark.createDataFrame(
        [(i, "t") for i in range(200)], "doc_id long, text string"
    )
    m = epoch_manifest(docs).collect()
    by_epoch = {}
    for r in m:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1}
    orders = {}
    for e, rows in by_epoch.items():
        assert sorted(r.doc_id for r in rows) == list(range(200))
        for shard in {r.shard for r in rows}:
            pos = sorted(r.position for r in rows if r.shard == shard)
            assert pos == list(range(1, len(pos) + 1))
        orders[e] = [
            r.doc_id for r in sorted(rows, key=lambda r: (r.shard, r.position))
        ]
    assert orders[0] != orders[1]  # epochs shuffle differently
    again = sorted(tuple(r) for r in epoch_manifest(docs).collect())
    assert again == sorted(tuple(r) for r in m)


def test_consistency_watermark_flags_laggard(spark):
    """The watermark is the min of per-table max GNOs WITHIN a GTID
    source; the lagging table holds it and counts only its applied
    rows at the cut."""
    from binlog_avro_comparator_spark.operators.compare import (
        consistency_watermark)

    rows = []
    for g in range(10):
        rows.append(("db", "fast", f"u:{g}"))
    for g in range(6):
        rows.append(("db", "slow", f"u:{g}"))
    df = spark.createDataFrame(rows, "schema string, table string, gtid_next string")
    got = {r.table: r for r in consistency_watermark(df).collect()}
    assert got["slow"].holds_watermark and not got["fast"].holds_watermark
    assert got["fast"].watermark_gno == 5
    assert got["fast"].n_events == 10 and got["fast"].n_at_watermark == 6
    assert got["slow"].n_at_watermark == 6
    assert got["fast"].source_uuid == "u"


def test_consistency_watermark_partitions_by_source_uuid(spark):
    """Multi-source feed (r8, the r7 advisory): GNOs from different
    server UUIDs share one number line only by accident -- the
    watermark must partition by UUID so each source gets its own
    consistent cut instead of one meaningless global min."""
    from binlog_avro_comparator_spark.operators.compare import (
        consistency_watermark)

    rows = []
    # source A: both tables applied to 100 -- no laggard
    for g in range(95, 101):
        rows.append(("db", "t1", f"srvA:{g}"))
        rows.append(("db", "t2", f"srvA:{g}"))
    # source B: t1 at 7, t2 lagging at 3
    for g in range(1, 8):
        rows.append(("db", "t1", f"srvB:{g}"))
    for g in range(1, 4):
        rows.append(("db", "t2", f"srvB:{g}"))
    df = spark.createDataFrame(
        rows, "schema string, table string, gtid_next string"
    )
    got = {
        (r.source_uuid, r.table): r for r in consistency_watermark(df).collect()
    }
    assert len(got) == 4
    # source A cuts at 100 (everyone holds); a global min would have
    # dragged it down to source B's 3
    assert got[("srvA", "t1")].watermark_gno == 100
    assert got[("srvA", "t1")].holds_watermark
    assert got[("srvA", "t2")].holds_watermark
    # source B cuts at its own laggard
    assert got[("srvB", "t1")].watermark_gno == 3
    assert not got[("srvB", "t1")].holds_watermark
    assert got[("srvB", "t2")].holds_watermark
    assert got[("srvB", "t1")].n_at_watermark == 3


def test_rotate_chain_audit_foreign_names(spark):
    """A filename with no numeric suffix (stray README, editor backup)
    routes to FOREIGN and leaves the real chain intact -- a NULL sort
    key must never fabricate a CHAIN_GAP (r8, the r7 advisory)."""
    from binlog_avro_comparator_spark.operators.compare import (
        rotate_chain_audit)

    rows = [
        ("mysql-bin.000001", "mysql-bin.000002", 4),
        ("mysql-bin.000002", None, 4),
        ("README", None, 0),
        ("backup~", None, 0),
    ]
    df = spark.createDataFrame(
        rows, "binlog_file string, rotate_next string, rotate_pos long"
    )
    got = {r.binlog_file: r for r in rotate_chain_audit(df).collect()}
    assert got["mysql-bin.000001"].status == "OK"
    assert got["mysql-bin.000002"].status == "ACTIVE_TAIL"
    assert got["README"].status == "FOREIGN"
    assert got["backup~"].status == "FOREIGN"
    assert got["README"].expected_next is None


def test_range_sort_plan_balanced_vs_skewed(spark):
    """Uniform keys plan near-1.0 balance everywhere; a heavily
    duplicated key collapses boundaries and the report SAYS so
    (some partition's balance_ratio far above 1)."""
    from binlog_avro_comparator_spark.operators.analytics import range_sort_plan

    uniform = spark.createDataFrame(
        [(float(i),) for i in range(1600)], "l_extendedprice double"
    )
    u = range_sort_plan(uniform).collect()
    assert all(0.8 <= r.balance_ratio <= 1.2 for r in u)
    skewed = spark.createDataFrame(
        [(42.0,)] * 1200 + [(float(i),) for i in range(400)],
        "l_extendedprice double",
    )
    s = range_sort_plan(skewed).collect()
    assert max(r.balance_ratio for r in s) > 4.0  # the hot-key partition


def test_knn_label_audit_degenerate_corpora(spark):
    """A 0- or 1-vector corpus has no neighbors: the audit returns an
    empty frame with the contract schema instead of crashing inside
    argpartition."""
    from binlog_avro_comparator_spark.operators.similarity import (
        knn_label_audit)

    one = spark.createDataFrame(
        [(1, [1.0, 0.0], 3)], "vec_id long, embedding array<float>, label int"
    )
    got = knn_label_audit(one)
    assert got.count() == 0
    assert got.columns == [
        "vec_id", "label", "knn_label", "n_votes", "n_agree", "mislabeled"]
    empty = one.filter("vec_id < 0")
    assert knn_label_audit(empty).count() == 0


def test_knn_label_audit_candidate_path(spark):
    """The candidates= scale tier (r8, the r7 verdict's top item): with
    the COMPLETE pair set as candidates the audit equals the exact
    GEMM tier row-for-row (the vote tail is shared, the top-k order
    identical), and with bucketed candidates the planted mislabel is
    still the one flagged vector -- all without any driver-side corpus
    collect in the plan."""
    from pyspark.sql import functions as F
    from binlog_avro_comparator_spark.operators.similarity import (
        hyperplane_candidates, knn_label_audit)

    rows = []
    for i in range(6):
        rows.append((i, [10.0, float(i % 3), 0.0, 0.0], 7))
    for i in range(6):
        rows.append((100 + i, [0.0, 0.0, 10.0, float(i % 3)], 3))
    rows.append((999, [10.0, 1.5, 0.0, 0.0], 3))  # in cluster A, labeled B
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    ids = emb.select(F.col("vec_id").alias("a_id"))
    allpairs = ids.crossJoin(emb.select(F.col("vec_id").alias("b_id")))
    exact = sorted(tuple(r) for r in knn_label_audit(emb, k=5).collect())
    via_cand = sorted(
        tuple(r) for r in knn_label_audit(emb, k=5, candidates=allpairs).collect()
    )
    assert via_cand == exact
    bucketed = knn_label_audit(
        emb, k=5, candidates=hyperplane_candidates(emb, n_planes=2, n_tables=2)
    ).collect()
    flagged = {r.vec_id for r in bucketed if r.mislabeled}
    assert 999 in flagged
    by_id = {r.vec_id: r for r in bucketed}
    assert by_id[999].knn_label == 7


def test_tfidf_neighbors_ranks_topical_match_first(spark):
    """TF-IDF cosine must rank the topically-identical document first
    (shared RARE terms), not the one sharing only corpus-wide stop
    terms; the df cap drops a term present in every document."""
    from binlog_avro_comparator_spark.operators.textstats import (
        tfidf_neighbors)

    rows = [
        (0, "the quark gluon plasma the the"),
        (1, "the quark gluon lattice the"),
        (2, "the recipe butter flour the the"),
        (3, "the recipe butter sugar the"),
        (4, "the the the the"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.rank): r.doc_b
        for r in tfidf_neighbors(docs, k=2, max_df_frac=0.9).collect()
    }
    # 'the' has df=5/5 > 0.9 -> dropped; doc 4 has no terms left at all
    assert got[(0, 1)] == 1 and got[(1, 1)] == 0
    assert got[(2, 1)] == 3 and got[(3, 1)] == 2
    assert not any(a == 4 or b == 4 for (a, _), b in got.items())


def test_bpe_train_textbook_merges(spark):
    """The iterated trainer follows the Sennrich recipe exactly:
    'aaab' x2 merges ('a','a') first (count 4 beats ('a','b')'s 2),
    then the RE-COUNTED symbols tie ('a','b') with ('aa','a') and the
    lexicographic tie-break picks ('a','b'), then ('aa','ab') fuses
    the word; greedy application is non-overlapping left-to-right
    ('aaaa' under ('a','a') -> ['aa','aa'], giving count 2 not 3);
    early-stop leaves fewer rows when the vocab fuses out."""
    from binlog_avro_comparator_spark.operators.textstats import bpe_train

    docs = spark.createDataFrame(
        [(0, "aaab"), (1, "aaab")], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=10).collect()]
    assert got == [
        (1, "a", "a", 4),
        (2, "a", "b", 2),
        (3, "aa", "ab", 2),
    ]  # early stop: single-token words have no pairs left
    runs = spark.createDataFrame([(0, "aaaa aaaa")], "doc_id long, text string")
    first = bpe_train(runs, n_merges=1).collect()[0]
    assert (first.left_sym, first.right_sym, first.pair_count) == ("a", "a", 6)
    second = bpe_train(runs, n_merges=2).collect()[1]
    # after the greedy pass each word is ['aa','aa'] -> pair count 2
    assert (second.left_sym, second.right_sym, second.pair_count) == (
        "aa", "aa", 2)
    # a batched round must stop after a self-pair: ('a','a') mints
    # ('aa','a') at 100, which outranks the untouched ('b','c') at 90
    selfpair = spark.createDataFrame(
        [(0, " ".join(["aaa"] * 100 + ["bc"] * 90))], "doc_id long, text string"
    )
    assert [tuple(r) for r in bpe_train(selfpair, n_merges=2).collect()] == [
        (1, "a", "a", 200), (2, "aa", "a", 100)
    ]
    # the encode report applies the same merges: 'aaab' after 3 rounds
    # is one token of 4 chars seen twice
    from binlog_avro_comparator_spark.operators.textstats import (
        bpe_encode_report)

    enc = {r.word: r for r in bpe_encode_report(docs, n_merges=3).collect()}
    assert enc["aaab"].n_tokens == 1 and enc["aaab"].n_occurrences == 2
    assert enc["aaab"].n_chars == 4
    partial = {r.word: r for r in bpe_encode_report(docs, n_merges=1).collect()}
    assert partial["aaab"].n_tokens == 3  # ['aa','a','b']


@pytest.mark.slow
def test_bitext_margin_candidate_path(spark):
    """bitext_margin_pairs candidates= tier: the complete cross-segment
    pair set reproduces the exact tier row-for-row, and bucketed
    candidates still mine every planted translation (no hub steal)."""
    import math
    from pyspark.sql import functions as F
    from binlog_avro_comparator_spark.operators.similarity import (
        bitext_margin_pairs, hyperplane_candidates)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    dim = 8
    srcs = []
    for i in range(5):
        v = [0.1] * dim
        v[i] = 1.0
        srcs.append(unit(v))
    hub = unit([sum(v[d] for v in srcs) for d in range(dim)])
    rows = []
    for i, v in enumerate(srcs):
        rows.append((i, v, 0))
        w = list(v)
        w[(i + 1) % dim] += 0.01
        rows.append((100 + i, unit(w), 1))
    rows.append((999, hub, 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    full = (
        emb.filter("label = 0")
        .select(F.col("vec_id").alias("src_id"))
        .crossJoin(
            emb.filter("label = 1").select(F.col("vec_id").alias("dst_id"))
        )
    )
    exact = sorted(
        tuple(r) for r in bitext_margin_pairs(emb, k=2, threshold=1.0).collect()
    )
    via_cand = sorted(
        tuple(r)
        for r in bitext_margin_pairs(
            emb, k=2, threshold=1.0, candidates=full
        ).collect()
    )
    assert via_cand == exact
    cand = hyperplane_candidates(emb, n_planes=2, n_tables=2).select(
        F.col("a_id").alias("src_id"), F.col("b_id").alias("dst_id")
    )
    mined = {
        r.src_id: r
        for r in bitext_margin_pairs(
            emb, k=2, threshold=1.0, candidates=cand
        ).collect()
    }
    for i in mined:
        assert mined[i].dst_id == 100 + i, f"hub stole source {i}"
    assert len(mined) >= 3  # 2-plane buckets keep most true pairs


def test_ivf_pq_topk_planted_clusters_and_candidate_bound(spark):
    """The composed IVF-PQ retriever on the 8-block-cluster corpus:
    same-cluster retrieval holds through BOTH approximations (coarse
    routing + code-book scoring), and the result set is a subset of
    the IVF candidate set by construction -- a neighbor from an
    unprobed list is impossible."""
    from binlog_avro_comparator_spark.operators.similarity import (
        assign_centroids,
        ivf_pq_topk,
    )

    rows = []
    for i in range(296):
        j = i % 8
        vec = [0.5 + ((i * 64 + d) % 7) * 0.01 for d in range(64)]
        for d in range(8 * j, 8 * j + 8):
            vec[d] = 10.0 + ((i + d) % 5) * 0.05
        rows.append((i, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_pq_topk(emb).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(32))
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == [1, 2, 3, 4, 5]
        same = sum(1 for r in rs if r.neighbor_id % 8 == q % 8)
        assert same >= 4, (q, [(r.neighbor_id, r.score) for r in rs])
    # unprobed lists are structurally unreachable: every returned
    # neighbor's coarse assignment must be one of its query's lists
    _, assignment = assign_centroids(emb)
    assigned = {r.vec_id: r.centroid_id for r in assignment.collect()}
    for q, rs in by_q.items():
        probed = {assigned[r.neighbor_id] for r in rs}
        assert len(probed) <= 4  # n_probe


def test_embedding_coreset_keeps_hard_prunes_easy(spark):
    """Coreset selection on the 8-block-cluster corpus with planted
    outliers: within every cluster the pruned set is exactly the
    highest-cosine (most prototypical) tail, the planted hard examples
    survive, and the keep rate tracks keep_frac."""
    from binlog_avro_comparator_spark.operators.similarity import (
        embedding_coreset,
    )

    rows = []
    for i in range(296):
        j = i % 8
        vec = [0.5 + ((i * 64 + d) % 7) * 0.01 for d in range(64)]
        for d in range(8 * j, 8 * j + 8):
            vec[d] = 10.0 + ((i + d) % 5) * 0.05
        if i >= 288:  # one planted outlier per cluster: half-strength
            vec = [v * 0.5 if d >= 32 else v for d, v in enumerate(vec)]
        rows.append((i, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_coreset(emb).collect()
    assert len(out) == 296
    by_c = {}
    for r in out:
        by_c.setdefault(r.centroid_id, []).append(r)
    for cid, rs in by_c.items():
        kept = [r for r in rs if r.keep]
        pruned = [r for r in rs if not r.keep]
        if pruned:
            # the cut is a clean threshold on prototypicality
            assert max(r.cos_center for r in kept) <= min(
                r.cos_center for r in pruned
            )
        assert 0.5 <= len(kept) / len(rs) <= 0.9
    outliers = {r.vec_id: r for r in out if r.vec_id >= 288}
    assert len(outliers) == 8 and all(r.keep for r in outliers.values())


def test_data_card_rollup_algebra(spark):
    """The card's per-source algebra over hand-built per-doc frames:
    counts, token sums, language spread, contamination mean/threshold,
    and dup rate -- including a doc missing from the cluster frame and
    a duplicate-free source."""
    from binlog_avro_comparator_spark.operators.textstats import data_card

    docs = spark.createDataFrame(
        [
            (1, "x", "en", "a", 10),
            (2, "x", "fr", "b", 20),
            (3, "y", "en", "c", 30),
        ],
        "doc_id long, source string, lang string, text string, n_chars long",
    )
    toks = spark.createDataFrame(
        [(1, 5), (2, 7), (3, 11)], "doc_id long, n_bpe_tokens long"
    )
    cont = spark.createDataFrame(
        [(1, 0.8), (2, 0.2), (3, 0.0)], "doc_id long, contamination double"
    )
    clusters = spark.createDataFrame([(1, 1), (1, 1)], "doc_id long, c long")
    got = {
        r.source: r for r in data_card(docs, toks, cont, clusters).collect()
    }
    x = got["x"]
    assert (x.n_docs, x.total_chars, x.total_tokens, x.n_langs) == (2, 30, 12, 2)
    assert x.n_contaminated == 1 and x.mean_contamination == 0.5
    assert x.n_near_dup == 1 and x.dup_rate == 0.5
    y = got["y"]
    assert y.n_near_dup == 0 and y.n_contaminated == 0 and y.n_langs == 1


def test_quality_blend_ranks_spam_below_natural(spark):
    """A repetitive low-diversity spam doc must blend below a natural
    English doc: the ensemble catches what any single signal might
    miss, and every decile stays in [1, 10]."""
    from binlog_avro_comparator_spark.operators.textstats import (
        quality_blend,
    )

    natural = (
        "the quick brown fox jumps over a lazy dog while many other "
        "animals watch the scene with great interest and some concern"
    )
    spam = "buy now " * 20
    rows = [(0, natural), (1, spam)]
    # filler docs so deciles have mass to split
    for i in range(2, 30):
        rows.append(
            (i, f"document number {i} talks about topic {i % 7} and "
                f"adds unique words w{i}a w{i}b w{i}c")
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in quality_blend(docs).collect()}
    assert len(got) == 30
    for r in got.values():
        assert 1 <= r.lp_decile <= 10
        assert 1 <= r.rep_decile <= 10
        assert 1 <= r.ttr_decile <= 10
    assert got[1].blend_score < got[0].blend_score
    # the spam doc is maximally repetitive and minimally diverse
    assert got[1].rep_decile == 10 and got[1].ttr_decile == 1


def test_threshold_curve_bands_and_cumulative(spark):
    """Planted pair similarities land in their 0.1 bands and the
    cumulative column counts pairs at-or-above each band."""
    from binlog_avro_comparator_spark.operators.dedup import (
        threshold_curve,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india "
    docs = spark.createDataFrame(
        [
            (1, base + "juliet kilo"),
            (2, base + "juliet kilo"),          # exact copy of 1 -> 1.0
            (3, base + "zulu yankee xray whiskee victor uniform tango"),
        ],
        "doc_id long, text string",
    )
    rows = {r.bucket: r for r in threshold_curve(docs).collect()}
    assert rows[1.0].n_pairs == 1 and rows[1.0].n_at_or_above == 1
    partial = [b for b in rows if b < 1.0]
    # (1,3) and (2,3) have IDENTICAL similarity -> one shared band
    assert len(partial) == 1
    band = partial[0]
    assert rows[band].n_pairs == 2
    assert rows[band].n_at_or_above == 3  # cumulative includes the copy


def test_media_near_dup_tail_and_hot_header(spark):
    """A blob with an appended tail pairs with its original at high
    Jaccard; a header chunk shared by MANY blobs is hot (df > max_df)
    and alone generates no candidate pairs."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        media_near_dup_pairs,
    )

    base = bytes(range(256)) * 4  # 1 KiB of distinct byte patterns
    rows = [
        (1, bytearray(base)),
        (2, bytearray(base + b"EXTRA-TAIL" * 3)),  # appended tail
        (3, bytearray(b"completely different payload " * 40)),
    ]
    # 20 blobs sharing ONLY a hot 16-byte header + bodies with no
    # shared 8-byte windows (per-blob sha256 keystream)
    import hashlib as _hl

    def _body(i):
        out = b""
        for blk in range(10):
            out += _hl.sha256(f"blob-{i}-{blk}".encode()).digest()
        return out

    for i in range(10, 30):
        rows.append((i, bytearray(b"COMMON-HEADER-XX" + _body(i))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    got = {(r.id_a, r.id_b): r for r in media_near_dup_pairs(media).collect()}
    assert (1, 2) in got and got[(1, 2)].jaccard >= 0.8
    # the hot header must not pair the 20 unique-bodied blobs
    assert not any(a >= 10 and b >= 10 for a, b in got)
    assert not any(3 in (a, b) for a, b in got)


def test_bot_scores_flags_metronome_and_flood(spark):
    """A metronomic user (exact 1 s gaps -> CV 0) and a flooding user
    (200 events in a minute) are flagged; a bursty human with varied
    gaps is not."""
    from binlog_avro_comparator_spark.operators.analytics import bot_scores

    base = 1_700_000_000_000_000  # micros
    rows = []
    eid = 0
    # metronome: 20 events exactly 1s apart (rate 19/min < cut -> CV path)
    for i in range(20):
        rows.append((eid, base + i * 1_000_000, 1, "click", 1.0, "{}")); eid += 1
    # flood: 200 events 50ms apart (rate >= 20/min)
    for i in range(200):
        rows.append((eid, base + i * 50_000, 2, "view", 1.0, "{}")); eid += 1
    # human: 10 events with wildly varying gaps over 2 hours
    gaps = [0, 1, 5, 60, 2, 300, 30, 1200, 7, 3600]  # seconds, cumulative
    t = 0
    for i, g in enumerate(gaps):
        t += g * 1_000_000
        rows.append((eid, base + t, 3, "click", 1.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    got = {r.user_id: r for r in bot_scores(ev).collect()}
    assert got[1].bot_flag and got[1].gap_cv == 0.0
    assert got[2].bot_flag and got[2].rate_per_min >= 20
    assert not got[3].bot_flag and got[3].gap_cv > 0.2


def test_kcore_peels_chain_keeps_clique(spark):
    """A 4-clique survives the k=2 peel with degree 3; a pendant chain
    hanging off it peels away round by round (the chain's tail has
    degree 1, then its neighbor does, ...)."""
    from binlog_avro_comparator_spark.operators.graph import kcore_nodes

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "doc_a long, doc_b long")
    got = {r.doc_id: r.core_degree for r in kcore_nodes(edges).collect()}
    assert set(got) == {0, 1, 2, 3}
    # rounds-bounded superset semantics: node 3's final-round degree
    # still counts chain node 10, which peels only in the NEXT round
    assert got[0] == got[1] == got[2] == 3 and got[3] == 4
    # one more round reaches the exact 2-core with clean degrees
    exact = {
        r.doc_id: r.core_degree
        for r in kcore_nodes(edges, rounds=4).collect()
    }
    assert exact == {0: 3, 1: 3, 2: 3, 3: 3}


def test_ivf_probe_curve_monotone_to_full(spark):
    """Recall must be monotone non-decreasing in n_probe and reach 1.0
    when every list is probed (n_probe == n_centroids ==
    exact-equivalence, the cosine_topk_ivf exactness property)."""
    from binlog_avro_comparator_spark.operators.similarity import (
        ivf_probe_curve,
    )

    rows = []
    for i in range(296):
        j = i % 8
        vec = [0.5 + ((i * 64 + d) % 7) * 0.01 for d in range(64)]
        for d in range(8 * j, 8 * j + 8):
            vec[d] = 10.0 + ((i + d) % 5) * 0.05
        rows.append((i, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.n_probe: r
        for r in ivf_probe_curve(emb, probes=(1, 2, 4, 16)).collect()
    }
    assert list(sorted(got)) == [1, 2, 4, 16]
    rec = [got[p].recall for p in (1, 2, 4, 16)]
    assert all(a <= b for a, b in zip(rec, rec[1:])), rec
    assert got[16].recall == 1.0  # all 16 lists probed == brute force
    assert got[16].n_returned == 32 * 5


def test_dedup_impact_counts_losers_only(spark):
    """Three copies in one source lose two (the canonical survives);
    the clean source removes nothing."""
    from binlog_avro_comparator_spark.operators.dedup import (
        dedup_impact_report,
    )

    copy = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
    docs = spark.createDataFrame(
        [
            (1, copy, "spam", len(copy)),
            (2, copy, "spam", len(copy)),
            (3, copy, "spam", len(copy)),
            (4, "a completely unrelated document about trains", "clean", 45),
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    got = {r.source: r for r in dedup_impact_report(docs).collect()}
    s = got["spam"]
    assert (s.n_docs, s.n_removed) == (3, 2)
    assert s.chars_removed == 2 * len(copy)
    assert s.pct_docs_removed == round(2 / 3, 6)
    c = got["clean"]
    assert c.n_removed == 0 and c.pct_docs_removed == 0.0


def test_feed_gaps_islands(spark):
    """Active minutes 0,1,5,6,10 produce two silent runs: [2,4] (3
    minutes) and [7,9] (3 minutes); adjacent minutes produce none."""
    from binlog_avro_comparator_spark.operators.analytics import feed_gaps

    base = 1_700_000_000_000_000 - (1_700_000_000_000_000 % 60_000_000)
    rows = [
        (i, base + m * 60_000_000, 1, "click", 1.0, "{}")
        for i, m in enumerate([0, 1, 5, 6, 10])
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    got = sorted(
        (r.gap_start_ms, r.gap_end_ms, r.n_minutes)
        for r in feed_gaps(ev).collect()
    )
    base_ms = base // 1000
    assert got == [
        (base_ms + 2 * 60_000, base_ms + 4 * 60_000, 3),
        (base_ms + 7 * 60_000, base_ms + 9 * 60_000, 3),
    ]


def test_media_type_census_sniffs_and_survives_junk(spark):
    """Planted real signatures classify correctly (incl. the RIFF
    WAVE/AVI split), truncated blobs and junk land in 'unknown', and
    byte accounting is exact."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        media_type_census,
    )

    rows = [
        (1, bytearray(b"\x89PNG\r\n\x1a\x08" + b"x" * 100)),
        (2, bytearray(b"\xff\xd8\xff\xe0" + b"y" * 50)),
        (3, bytearray(b"RIFF\x0c\x00\x00\x00WAVE" + b"z" * 20)),
        (4, bytearray(b"RIFF\x0c\x00\x00\x00AVI " + b"z" * 20)),
        (5, bytearray(b"RIFF\x0c\x00\x00\x00XXXX")),
        (6, bytearray(b"%PDF-1.7 junk")),
        (7, bytearray(b"\x1f\x8b\x08\x00gz")),
        (8, bytearray(b"just text")),
        (9, bytearray(b"\x89P")),  # truncated -> not a full PNG sig
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_type: r for r in media_type_census(media).collect()}
    assert got["png"].n_blobs == 1 and got["png"].total_bytes == 108
    assert got["jpeg"].n_blobs == 1
    assert got["wav"].n_blobs == 1 and got["avi"].n_blobs == 1
    assert got["riff-other"].n_blobs == 1
    assert got["pdf"].n_blobs == 1 and got["gzip"].n_blobs == 1
    assert got["unknown"].n_blobs == 2  # text + truncated sig
    assert got["unknown"].min_bytes == 2 and got["unknown"].max_bytes == 9


def test_bmp_roundtrip_and_orientation(spark):
    """encode_bmp_gray -> _decode_bmp_gray is identity on pixels (the
    bottom-up row order normalizes back to top-down), and non-BMP
    bytes fall through the ladder."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        _decode_bmp_gray,
        encode_bmp_gray,
    )

    pix = bytes((3 * r + c) % 256 for r in range(6) for c in range(5))
    blob = encode_bmp_gray(pix, 5, 6)  # width 5 forces row padding
    w, h, back = _decode_bmp_gray(blob)
    assert (w, h) == (5, 6) and back == pix
    assert _decode_bmp_gray(b"not a bitmap at all") is None
    assert _decode_bmp_gray(blob[:30]) is None  # truncated header


def test_ahash_brightness_invariance_and_sensitivity(spark):
    """The aHash is invariant to a uniform brightness shift (cell and
    global means move together) but changes when content actually
    moves; hamming arithmetic in the pair tier matches."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        _ahash_bands,
        encode_bmp_gray,
        image_ahash,
        media_perceptual_dup_pairs,
    )

    base = bytes((7 * (r // 2) + 11 * (c // 2)) % 160 for r in range(16) for c in range(16))
    shifted = bytes(p + 32 for p in base)
    flipped = bytes(base[(15 - r) * 16 + c] for r in range(16) for c in range(16))
    assert _ahash_bands(16, 16, base) == _ahash_bands(16, 16, shifted)
    assert _ahash_bands(16, 16, base) != _ahash_bands(16, 16, flipped)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_bmp_gray(base, 16, 16))),
            (2, bytearray(encode_bmp_gray(shifted, 16, 16))),
            (3, bytearray(encode_bmp_gray(flipped, 16, 16))),
        ],
        "media_id long, content binary",
    )
    ah = {r.media_id: r for r in image_ahash(media).collect()}
    assert all(ah[i].decoder == "bmp" for i in (1, 2, 3))
    assert (ah[1].b0, ah[1].b1, ah[1].b2, ah[1].b3) == (
        ah[2].b0, ah[2].b1, ah[2].b2, ah[2].b3,
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in media_perceptual_dup_pairs(media).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_perceptual_catches_what_byte_chunking_misses(spark):
    """The r8 verdict's planted scenario end-to-end: a brightness-
    shifted re-encode shares NO rare byte chunk with its original
    (header chunks are hot across the corpus), so media_near_dup_pairs
    stays silent -- while the perceptual tier reports hamming 0."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        encode_bmp_gray,
        media_near_dup_pairs,
        media_perceptual_dup_pairs,
    )

    rows = []
    for d in range(40):
        base = bytes(
            ((1 + d % 191) * (16 * r + c + 3)) % 192
            for r in range(16)
            for c in range(16)
        )
        rows.append((d, bytearray(encode_bmp_gray(base, 16, 16))))
        if d == 7:
            shifted = bytes(p + 32 for p in base)
            rows.append((500007, bytearray(encode_bmp_gray(shifted, 16, 16))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    byte_pairs = {
        (r.id_a, r.id_b) for r in media_near_dup_pairs(media).collect()
    }
    assert (7, 500007) not in byte_pairs  # the documented blind spot
    perc = {
        (r.id_a, r.id_b): r.hamming
        for r in media_perceptual_dup_pairs(media).collect()
    }
    assert perc.get((7, 500007)) == 0  # the perceptual tier closes it


def test_png_decode_roundtrip_and_luma():
    """The pure-stdlib PNG pixel path (r9 verdict item 3): encode
    cycles all five scanline filters, decode unfilters them back to
    the exact pixels; RGB reduces by integer ITU-601 luma; truncated
    and 16-bit blobs fall through (None) instead of decoding wrongly."""
    import struct
    import zlib

    from binlog_avro_comparator_spark.operators.multimodal import (
        _decode_png_gray,
        encode_png_gray,
    )

    base = bytes(
        ((3 + 11 * r) * (c + 5) + r * r) % 251
        for r in range(16)
        for c in range(16)
    )
    blob = encode_png_gray(base, 16, 16)
    assert _decode_png_gray(blob) == (16, 16, base)
    # a 17-row image exercises every filter at least 3 times and the
    # odd-height path
    tall = bytes((r * 31 + c * 7) % 256 for r in range(17) for c in range(5))
    assert _decode_png_gray(encode_png_gray(tall, 5, 17)) == (5, 17, tall)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    rgb = bytes((r * 50 + c * 10 + k) % 256
                for r in range(4) for c in range(5) for k in range(3))
    raw = bytearray()
    for r in range(4):
        raw.append(0)
        raw += rgb[r * 15 : (r + 1) * 15]
    color_blob = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    w, h, g = _decode_png_gray(color_blob)
    exp = bytes(
        (299 * rgb[i] + 587 * rgb[i + 1] + 114 * rgb[i + 2]) // 1000
        for i in range(0, len(rgb), 3)
    )
    assert (w, h, g) == (5, 4, exp)
    # fall-throughs: truncated IDAT, 16-bit depth, interlaced
    assert _decode_png_gray(blob[:40]) is None
    deep = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    assert _decode_png_gray(deep) is None


def _mini_jpeg(w, h, comps, blocks_per_mcu, mcus, dri=0):
    """Hand-assemble a baseline JPEG whose entropy stream carries REAL
    AC coefficients -- the fixture encoder only ever emits EOB, so
    these streams are what prove the DC tier's AC walk keeps block
    sync.  ``mcus``: per MCU, per block-slot, (dc_diff_category,
    dc_diff, [(acsym, size_bits)...]).  Tables: the 4-bit DC category
    codes plus a 3-bit AC alphabet {EOB, 0x01, 0x11, 0x21, 0xF0}."""
    import struct

    ac_syms = [0x00, 0x01, 0x11, 0x21, 0xF0]
    ac_code = {s: (3, i) for i, s in enumerate(ac_syms)}
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                     len(comps))
    for cid, hv in comps:
        out += bytes([cid, hv, 0])
    out += (b"\xff\xc4" + struct.pack(">H", 31) + b"\x00"
            + bytes([0, 0, 0, 12] + [0] * 12) + bytes(range(12)))
    out += (b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + 5) + b"\x10"
            + bytes([0, 0, 5] + [0] * 13) + bytes(ac_syms))
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += b"\xff\xda" + struct.pack(">HB", 2 + 1 + 2 * len(comps) + 3,
                                     len(comps))
    for cid, _hv in comps:
        out += bytes([cid, 0x00])
    out += bytes([0, 63, 0])

    def flush(bits):
        while len(bits) % 8:
            bits.append(1)
        seg = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for b in bits[i : i + 8]:
                byte = (byte << 1) | b
            seg.append(byte)
            if byte == 0xFF:
                seg.append(0x00)
        return bytes(seg)

    def put(bits, value, n):
        for i in range(n - 1, -1, -1):
            bits.append((value >> i) & 1)

    bits = []
    for m, mcu in enumerate(mcus):
        if dri and m and m % dri == 0:
            out += flush(bits)
            out += bytes([0xFF, 0xD0 + ((m // dri - 1) % 8)])
            bits = []
        for t, diff, acs in mcu:
            put(bits, t, 4)
            if t:
                put(bits, diff if diff > 0 else diff + (1 << t) - 1, t)
            for sym, size in acs:
                ln, code = ac_code[sym]
                put(bits, code, ln)
                if sym not in (0x00, 0xF0):
                    put(bits, (1 << size) - 1, size)  # max-magnitude bits
    out += flush(bits)
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_dc_decode_walks_ac_and_syncs():
    """The baseline-JPEG DC tier (r10 verdict item 7) on streams the
    fixture never emits: blocks carrying real AC coefficients (the
    walk must consume them exactly or the NEXT block's DC desyncs),
    a 4:2:0 three-component interleave (chroma decoded and dropped),
    restart markers (predictor reset + byte realign), and the
    fall-throughs (progressive, truncated, non-JPEG)."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        _decode_jpeg_dc,
        encode_jpeg_gray_blocks,
    )

    eob = [(0x00, 0)]
    # grayscale 16x8: two blocks; block 1 carries AC run/size symbols
    # and a ZRL before its EOB -- block 2's DC only reads right if the
    # walk consumed every AC bit
    blob = _mini_jpeg(
        16, 8, [(1, 0x11)], 1,
        [
            [(4, 8, [(0x01, 1), (0xF0, 0), (0x11, 1), (0x21, 1)] + eob)],
            [(4, -8, eob)],
        ],
    )
    w, h, rw, rh, raster = _decode_jpeg_dc(blob)
    assert (w, h, rw, rh) == (16, 8, 2, 1)
    # DC1 = +8 -> 129; DC2 = 8 + (-8) = 0 -> 128
    assert list(raster) == [129, 128]
    # 4:2:0 interleave: 1 MCU = 4 Y blocks + Cb + Cr; chroma blocks
    # carry ACs too (discarded but must be walked)
    y_dcs = [(4, 8, eob), (4, 8, [(0x01, 1)] + eob), (5, -16, eob),
             (4, 8, eob)]
    chroma = [(3, 4, [(0x11, 1)] + eob), (3, -4, eob)]
    blob = _mini_jpeg(
        16, 16, [(1, 0x22), (2, 0x11), (3, 0x11)], 6,
        [y_dcs + chroma],
    )
    w, h, rw, rh, raster = _decode_jpeg_dc(blob)
    assert (w, h, rw, rh) == (16, 16, 2, 2)
    # cumulative Y DC: 8, 16, 0, 8 -> value = DC*q/8 + 128
    assert list(raster) == [129, 130, 128, 129]
    # restart markers: DRI=1, the second MCU's predictor resets to 0
    blob = _mini_jpeg(
        16, 8, [(1, 0x11)], 1,
        [[(4, 8, eob)], [(4, 8, eob)]],
        dri=1,
    )
    *_, raster = _decode_jpeg_dc(blob)
    assert list(raster) == [129, 129]  # predictor reset: NOT 129 then 130
    # fall-throughs: progressive SOF2, truncation, not-a-JPEG
    prog = bytearray(blob)
    prog[blob.index(b"\xff\xc0") + 1] = 0xC2
    assert _decode_jpeg_dc(bytes(prog)) is None
    assert _decode_jpeg_dc(blob[:30]) is None
    assert _decode_jpeg_dc(b"\x89PNG\r\n\x1a\nnope") is None
    # and the fixture encoder's EOB-only stream roundtrips exactly
    blocks = bytes((7 * i + 13) % 192 for i in range(12))
    out = _decode_jpeg_dc(encode_jpeg_gray_blocks(blocks, 4, 3))
    assert out == (32, 24, 4, 3, blocks)


def test_perceptual_catches_jpeg_reencode(spark):
    """The r10 verdict's lossy-format scenario end-to-end: the same
    block-constant content as a 64x64 BMP and as a real baseline JPEG
    shares no bytes, but the DC tier reconstructs the identical
    block-mean raster, so the aHashes match exactly and the pair
    surfaces with decoder='jpeg-dc' -- provably invisible to the byte
    tier, caught by the perceptual one."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        encode_bmp_gray,
        encode_jpeg_gray_blocks,
        image_ahash,
        media_near_dup_pairs,
        media_perceptual_dup_pairs,
    )

    d = 46  # 46 % 41 == 5: the registered plant's arithmetic
    blocks = bytes(
        ((1 + d % 191) * (8 * br + bc + 3 + d // 191)
         + (d % 7 + 2) * br * br + (d % 11 + 1) * bc * bc) % 192
        for br in range(8) for bc in range(8)
    )
    full = bytes(
        blocks[(r // 8) * 8 + (c // 8)] for r in range(64) for c in range(64)
    )
    media = spark.createDataFrame(
        [
            (800046, bytearray(encode_bmp_gray(full, 64, 64))),
            (900046, bytearray(encode_jpeg_gray_blocks(blocks, 8, 8))),
        ],
        "media_id long, content binary",
    )
    ah = {r.media_id: r for r in image_ahash(media).collect()}
    assert ah[800046].decoder == "bmp" and ah[900046].decoder == "jpeg-dc"
    assert (ah[900046].width, ah[900046].height) == (64, 64)
    for b in ("b0", "b1", "b2", "b3"):
        assert getattr(ah[800046], b) == getattr(ah[900046], b)
    pairs = media_perceptual_dup_pairs(media).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [
        (800046, 900046, 0)
    ]
    assert media_near_dup_pairs(media).count() == 0  # byte tier: blind


def test_perceptual_catches_png_container_swap(spark):
    """The r9 verdict's PNG scenario end-to-end: the SAME pixels
    re-encoded as a zlib PNG share no rare byte chunk with the BMP
    original, so the byte tier stays silent -- while image_ahash
    decodes both (decoder='bmp'/'png') to identical hashes and the
    perceptual tier reports hamming 0."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        encode_bmp_gray,
        encode_png_gray,
        image_ahash,
        media_near_dup_pairs,
        media_perceptual_dup_pairs,
    )

    rows = []
    for d in range(40):
        base = bytes(
            ((1 + d % 191) * (16 * r + c + 3)) % 192
            for r in range(16)
            for c in range(16)
        )
        rows.append((d, bytearray(encode_bmp_gray(base, 16, 16))))
        if d == 9:
            rows.append((700009, bytearray(encode_png_gray(base, 16, 16))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    byte_pairs = {
        (r.id_a, r.id_b) for r in media_near_dup_pairs(media).collect()
    }
    assert (9, 700009) not in byte_pairs  # container swap: byte-blind
    ah = {r.media_id: r for r in image_ahash(media).collect()}
    assert ah[9].decoder == "bmp" and ah[700009].decoder == "png"
    assert [ah[9][f"b{i}"] for i in range(4)] == [
        ah[700009][f"b{i}"] for i in range(4)
    ]
    perc = {
        (r.id_a, r.id_b): r.hamming
        for r in media_perceptual_dup_pairs(media).collect()
    }
    assert perc.get((9, 700009)) == 0


def test_exact_tier_guard_raises_above_cap(spark, monkeypatch):
    """The exact demo tiers refuse oversized frames with a pointer at
    the bucketed scale path instead of collecting them to the driver
    (r8 verdict item 4).  The cap is monkeypatched down so the test
    exercises the error path, not a 100k-row fixture."""
    import pytest as _pytest

    import binlog_avro_comparator_spark.operators.similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(30)],
        "vec_id long, embedding array<double>, label int",
    )
    monkeypatch.setattr(sim, "EXACT_TIER_ROW_CAP", 10)
    with _pytest.raises(ValueError, match="candidates="):
        sim.knn_label_audit(emb)
    with _pytest.raises(ValueError, match="candidates="):
        sim.bitext_margin_pairs(emb)
    # under the cap the exact tier still runs; the bucketed path is
    # never capped (no collect to guard)
    small = emb.filter(F.col("vec_id") < 8)
    assert sim.knn_label_audit(small, k=3).count() == 8
    cand = spark.createDataFrame(
        [(i, j) for i in range(30) for j in range(30) if i != j],
        "a_id long, b_id long",
    )
    assert sim.knn_label_audit(emb, k=3, candidates=cand).count() == 30


def test_video_perceptual_catches_rerender(spark):
    """A brightness-shifted, last-frame-trimmed re-render shares zero
    frame shas with its original but matches n-1 of n frame aHashes --
    video_perceptual_pairs reports the pair at jaccard (n-1)/n while
    the sha-level frame comparison sees disjoint sets."""
    from binlog_avro_comparator_spark.operators.multimodal import (
        encode_avi,
        video_frame_ahash,
        video_perceptual_pairs,
    )

    def raster(d, f):
        return bytes(
            ((1 + d) * (16 * r + c + 3 + 5 * f) + 3 * r * r) % 192
            for r in range(16)
            for c in range(16)
        )

    rows = []
    for d in range(12):
        frames = [raster(d, f) for f in range(4)]
        rows.append((d, bytearray(encode_avi(frames, width=16, height=16))))
    rerender = [bytes(p + 32 for p in raster(3, f)) for f in range(3)]
    rows.append((600003, bytearray(encode_avi(rerender, width=16, height=16))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    fh = video_frame_ahash(media)
    assert fh.filter(F.col("decoder") != "raw-gray").count() == 0
    pairs = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in video_perceptual_pairs(media).collect()
    }
    assert pairs[(3, 600003)] == (3, 0.75)  # 3 of 4 frames survive
    # no other video pairs with anything
    assert set(pairs) == {(3, 600003)}


def test_k_anonymity_bands_and_l_diversity(spark):
    """Class of 2 -> HIGH; class of 6 -> MEDIUM; l-diversity counts
    DISTINCT priorities of the class's orders; customers without
    orders keep l = 0."""
    from binlog_avro_comparator_spark.operators.analytics import (
        k_anonymity_report,
    )

    cust = spark.createDataFrame(
        # QI = (nation, segment, floor(bal/1000))
        [(1, "c1", 10, 500.0, "AUTO"), (2, "c2", 10, 900.0, "AUTO")]  # HIGH, k=2
        + [(10 + i, f"m{i}", 20, 1500.0, "BLDG") for i in range(6)]  # MEDIUM
        + [(100, "lone", 30, 2500.0, "SHIP")],  # HIGH, no orders
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(1, 1, "1-URGENT"), (2, 1, "2-HIGH"), (3, 2, "1-URGENT"),
         (4, 10, "3-MEDIUM")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    got = {
        (r.nationkey, r.mktsegment, r.bal_bracket): r
        for r in k_anonymity_report(cust, orders).collect()
    }
    small = got[(10, "AUTO", 0)]
    assert small.k == 2 and small.risk_band == "HIGH"
    assert small.l_diversity == 2  # URGENT + HIGH across the class
    med = got[(20, "BLDG", 1)]
    assert med.k == 6 and med.risk_band == "MEDIUM" and med.l_diversity == 1
    lone = got[(30, "SHIP", 2)]
    assert lone.k == 1 and lone.l_diversity == 0 and lone.risk_band == "HIGH"


def test_seasonal_profile_trend_window_and_index(spark):
    """Trend exists only for full 12-row centered frames; the seasonal
    index is the mean ratio of the month-of-year; a flat series gets
    index 1.0 and deseasonalized == revenue."""
    from binlog_avro_comparator_spark.operators.analytics import (
        seasonal_profile,
    )
    import datetime

    rows = []
    k = 0
    for year in (2023, 2024):
        for m in range(1, 13):
            rows.append((k, 1, datetime.datetime(year, m, 15), 1200.0))
            k += 1
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    got = {r.month: r for r in seasonal_profile(orders).collect()}
    assert len(got) == 24
    # months 1..5 of 2023 lack 5 preceding rows; month 7+5=12 needs 6
    # following, so 2024-07 onward also has no trend
    assert got["2023-01"].trend is None
    assert got["2023-06"].trend == 1200.0
    assert got["2024-06"].trend == 1200.0
    assert got["2024-07"].trend is None
    assert got["2023-06"].ratio == 1.0
    assert got["2023-06"].seasonal_index == 1.0
    assert got["2023-06"].deseasonalized == 1200.0


def test_user_lifecycle_new_returning_resurrected(spark):
    """First day ever = new; gap <= 7 days = returning; longer =
    resurrected; multiple events one day count once."""
    from binlog_avro_comparator_spark.operators.analytics import (
        user_lifecycle,
    )
    import datetime

    d = datetime.datetime
    rows = [
        # user 1: day 1 (new), day 3 (returning), day 20 (resurrected)
        (0, d(2024, 1, 1, 8), 1, "click", 1.0, "{}"),
        (1, d(2024, 1, 1, 9), 1, "view", 1.0, "{}"),  # same day, dedup
        (2, d(2024, 1, 3, 8), 1, "click", 1.0, "{}"),
        (3, d(2024, 1, 20, 8), 1, "click", 1.0, "{}"),
        # user 2: day 3 only (new)
        (4, d(2024, 1, 3, 10), 2, "view", 1.0, "{}"),
        # null user ignored
        (5, d(2024, 1, 1, 10), None, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r.day: r for r in user_lifecycle(ev).collect()}
    assert got["2024-01-01"].n_active == 1 and got["2024-01-01"].n_new == 1
    assert got["2024-01-03"].n_active == 2
    assert got["2024-01-03"].n_new == 1 and got["2024-01-03"].n_returning == 1
    assert got["2024-01-20"].n_resurrected == 1


def test_changelog_compaction_net_rules(spark):
    """INSERT..DELETE -> NOOP; ..DELETE -> DELETE; INSERT.. -> INSERT;
    UPDATE-only run -> UPDATE with last image; DELETE-then-INSERT
    (key recreated) -> UPDATE."""
    from binlog_avro_comparator_spark.operators.snapshot import (
        changelog_compaction,
    )
    import datetime

    d = datetime.datetime
    rows = [
        # user 1: INSERT then DELETE -> NOOP
        (0, d(2024, 1, 1), 1, "click", 1.0, "{}"),
        (1, d(2024, 1, 2), 1, "purchase", 2.0, "{}"),
        # user 2: UPDATE UPDATE -> UPDATE, last image = event 3
        (2, d(2024, 1, 1), 2, "view", 3.0, "{}"),
        (3, d(2024, 1, 2), 2, "view", 4.0, "{}"),
        # user 3: INSERT UPDATE -> INSERT with last image
        (4, d(2024, 1, 1), 3, "click", 5.0, "{}"),
        (5, d(2024, 1, 2), 3, "view", 6.0, "{}"),
        # user 4: UPDATE then DELETE -> DELETE
        (6, d(2024, 1, 1), 4, "view", 7.0, "{}"),
        (7, d(2024, 1, 2), 4, "purchase", 8.0, "{}"),
        # user 5: DELETE then INSERT (recreated) -> UPDATE
        (8, d(2024, 1, 1), 5, "purchase", 9.0, "{}"),
        (9, d(2024, 1, 2), 5, "click", 10.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r.user_id: r for r in changelog_compaction(ev).collect()}
    assert got[1].net_op == "NOOP" and got[1].n_events == 2
    assert got[2].net_op == "UPDATE" and got[2].last_event_id == 3
    assert got[3].net_op == "INSERT" and got[3].last_value == 6.0
    assert got[4].net_op == "DELETE"
    assert got[5].net_op == "UPDATE" and got[5].last_op == "INSERT"


def test_multimaster_conflicts_tolerance_and_census(spark):
    """Writer flips inside the tolerance conflict; the same flip hours
    apart (failover) does not; single-writer keys never appear."""
    from binlog_avro_comparator_spark.operators.compare import (
        multimaster_conflicts,
    )

    t0 = 1_700_000_000_000
    rows = [
        # key 1: A -> B 10s apart = conflict; B -> A 2h apart = clean
        (1, "uuid-a", t0, 1),
        (1, "uuid-b", t0 + 10_000, 2),
        (1, "uuid-a", t0 + 7_200_000 + 10_000, 3),
        # key 2: failover only (A -> B after 2h)
        (2, "uuid-a", t0, 4),
        (2, "uuid-b", t0 + 7_200_000, 5),
        # key 3: single writer
        (3, "uuid-a", t0, 6),
        (3, "uuid-a", t0 + 1_000, 7),
    ]
    ch = spark.createDataFrame(
        rows, "key long, writer string, ts_ms long, event_id long"
    )
    got = {r.key: r for r in multimaster_conflicts(ch, 3_600_000).collect()}
    assert set(got) == {1}
    r = got[1]
    assert r.n_conflicts == 1 and r.n_writers == 2
    assert r.first_conflict_ts_ms == t0 + 10_000
    assert r.writers == "uuid-a,uuid-b"


def test_encoding_anomalies_tiers_and_priority(spark):
    """Replacement char outranks control outranks mojibake; clean text
    is CLEAN with full ASCII ratio; counts are per-occurrence exact."""
    from binlog_avro_comparator_spark.operators.textstats import (
        encoding_anomalies,
    )

    docs = spark.createDataFrame(
        [
            (1, "clean ascii text"),
            (2, "moji \u00c3\u00a9 and \u00e2\u20ac marks"),
            (3, "ctrl\u0007here"),
            (4, "worst \ufffd with \u00c3 and \u0001"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in encoding_anomalies(docs).collect()}
    assert got[1].verdict == "CLEAN" and got[1].ascii_ratio == 1.0
    assert got[2].verdict == "MOJIBAKE" and got[2].n_mojibake_marks == 3
    assert got[3].verdict == "CONTROL" and got[3].n_control == 1
    assert got[4].verdict == "REPLACEMENT" and got[4].n_replacement == 1
    assert got[4].n_control == 1 and got[4].n_mojibake_marks == 1


def test_code_switch_profile_segments_and_switches(spark):
    """A doc of 20 en words + 20 fr words = 2 segments, 1 switch; a
    pure-en doc never switches; stopword-free segments are unknown and
    transparent to switch counting (en, unknown, en = no switch)."""
    from binlog_avro_comparator_spark.operators.textstats import (
        code_switch_profile,
    )

    en20 = ("the cat and dog of it to go in out is up " * 2).split()[:20]
    fr20 = ("le chat la chien et les des un une oui " * 2).split()[:20]
    none20 = ["xyz"] * 20
    docs = spark.createDataFrame(
        [
            (1, " ".join(en20 + fr20)),
            (2, " ".join(en20 + en20)),
            (3, " ".join(en20 + none20 + en20)),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in code_switch_profile(docs).collect()}
    assert got[1].n_segments == 2 and got[1].n_switches == 1
    assert got[1].code_switched and got[1].n_en == 1 and got[1].n_fr == 1
    assert got[2].n_switches == 0 and got[2].dominant_lang == "en"
    assert got[3].n_unknown == 1 and got[3].n_switches == 0


def test_supplier_similarity_jaccard_and_df_cap(spark):
    """Two suppliers sharing 2 of 3 parts -> jaccard 0.5; a part above
    the df cap contributes to no pair and no set size."""
    from binlog_avro_comparator_spark.operators.analytics import (
        supplier_similarity,
    )

    rows = []
    # suppliers 1,2 share parts 10,11; 1 also has 12, 2 also has 13
    for s, p in [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (2, 13)]:
        rows.append((s, p))
    # hot part 99 carried by everyone incl. supplier 3 (df cap = 2)
    for s in (1, 2, 3):
        rows.append((s, 99))
    li = spark.createDataFrame(
        [(i, p, s) for i, (s, p) in enumerate(rows)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    got = supplier_similarity(
        li, top_k=5, max_suppliers_per_part=2
    ).collect()
    pairs = {(r.supp_a, r.supp_b): r for r in got}
    # SYMMETRIC contract: supplier 2 sees its lower-keyed neighbor too;
    # supplier 3 only had the capped part, so no row either direction
    assert set(pairs) == {(1, 2), (2, 1)}
    for a, b in ((1, 2), (2, 1)):
        r = pairs[(a, b)]
        assert r.n_shared == 2 and r.n_a == 3 and r.n_b == 3
        assert r.jaccard == 0.5 and r.rank == 1


def test_hourly_autocorr_perfect_period(spark):
    """A strictly periodic hourly pattern (period 2) autocorrelates to
    +1 at lag 2 and -1 at lag 1; constant series have no defined r."""
    from binlog_avro_comparator_spark.operators.analytics import (
        hourly_autocorr,
    )
    import datetime

    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for h in range(48):
        n = 3 if h % 2 == 0 else 1  # alternating volume
        for _ in range(n):
            rows.append(
                (eid, base + datetime.timedelta(hours=h), 1, "click", 1.0,
                 "{}")
            )
            eid += 1
        rows.append(
            (eid, base + datetime.timedelta(hours=h), 1, "view", 1.0, "{}")
        )  # constant 1/hour
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {(r.event_type, r.lag): r for r in hourly_autocorr(ev).collect()}
    assert got[("click", 2)].r == 1.0
    assert got[("click", 1)].r == -1.0
    assert got[("view", 1)].r is None  # zero variance
    assert got[("click", 24)].n_pairs == 24


def test_pca_power_recovers_planted_direction(spark):
    """Vectors spread along the (1,1,0,0)/sqrt(2) axis with tiny
    orthogonal jitter: three power iterations recover the axis (up to
    sign), and it explains nearly all variance."""
    from binlog_avro_comparator_spark.operators.similarity import (
        pca_power_top1,
    )

    rows = []
    for i in range(60):
        t = (i - 30) / 10.0  # spread -3..3 along the planted axis
        eps = 0.01 * ((i % 5) - 2)  # small orthogonal jitter on dim 3
        rows.append((i, [t * 0.7071, t * 0.7071, eps, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.ord: r for r in pca_power_top1(emb).collect()}
    assert len(got) == 4
    share = got[1].explained_share
    assert share > 0.99
    # axis recovered up to sign: |loading_1| = |loading_2| ~ 0.7071
    l1, l2, l3, l4 = (got[i].loading for i in (1, 2, 3, 4))
    assert abs(abs(l1) - 0.7071) < 0.001 and abs(abs(l2) - 0.7071) < 0.001
    assert l1 * l2 > 0  # same sign: the axis, not a mixture
    assert abs(l3) < 0.02 and abs(l4) < 1e-6
    assert got[1].eigenvalue > 0


def test_forecast_baseline_perfect_seasonality(spark):
    """A perfectly daily-periodic series has zero seasonal-naive error
    (mase 0); hours missing either comparator drop out of the overlap."""
    from binlog_avro_comparator_spark.operators.analytics import (
        forecast_baseline_report,
    )
    import datetime

    rows, eid = [], 0
    base = datetime.datetime(2024, 1, 1)
    for h in range(72):
        n = 4 if h % 24 == 3 else 1  # daily spike at hour 3
        for _ in range(n):
            rows.append(
                (eid, base + datetime.timedelta(hours=h), 1, "click", 1.0,
                 "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r.event_type: r for r in forecast_baseline_report(ev).collect()}
    r = got["click"]
    # evaluable hours: 24..71 have both h-24 and h-1 = 48
    assert r.n_hours == 48
    assert r.mae_seasonal == 0.0 and r.mase == 0.0
    assert r.mae_naive > 0


def test_top_movers_directions_and_smoothing(spark):
    """A user active only in the second half is the top riser; one
    active only in the first half the top faller; add-1 smoothing
    keeps zero counts finite."""
    from binlog_avro_comparator_spark.operators.analytics import top_movers
    import datetime, math

    d = datetime.datetime
    rows, eid = [], 0
    for _ in range(15):  # riser: 15 events after the split
        rows.append((eid, d(2024, 1, 20), 1, "click", 1.0, "{}")); eid += 1
    for _ in range(15):  # faller: 15 events before
        rows.append((eid, d(2024, 1, 10), 2, "click", 1.0, "{}")); eid += 1
    rows.append((eid, d(2024, 1, 10), 3, "click", 1.0, "{}")); eid += 1
    rows.append((eid, d(2024, 1, 20), 3, "click", 1.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = top_movers(ev, k=2).collect()
    by = {(r.direction, r.rank): r for r in got}
    assert by[("RISER", 1)].user_id == 1
    assert by[("RISER", 1)].log_ratio == round(math.log(16.0), 6)
    assert by[("FALLER", 1)].user_id == 2
    assert by[("FALLER", 1)].log_ratio == round(math.log(1 / 16.0), 6)
    assert by[("RISER", 2)].user_id == 3  # flat user ranks by tie-break


def test_cohort_ltv_triangle_and_cumulative(spark):
    """Two customers first-buying in Jan form the 2024-01 cohort; a
    Feb repeat purchase lands at age 1 with cumulative LTV = total /
    cohort size; a Feb-first customer starts their own cohort."""
    from binlog_avro_comparator_spark.operators.analytics import cohort_ltv
    import datetime

    d = datetime.datetime
    orders = spark.createDataFrame(
        [
            (1, 10, d(2024, 1, 5), 100.0),
            (2, 11, d(2024, 1, 20), 50.0),
            (3, 10, d(2024, 2, 5), 30.0),  # repeat at age 1
            (4, 12, d(2024, 2, 10), 70.0),  # new cohort
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    got = {(r.cohort_month, r.age_months): r for r in cohort_ltv(orders).collect()}
    jan0 = got[("2024-01", 0)]
    assert jan0.n_buyers == 2 and jan0.revenue == 150.0
    assert jan0.cum_ltv_per_member == 75.0
    jan1 = got[("2024-01", 1)]
    assert jan1.n_buyers == 1 and jan1.cum_revenue == 180.0
    assert jan1.cum_ltv_per_member == 90.0
    feb0 = got[("2024-02", 0)]
    assert feb0.n_buyers == 1 and feb0.revenue == 70.0


def test_fulfillment_sla_percentiles_and_breach(spark):
    """Delays 1..10 days: p50 = 5.5 (R-7 interpolation), mean exact,
    one line over a 9-day SLA -> 10% breach."""
    from binlog_avro_comparator_spark.operators.analytics import (
        fulfillment_sla_profile,
    )
    import datetime

    d = datetime.datetime
    orders = spark.createDataFrame(
        [(k, 1, d(2024, 1, 1), "1-URGENT") for k in range(1, 11)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(k, d(2024, 1, 1 + k)) for k in range(1, 11)],
        "l_orderkey long, l_shipdate timestamp",
    )
    got = fulfillment_sla_profile(li, orders, sla_days=9).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_lines == 10 and r.mean_delay_days == 5.5
    assert r.p50 == 5.5 and r.p99 == 9.91
    assert r.pct_over_sla == 0.1


def test_embedding_dim_stats_dead_dim(spark):
    """A constant dimension is flagged dead with std exactly 0; a live
    dimension reports exact integer-scaled moments."""
    from binlog_avro_comparator_spark.operators.similarity import (
        embedding_dim_stats,
    )

    emb = spark.createDataFrame(
        [(i, [0.5, float(i)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    got = {r.ord: r for r in embedding_dim_stats(emb).collect()}
    assert got[1].is_dead and got[1].std == 0.0 and got[1].mean == 0.5
    assert not got[2].is_dead
    assert got[2].mean == 1.5 and got[2].min_v == 0.0 and got[2].max_v == 3.0


def test_engagement_ratios_set_exact_windows(spark):
    """A user active twice inside the trailing week counts once in
    WAU; MAU reaches back 30 days; stickiness = DAU/MAU; inactive
    calendar days emit no row."""
    from binlog_avro_comparator_spark.operators.analytics import (
        engagement_ratios,
    )
    import datetime

    d = datetime.datetime
    rows = [
        (0, d(2024, 1, 1), 1, "click", 1.0, "{}"),
        (1, d(2024, 1, 3), 1, "click", 1.0, "{}"),  # same user twice in week
        (2, d(2024, 1, 3), 2, "view", 1.0, "{}"),
        (3, d(2024, 1, 25), 2, "view", 1.0, "{}"),  # u1's Jan-1 out of MAU? no: 24 days -> in
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r.day: r for r in engagement_ratios(ev).collect()}
    assert set(got) == {"2024-01-01", "2024-01-03", "2024-01-25"}
    d3 = got["2024-01-03"]
    assert d3.dau == 2 and d3.wau == 2 and d3.mau == 2
    d25 = got["2024-01-25"]
    # trailing 30d window [Dec 27, Jan 25] holds u1 (Jan 1, Jan 3) and u2
    assert d25.dau == 1 and d25.wau == 1 and d25.mau == 2
    assert d25.stickiness == 0.5


def test_audio_phash_gain_and_resample_invariant(spark):
    """A half-gain, differently-sampled re-master hashes identically
    (the energy CONTOUR survives); a different contour does not; real
    clips take the wave decoder; junk bytes fall back deterministic."""
    import io
    import struct
    import wave as wavemod

    from binlog_avro_comparator_spark.operators.multimodal import (
        audio_perceptual_pairs,
        audio_phash,
    )

    def clip(levels, div, per):
        samples = []
        for lvl in levels:
            samples.extend([(500 + 400 * lvl) // div] * per)
        buf = io.BytesIO()
        with wavemod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    contour = [0, 7, 1, 6, 2, 5, 3, 4, 0, 7, 1, 6, 2, 5, 3, 4]
    other = list(reversed(contour))
    media = spark.createDataFrame(
        [
            (1, "audio", clip(contour, 1, 100)),
            (2, "audio", clip(contour, 2, 80)),  # re-master
            (3, "audio", clip(other, 1, 100)),
            (4, "audio", b"not a wav at all"),
        ],
        "media_id long, kind string, content binary",
    )
    hashes = {r.media_id: r for r in audio_phash(media).collect()}
    assert hashes[1].decoder == "wave" and hashes[4].decoder == "fake-deterministic"
    assert hashes[1].phash == hashes[2].phash
    assert hashes[1].phash != hashes[3].phash
    pairs = {
        (r.media_id_a, r.media_id_b)
        for r in audio_perceptual_pairs(media).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_returns_control_chart_flags_shifted_week(spark):
    """A week with a genuinely shifted return rate breaches the
    3-sigma limit; normal binomial noise does not."""
    from binlog_avro_comparator_spark.operators.analytics import (
        returns_control_chart,
    )
    import datetime

    rows, k = [], 0
    # 10 quiet weeks at 10% returns (100 lines each), week 11 at 50%
    for wk in range(11):
        ship = datetime.datetime(2024, 1, 1) + datetime.timedelta(weeks=wk)
        n_ret = 50 if wk == 10 else 10
        for i in range(100):
            rows.append((k, ship, "R" if i < n_ret else "N")); k += 1
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_shipdate timestamp, l_returnflag string"
    )
    got = sorted(returns_control_chart(li).collect(), key=lambda r: r.week)
    assert [r.out_of_control for r in got[:10]] == [False] * 10
    assert got[10].out_of_control and got[10].rate == 0.5


def test_sourcing_hhi_bands(spark):
    """Single-supplier bracket = HHI 1.0 CONCENTRATED; ten equal
    suppliers = 0.1 COMPETITIVE."""
    from binlog_avro_comparator_spark.operators.analytics import (
        sourcing_concentration,
    )

    rows = [(1, 100, 1, 10.0)]  # bracket 1: sole supplier
    for s in range(10):  # bracket 2: ten equal suppliers
        rows.append((2, 200, s, 5.0))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double",
    )
    got = {r.bracket: r for r in sourcing_concentration(li).collect()}
    assert got[1].hhi == 1.0 and got[1].band == "CONCENTRATED"
    assert got[2].hhi == 0.1 and got[2].band == "COMPETITIVE"
    assert got[2].n_suppliers == 10


def test_slo_burn_pages_only_when_both_windows_hot(spark):
    """A single bad hour after clean history trips the 1 h window but
    not the 6 h window (no page); sustained errors trip both."""
    from binlog_avro_comparator_spark.operators.analytics import (
        slo_burn_rates,
    )
    import datetime

    rows, k = [], 0
    base = datetime.datetime(2024, 1, 1)
    # hours 0..9 clean (100 ok), hour 10 = 20% errors (one bad hour),
    # hours 11..16 sustained 20% errors
    for h in range(17):
        bad = 20 if h >= 10 else 0
        for i in range(100):
            et = "error" if i < bad else "click"
            rows.append((k, base + datetime.timedelta(hours=h), 1, et, 1.0,
                         "{}")); k += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {int(r.hour_ms // 3600000 - 473352): r
           for r in slo_burn_rates(ev, budget=0.05).collect()}
    h10 = got[10]
    assert h10.burn_1h == 4.0  # 20% / 5% budget
    assert not h10.page  # 6h window still diluted
    h16 = got[16]
    assert h16.burn_1h == 4.0 and h16.burn_6h == 4.0 and h16.page


def test_survivorship_conflicts_only_on_disagreement(spark):
    """A cluster whose longest member IS the canonical never appears;
    one where a later, longer doc wins the quality policy does."""
    from binlog_avro_comparator_spark.operators.dedup import (
        survivorship_conflicts,
    )

    # duplicate text => same cluster; doc 11 longer than canonical 10;
    # cluster (20, 21): canonical 20 is also the longest -> no row
    t1 = "alpha beta gamma delta epsilon zeta eta theta " * 8
    t2 = "iota kappa lambda mu nu xi omicron pi rho sigma " * 8
    docs = spark.createDataFrame(
        [
            (10, t1, "en", "s", 100),
            (11, t1 + "tail words appended here", "en", "s", 150),
            (20, t2 + "longer canonical body here", "en", "s", 180),
            (21, t2, "en", "s", 120),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.cluster_id: r for r in survivorship_conflicts(docs).collect()}
    assert set(got) == {10}
    assert got[10].best_id == 11 and got[10].canonical_id == 10
    assert got[10].best_chars == 150 and got[10].canonical_chars == 100


def test_pq_distortion_separable_codebook_is_lossless(spark):
    """Vectors that ARE codewords reconstruct exactly (mse 0); a
    perturbed vector contributes exactly its planted squared error."""
    from binlog_avro_comparator_spark.operators.similarity import (
        pq_distortion,
    )

    dim, m, k, stride = 8, 2, 2, 3
    # seeds at vec_id 0 and 3 (stride 3): two distinct codewords per
    # subspace; remaining vectors copy a seed exactly, one adds +0.5
    # on the last dim (subspace 1)
    base0 = [1.0] * dim
    base1 = [-1.0] * dim
    rows = [
        (0, base0), (3, base1),
        (1, base0), (2, base1),
        (4, base0[:7] + [1.5]),  # planted error 0.25 in subspace 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.subspace, r.code): r
        for r in pq_distortion(
            emb, m=m, k=k, n_iter=2, stride=stride, dim=dim
        ).collect()
    }
    # subspace 0: everything sits exactly on a codeword
    assert all(r.mse == 0.0 for (s, _), r in got.items() if s == 0)
    # subspace 1: the perturbed vector's cell carries the planted error
    bad_cells = [r for (s, _), r in got.items() if s == 1 and r.max_se > 0]
    assert len(bad_cells) == 1
    cell = bad_cells[0]
    # centroid moved to the mean of its members, so the planted +0.5
    # splits: reconstruction error is positive and bounded by 0.25
    assert 0 < cell.max_se <= 0.25
