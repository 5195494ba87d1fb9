"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline primitives: token counting, quality scoring,
language ID, document fingerprinting.  All pure built-in column
functions (JVM-side, whole-stage codegen) -- no Python UDFs.  Every
numeric output is either integer-exact or a single IEEE division of
integer-exact inputs, so the DuckDB oracles reproduce values bit-for-bit.

Scale: each operator is a narrow per-row projection -- no shuffle at
all; at 100 TB these run at scan speed and pushdown prunes to the
``text`` column.  The fingerprint fold is O(len) per row with bounded
intermediates (48-bit word hashes, mod-1e9+7 accumulator) chosen so the
same arithmetic is expressible in any engine without 64-bit overflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.caching import scoped_cache
from ..functions.partitioning import spread_small_scan

TOKEN_RE = r"\S+"
BPE_ISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
PUNCT_RE = "[.,!?;:]"

EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")
FR_STOPWORDS = ("le", "la", "et", "les", "des", "un", "une")
DE_STOPWORDS = ("der", "die", "und", "das", "ist", "ein", "nicht")

FP_PRIME = 1_000_000_007
FP_MULT = 31


def _count_re(col: F.Column, pattern: str) -> F.Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def gram_array(text: F.Column, k: int) -> F.Column:
    """Word k-gram array for a text column (order-preserving, repeats
    kept).  Shared by shingling (dedup) and repetition scoring.
    Guard: Spark's sequence(1, 0) counts DOWN instead of returning an
    empty array, so texts shorter than k words need the explicit empty
    branch."""
    words = F.regexp_extract_all(text, F.lit(TOKEN_RE), F.lit(0))
    n = F.size(words)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))


def _stopword_re(words: tuple[str, ...]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace and BPE-ish regex token counts per document."""
    t = F.col("text")
    return documents.select(
        "doc_id",
        F.length(t).alias("text_len"),
        _count_re(t, TOKEN_RE).alias("n_ws_tokens"),
        _count_re(t, BPE_ISH_RE).alias("n_bpe_tokens"),
        "n_chars",
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword heuristics.

    Ratios are single divisions of exact integers -> deterministic
    doubles, reproducible in any IEEE-754 engine.
    """
    t = F.col("text")
    n_words = _count_re(t, TOKEN_RE)
    n_stop = _count_re(t, _stopword_re(EN_STOPWORDS))
    n_punct = _count_re(t, PUNCT_RE)
    text_len = F.length(t)
    return documents.select(
        "doc_id",
        text_len.alias("text_len"),
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        (text_len / n_words).alias("chars_per_word"),
        (n_stop / n_words).alias("stopword_ratio"),
        (n_punct / text_len).alias("punct_ratio"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language heuristic (en/fr/de/unknown)."""
    t = F.col("text")
    en = _count_re(t, _stopword_re(EN_STOPWORDS))
    fr = _count_re(t, _stopword_re(FR_STOPWORDS))
    de = _count_re(t, _stopword_re(DE_STOPWORDS))
    guess = (
        F.when((en == 0) & (fr == 0) & (de == 0), "unknown")
        .when((en >= fr) & (en >= de), "en")
        .when(fr >= de, "fr")
        .otherwise("de")
    )
    return documents.select(
        "doc_id",
        en.alias("en_hits"),
        fr.alias("fr_hits"),
        de.alias("de_hits"),
        guess.alias("lang_guess"),
        "lang",
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k terms per document by tf-idf.

    tf = term count in doc; idf = ln(N / doc-frequency).  Scores are
    rounded to 6 decimals before ranking (libm ln() may differ in the
    last ulp across engines) with a term-name tie-break.

    Scale: one explode + two hash aggregations (term counts, doc
    frequencies) + a window per doc.  The df table is usually
    vocabulary-sized and broadcasts; for web-corpus vocabularies that
    outgrow a broadcast, drop the hint and let AQE pick a shuffled join.
    The corpus size N enters the plan as a broadcast 1-row aggregate
    (crossJoin), NOT a driver-side ``.count()`` -- the whole query stays
    one lazy plan with a single pass over ``documents``.
    """
    from pyspark.sql import Window

    words = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_counts), on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def word_hash(col: F.Column) -> F.Column:
    """Deterministic 48-bit word hash shared with the DuckDB oracles:
    the first 12 hex digits of md5, as a BIGINT.  (Engine-native hashes
    like xxhash64 differ across engines; md5 is the portable choice.)"""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def fingerprints(documents: DataFrame) -> DataFrame:
    """Order-sensitive rolling document fingerprint:
    fold (acc * 31 + h(word)) mod 1e9+7 over the word sequence."""
    # single-file corpus scans need a spread before per-row hashing
    # (one parquet file == one task otherwise); no-op on well-
    # partitioned inputs
    documents = spread_small_scan(documents)
    words = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
    hashes = F.transform(words, word_hash)
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FP_MULT + h) % FP_PRIME,
    )
    return documents.select(
        "doc_id",
        F.size(words).alias("n_words"),
        fp.alias("fingerprint"),
    )


# --- corpus curation operators ---------------------------------------------

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^\\s]+"


def clean_text(documents: DataFrame) -> DataFrame:
    """PII / noise scrub, the standard pre-training text hygiene pass:
    emails and URLs replaced with sentinel tokens, whitespace collapsed,
    edges trimmed.  Pure regexp_replace projections -- scan-speed, no
    shuffle; the regexes use the portable character-class subset that
    Java regex and RE2 interpret identically (oracle adds DuckDB's 'g'
    flag since its regexp_replace is first-match by default)."""
    t = F.col("text")
    cleaned = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    cleaned = F.regexp_replace(cleaned, URL_RE, "<URL>")
    cleaned = F.trim(F.regexp_replace(cleaned, "\\s+", " "))
    return documents.select(
        "doc_id",
        cleaned.alias("clean_text"),
        (F.length(t) - F.length(cleaned)).alias("removed_chars"),
    )


IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{2,4}"
SSN_ISH_RE = r"\b\d{3}-\d{2}-\d{4}\b"

# (name, pattern, sentinel) in REPLACEMENT ORDER: email first so an IP
# or digit-run inside an address is redacted as part of the address,
# never double-counted by a later pattern's pass over the rewritten text
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ipv4", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
    ("id", SSN_ISH_RE, "<ID>"),
)


def redact_pii(documents: DataFrame) -> DataFrame:
    """Typed PII redaction -- the release-gate scrub a public training
    corpus goes through: emails, IPv4 addresses, international phone
    numbers, and SSN-shaped ids replaced with sentinel tokens, with a
    per-type occurrence count (the audit trail reviewers sign off on).

    Counts are taken on the text AS EACH PATTERN SEES IT (the running
    redacted form), so an IPv4 inside an already-redacted email is
    counted once as email, never twice -- the count of a pattern equals
    the number of substitutions it performed.  All patterns live in the
    character-class + bounded-repetition subset that Java regex and RE2
    interpret identically (no lookaround, no backreferences), so the
    DuckDB twin reproduces the redacted text byte-for-byte.

    Scale: a chain of regexp_replace projections -- no shuffle, no
    Python, scan speed; at 100 TB this is exactly as parallel as the
    input layout."""
    t = F.col("text")
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(_count_re(t, pat).cast("long").alias(f"n_{name}"))
        t = F.regexp_replace(t, pat, rep)
    total = sum((F.col(f"n_{n}") for n, _, _ in PII_PATTERNS[1:]),
                F.col(f"n_{PII_PATTERNS[0][0]}"))
    return documents.select("doc_id", *counts, t.alias("text_redacted")).select(
        "doc_id",
        *[f"n_{n}" for n, _, _ in PII_PATTERNS],
        total.alias("n_pii"),
        "text_redacted",
    )


def split_assignments(
    documents: DataFrame, weights: tuple[int, int, int] = (90, 5, 5)
) -> DataFrame:
    """Deterministic train/val/test split: bucket = portable 48-bit
    hash of the salted doc_id mod 100, cut at the cumulative weights.
    Rerun- and layout-independent (hash of the KEY, never of partition
    or row position): a document keeps its split across reruns, cluster
    sizes, and file layouts -- the property that makes held-out sets
    trustworthy.  The salt ("split:") decorrelates this hash from every
    other hash-derived decision in the pipeline (sharding, sampling),
    so the test set is not biased by, e.g., shard assignment.

    Scale: one scan-speed projection, no shuffle; the split is data,
    so downstream writers just partitionBy("split")."""
    train_w, val_w, _ = weights
    bucket = word_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < train_w, "train")
        .when(bucket < train_w + val_w, "val")
        .otherwise("test")
    )
    return documents.select(
        "doc_id", "lang", "source",
        bucket.alias("bucket"), split.alias("split"),
    )


def length_quantiles(documents: DataFrame, approx: bool = False) -> DataFrame:
    """Per-language document-length distribution (p50/p90/p99 of
    n_chars) -- the curation dashboard numbers used to set length
    filters.

    Exact mode buffers each group's values (fine up to millions of
    docs per language); at 100 TB pass ``approx=True`` for
    approx_percentile's fixed-memory sketch -- same columns, bounded
    error, one map-side-combinable aggregation.  The oracle checks the
    exact mode (both engines implement R-7 linear interpolation)."""
    pct = F.approx_percentile if approx else F.percentile
    n = F.col("n_chars")
    return documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        pct(n, F.lit(0.5)).alias("p50_chars"),
        pct(n, F.lit(0.9)).alias("p90_chars"),
        pct(n, F.lit(0.99)).alias("p99_chars"),
    )


def stratified_sample(documents: DataFrame, mod: int = 10) -> DataFrame:
    """Deterministic 1/mod stratified sample: keep documents where the
    portable hash of (lang, doc_id) lands in residue 0.  No RNG, no
    sort, reproducible in any engine and stable under reruns/appends --
    the properties a training-data sampling step actually needs (seeded
    ``sample()`` is partition-layout-dependent).  Stratification: the
    language is folded into the hash so each language is sampled at the
    same rate independently."""
    key = F.concat_ws(":", F.col("lang"), F.col("doc_id").cast("string"))
    return documents.select("doc_id", "lang", "source", "n_chars").filter(
        word_hash(key) % mod == 0
    )


def repetition_scores(documents: DataFrame, k: int = 3) -> DataFrame:
    """Within-document k-gram repetition ratio -- the standard
    'repetitious text' quality signal (boilerplate, keyword stuffing,
    decode loops all show up as duplicate n-grams).  Pure per-row array
    expressions: no explode, no shuffle, scan speed at any corpus size.

    repetition_ratio = (n_grams - n_distinct_grams) / n_grams, 0.0 for
    docs shorter than k words (single exact-int division -> the double
    is engine-deterministic)."""
    grams = gram_array(F.col("text"), k)
    total = F.size(grams).cast("long")
    distinct = F.size(F.array_distinct(grams)).cast("long")
    ratio = F.when(total > 0, (total - distinct) / total).otherwise(F.lit(0.0))
    return documents.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct_grams"),
        ratio.alias("repetition_ratio"),
    )


def contamination_scores(
    documents: DataFrame, benchmark_max_id: int = 10, k: int = 3
) -> DataFrame:
    """Benchmark-contamination check: per document, the fraction of its
    distinct k-gram shingles that appear anywhere in the benchmark
    shingle set (here: docs with doc_id < benchmark_max_id stand in for
    an eval suite).  The pre-training hygiene step that keeps eval data
    out of the corpus.

    Scale shape: eval suites are ~fixed-size, so the benchmark shingle
    set is broadcast and the check is a broadcast left-join at scan
    speed over the corpus shingles -- no corpus-sized shuffle.  Docs
    with zero shingles (< k words) are absent from the output."""
    from .dedup import shingles

    sh = shingles(documents, k)
    bench = (
        sh.filter(F.col("doc_id") < benchmark_max_id)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    marked = sh.filter(F.col("doc_id") >= benchmark_max_id).join(
        F.broadcast(bench), on="shingle", how="left"
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        (
            F.coalesce(F.sum("__hit"), F.lit(0)) / F.count("*")
        ).alias("contamination"),
    )


def bloom_contamination(
    documents: DataFrame,
    benchmark_max_id: int = 10,
    k: int = 3,
    m_bits: int = 4096,
    n_hashes: int = 3,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter -- the form the
    check takes when even the benchmark's distinct shingle SET is too
    big to broadcast raw (a multi-suite eval battery of 13-grams runs
    to billions of strings; its Bloom bitmap is a few hundred MB at a
    1% false-positive rate).  `contamination_scores` broadcasts the
    set itself; this operator compresses it to an m-bit bitmap and the
    probe becomes pure bit arithmetic.

    Everything is deterministic, so the filter IS the cross-engine
    contract: positions come from the shared portable md5-48 hash
    (depth salted into the input, the Count-Min idiom), the bitmap is
    32-bit words in BIGINTs (shifts stay in non-negative range in any
    engine), and even the false positives -- a Bloom filter's one
    honest lie -- land on the same shingles everywhere.

    Scale shape: the bitmap lives as an (m_bits/32)-row frame built by
    one map-side-combined bit_or aggregate over benchmark positions
    (never collected to the driver), and the corpus probe is
    ``n_hashes`` BROADCAST joins against that <=m/32-row frame -- a
    hit needs ALL depths set, computed as a per-row product of bit
    tests, so the only real shuffle is the final per-doc aggregate.
    False positives are the capacity dial: sized like the real thing
    (m ~ 1.44 * n * log2(1/p) * n_hashes), the overcount is bounded by
    p while the membership state shrinks ~10x vs exact shingle
    broadcast.  Returns (doc_id, n_shingles, n_bloom_hits, bloom_rate)
    for corpus docs; bloom_rate >= the exact contamination rate by
    construction (no false negatives)."""
    from .dedup import shingles

    def pos_expr(j: int) -> F.Column:
        return word_hash(
            F.concat(F.lit(f"{j}:"), F.col("shingle"))
        ) % m_bits

    sh = shingles(documents, k).select("doc_id", "shingle")
    bench_pos = (
        sh.filter(F.col("doc_id") < benchmark_max_id)
        .select("shingle")
        .distinct()
        .select(
            F.explode(F.array(*[pos_expr(j) for j in range(n_hashes)])).alias("pos")
        )
    )
    from ..functions.caching import scoped_cache

    # scope-cached because n_hashes broadcast joins read it with
    # different column aliases, which defeats exchange reuse -- without
    # the cache the benchmark scan + shingle explode would run once PER
    # DEPTH (plan-tested)
    bitmap = scoped_cache(
        bench_pos.groupBy(F.floor(F.col("pos") / 32).alias("__w")).agg(
            # shiftleft's python wrapper only takes a literal bit count
            F.bit_or(F.expr("shiftleft(1L, cast(pos % 32 as int))")).alias("__bits")
        )
    )

    probe = sh.filter(F.col("doc_id") >= benchmark_max_id)
    hits = []
    for j in range(n_hashes):
        pos = pos_expr(j)
        probe = probe.withColumn(f"__w{j}", F.floor(pos / 32)).withColumn(
            f"__b{j}", (pos % 32).cast("int")
        )
        probe = probe.join(
            F.broadcast(
                bitmap.select(
                    F.col("__w").alias(f"__w{j}"), F.col("__bits").alias(f"__bits{j}")
                )
            ),
            on=f"__w{j}",
            how="left",
        )
        # shiftright's python wrapper only takes a literal bit count;
        # the SQL form accepts the per-row column
        hits.append(F.expr(f"shiftright(coalesce(__bits{j}, 0L), __b{j}) & 1"))
    bloom_hit = hits[0]
    for h in hits[1:]:
        bloom_hit = bloom_hit * h
    return probe.select("doc_id", bloom_hit.alias("__hit")).groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum("__hit").alias("n_bloom_hits"),
        F.round(F.sum("__hit") / F.count("*"), 6).alias("bloom_rate"),
    )


def shard_assignments(documents: DataFrame, n_shards: int = 32) -> DataFrame:
    """Training-shard assignment + balance report: documents hash to
    ``doc_id % n_shards``-free, layout-independent shards via the
    portable hash, and the output is the per-shard manifest a packing
    step consumes (doc count, total whitespace tokens, total chars).

    Hash sharding is the scale answer to greedy bin packing: stateless,
    deterministic under reruns/appends, and balanced to ~1/sqrt(docs
    per shard) without any sequential pass."""
    shard = (word_hash(F.col("doc_id").cast("string")) % n_shards).alias("shard")
    tokens = _count_re(F.col("text"), TOKEN_RE)
    return (
        documents.select(shard, tokens.alias("n_tokens"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def quality_deciles(documents: DataFrame) -> DataFrame:
    """Curriculum binning: documents bucketed into length deciles
    (decile 1 = longest) -- the bucketing step a curriculum schedule
    consumes.

    Deliberately NOT ntile(): a global unpartitioned window funnels the
    corpus through one task (the top-k scale-killer pattern).  Instead
    the nine exact decile boundaries come from ONE 1-row percentile
    aggregate, cross-joined back (broadcast of one row), and each doc's
    decile is a pure per-row comparison -- scan-speed at any corpus
    size.  Ties at a boundary land in the better (lower) decile; exact
    R-7 percentiles keep the boundaries engine-identical."""
    bounds = documents.agg(
        F.percentile(
            F.col("n_chars"),
            F.array(*[F.lit(q / 10.0) for q in range(9, 0, -1)]),
        ).alias("__bs")
    )
    decile = F.lit(1) + F.size(
        F.filter(F.col("__bs"), lambda b: F.col("n_chars") < b)
    )
    return documents.select("doc_id", "lang", "n_chars").crossJoin(
        F.broadcast(bounds)
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        decile.alias("decile"),
    )


def corpus_vocab_topk(documents: DataFrame, k: int = 200) -> DataFrame:
    """Frequency-ranked vocabulary: the top-``k`` whitespace tokens
    with total counts and dense ids -- the vocab-build step before
    token-to-id mapping.  Explode + count is one map-side-combined
    aggregation; the global top-k is orderBy().limit() (planned as
    TakeOrderedAndProject -- no single-task global window), and the
    dense rank is a window over only the k survivors."""
    words = documents.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word")
    )
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return top.withColumn("token_id", F.row_number().over(w))


def encode_token_ids(
    documents: DataFrame, vocab: DataFrame | None = None, k: int = 200
) -> DataFrame:
    """Token-to-id document encoding against a frequency-ranked vocab
    (corpus_vocab_topk by default): every whitespace token maps to its
    dense id, out-of-vocabulary to 0 -- the final text->training-input
    step after cleaning/dedup/sharding.

    Shape: posexplode tokens, broadcast-join the (bounded, vocab-sized)
    id table, regroup per document with position-ordered ids.  The only
    corpus-sized shuffle is the per-doc regroup; ids ride as CSV here
    because the driver hash compares scalars (real pipelines keep the
    int array)."""
    if vocab is None:
        vocab = corpus_vocab_topk(documents, k)
    words = documents.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("pos", "word"),
    )
    joined = words.join(
        F.broadcast(vocab.select("word", "token_id")), on="word", how="left"
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("pos"), F.coalesce(F.col("token_id"), F.lit(0)).alias("tid")
            )
        )
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.array_join(
            F.transform(ordered, lambda s: s["tid"].cast("string")), ","
        ).alias("token_ids_csv"),
    )


def unigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """Per-document mean unigram log10-probability under the corpus's
    own unigram distribution -- the cheap LM-perplexity proxy used for
    quality scoring (a doc of globally-rare tokens scores low, fluent
    common-word text scores high; the standard first-pass filter before
    an actual LM scores candidates).

    mean_logprob = mean_i log10(count(t_i)/T)
                 = (sum_i log10 count(t_i)) / n  -  log10(T)

    Scale: one explode + a map-side-combined term-count aggregate; the
    count table broadcasts (vocabulary-sized -- drop the hint past
    broadcast size and AQE picks a shuffled join); the corpus total T
    enters as a broadcast 1-row aggregate, NOT a driver .count(), so
    the whole query is one lazy plan.  Scores round to 6 decimals
    (libm log10 and float-sum order differ across engines in the last
    ulp)."""
    words = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("term"),
    )
    tc = words.groupBy("term").agg(F.count("*").alias("tc"))
    total = tc.agg(F.sum("tc").cast("double").alias("total_tokens"))
    return (
        words.join(F.broadcast(tc), on="term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log10(F.col("tc").cast("double"))).alias("__slog"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("__slog") / F.col("n_tokens") - F.log10(F.col("total_tokens")), 6
            ).alias("mean_logprob"),
        )
    )


def mixture_weights(
    documents: DataFrame, by: list[str] | None = None, alpha: float = 0.7
) -> DataFrame:
    """Training-mixture sampling weights per corpus slice: raw weight =
    the slice's share of corpus tokens; smoothed weight = temperature-
    flattened share (w^alpha, renormalized) -- the standard multilingual
    mixture rule (alpha<1 up-samples small languages/sources so the
    model sees them; alpha=1 is proportional sampling).

    All-longs until two divisions and one pow: group token totals are
    exact, the corpus total is a broadcast 1-row aggregate, and both
    weights round to 6 decimals for cross-engine determinism.  Shape:
    one map-side-combined aggregate over the corpus + arithmetic over
    the (tiny) group frame."""
    by = by or ["lang", "source"]
    toks = documents.select(
        *by,
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).cast("long").alias("__n"),
    )
    grp = toks.groupBy(*by).agg(
        F.count("*").alias("n_docs"), F.sum("__n").alias("n_tokens")
    )
    total = grp.agg(F.sum("n_tokens").cast("double").alias("__total"))
    weighted = grp.crossJoin(F.broadcast(total)).withColumn(
        "weight", F.col("n_tokens") / F.col("__total")
    ).withColumn("__pw", F.pow(F.col("weight"), F.lit(alpha)))
    norm = weighted.agg(F.sum("__pw").alias("__z"))
    return (
        weighted.crossJoin(F.broadcast(norm))
        .select(
            *by,
            "n_docs",
            "n_tokens",
            F.round(F.col("weight"), 6).alias("weight"),
            F.round(F.col("__pw") / F.col("__z"), 6).alias("weight_smoothed"),
        )
    )


def pack_sequences(
    documents: DataFrame, budget: int = 512, n_shards: int = 8
) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus (in a
    deterministic order) and cut it every ``budget`` tokens; each
    document is assigned to the training sequence where it STARTS
    (the consumer cuts the straddle).  This is concat-then-chunk
    packing -- zero padding waste, the standard pretraining layout.

    A single global concatenation order would be a global sort, so the
    stream is sharded first (portable hash, like shard_assignments) and
    each shard packs independently: the window runs PARTITIONED by
    shard, giving n_shards-way parallelism with one task's worth of
    state each.  At 100 TB you size n_shards to the cluster (one shard
    ~ one final .bin file); the per-shard running sum is the only
    sequential dependency, exactly as in the single-writer tool this
    replaces.  Order within a shard is (hash, doc_id): deterministic
    under reruns and layout changes, and uncorrelated with document
    content (packing theory wants exchangeable order, not sorted-by-
    length order, which would bias sequences toward same-length docs)."""
    h = word_hash(F.col("doc_id").cast("string"))
    base = documents.select(
        "doc_id",
        h.alias("__h"),
        (h % n_shards).alias("shard"),
        _count_re(F.col("text"), TOKEN_RE).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        offset.alias("stream_offset"),
        F.floor(offset / budget).cast("long").alias("seq_id"),
        (offset % budget).alias("seq_offset"),
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_documents(
    documents: DataFrame, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Overlapping token-window chunks (size ``chunk``, step ``stride``
    -- overlap = chunk - stride), the context-window splitter for
    embedding / retrieval pipelines.

    Pure per-row array work: tokenize once, generate the start offsets
    with ``sequence``, slice per start -- no shuffle, no Python, runs at
    scan speed and scales embarrassingly.  The last chunk of a doc may
    be short (standard); empty docs yield no chunks."""
    words = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
    n = F.size(words)
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    exploded = documents.select(
        "doc_id", words.alias("__w"), F.explode(starts).alias("start")
    )
    piece = F.slice(F.col("__w"), F.col("start"), chunk)
    return exploded.select(
        "doc_id",
        F.floor((F.col("start") - 1) / stride).cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start_token"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def mixture_sample(
    documents: DataFrame,
    by: list[str] | None = None,
    alpha: float = 0.7,
    frac: float = 0.5,
) -> DataFrame:
    """APPLY the training mixture: deterministic per-document sampling
    at each slice's temperature-smoothed rate, producing a corpus whose
    expected token budget is ``frac`` of the input with slice shares
    following ``mixture_weights(alpha)`` -- the step that turns mixture
    math into an actual training corpus.

    Keep rule: keep doc iff hash(doc) < floor(p_slice * 2^48) on the
    portable 48-bit hash -- rerun/layout-independent, and the threshold
    is floored IDENTICALLY in both engines (a bare double->int cast
    rounds in DuckDB but truncates in Spark; floor() first removes the
    difference).  p_slice = min(1, frac * total_tokens * w_smoothed /
    slice_tokens): up-weighted small slices keep everything (capped at
    1 -- sampling can't mint new data), big slices thin out.

    Scale: the slice-rate frame is mixture_weights' output (tiny),
    broadcast back onto the corpus; the corpus itself never shuffles --
    filter at scan speed."""
    by = by or ["lang", "source"]
    weights = mixture_weights(documents, by=by, alpha=alpha)
    total = weights.agg(F.sum("n_tokens").cast("double").alias("__total"))
    rates = (
        weights.crossJoin(F.broadcast(total))
        .select(
            *by,
            F.least(
                F.lit(1.0),
                F.lit(frac)
                * F.col("__total")
                * F.col("weight_smoothed")
                / F.col("n_tokens"),
            ).alias("__p"),
        )
    )
    HASH_SPACE = float(1 << 48)
    keep = word_hash(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) < F.floor(
        F.col("__p") * HASH_SPACE
    ).cast("long")
    return (
        documents.join(F.broadcast(rates), on=by)
        .filter(keep)
        .select("doc_id", *by, "n_chars", F.round("__p", 6).alias("keep_rate"))
    )


def sample_k_per_group(
    documents: DataFrame, group_col: str = "lang", k: int = 10
) -> DataFrame:
    """Deterministic uniform-without-replacement sample of exactly
    ``min(k, group size)`` documents per group: order every doc by the
    portable md5-48bit hash of its id and keep each group's bottom-k --
    rerun- and layout-independent, like shard_assignments.

    Two-phase bottom-k (the kmv_distinct_users shape -- NO per-group
    rank window, which would sort a whole group in one task): phase 1
    truncates (hash, doc_id) structs to k per (group, input partition),
    phase 2 merges the <= partitions*k survivors.  The sampled ids then
    join back for full rows -- a hash join on a k*groups-row frame that
    always broadcasts."""
    hashed = documents.select(
        group_col, "doc_id", word_hash(F.col("doc_id").cast("string")).alias("__h")
    )
    local = (
        hashed.withColumn("__pid", F.spark_partition_id())
        .groupBy(group_col, "__pid")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("__h", "doc_id"))), 1, k
            ).alias("__ks")
        )
    )
    merged = (
        local.select(group_col, F.explode("__ks").alias("__s"))
        .groupBy(group_col)
        .agg(F.slice(F.array_sort(F.collect_list("__s")), 1, k).alias("__ks"))
    )
    picked = merged.select(
        F.explode(F.transform(F.col("__ks"), lambda s: s["doc_id"])).alias("doc_id")
    )
    return documents.join(F.broadcast(picked), on="doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


def dsir_importance_weights(
    documents: DataFrame, target_lang: str = "en", n_buckets: int = 256
) -> DataFrame:
    """DSIR-style data selection weight (the published hashed-n-gram
    importance-resampling recipe): score every document by how much
    more likely its tokens are under a TARGET slice's hashed-unigram
    distribution than under the whole corpus's -- then sample the
    corpus proportionally to exp(weight) to steer a 100 TB crawl
    toward the target domain without training a classifier.  Here the
    target slice is ``lang == target_lang``; any predicate works.

    weight(doc) = mean_i [ log10 p_tgt(b_i) - log10 p_corpus(b_i) ],
    b_i = hash(token_i) mod ``n_buckets``, both distributions add-1
    smoothed over the bucket space.

    Scale shape: one token explode feeds BOTH bucket-count aggregates
    (map-side combined; the hashed space is fixed-size, so the count
    frames are ``n_buckets`` rows however big the corpus is); the
    per-bucket log-ratio table is broadcast; the per-doc pass is a
    (doc_id, bucket) aggregate joined to that broadcast -- the corpus
    shuffles once, as (doc_id, bucket, count) rows.  The ratio is
    rounded to 6 decimals BEFORE weighting and then fixed to INTEGER
    1e-6 units, so the per-doc weight is an exact BIGINT sum -- the
    rounded-division form put ~1%% of docs exactly on a 6-decimal
    rounding boundary where engine ulps flip the last digit (caught at
    the sf0.01 gate).  weight = dsir_units / (1e6 * n_tokens).
    Returns (doc_id, n_tokens, dsir_units)."""
    words = documents.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("term"),
    ).select(
        "doc_id", "lang", F.pmod(word_hash(F.col("term")), F.lit(n_buckets)).alias("b")
    )
    cc = words.groupBy("b").agg(F.count("*").alias("cc"))
    tc = (
        words.filter(F.col("lang") == target_lang)
        .groupBy("b")
        .agg(F.count("*").alias("tc"))
    )
    counts = cc.join(tc, on="b", how="left").na.fill({"tc": 0})
    totals = counts.agg(
        F.sum("cc").cast("double").alias("tot_corpus"),
        F.sum("tc").cast("double").alias("tot_target"),
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            F.log10((F.col("tc") + 1) / (F.col("tot_target") + n_buckets))
            - F.log10((F.col("cc") + 1) / (F.col("tot_corpus") + n_buckets)),
            6,
        ).alias("lr"),
    )
    lr_units = F.round(F.col("lr") * 1e6).cast("long")
    per_doc = words.groupBy("doc_id", "b").agg(F.count("*").alias("cnt"))
    return (
        per_doc.join(F.broadcast(ratio.select("b", lr_units.alias("lru"))), on="b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("lru")).alias("dsir_units"),
        )
    )


def bigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """Per-document mean add-1-smoothed bigram log10-probability under
    the corpus's own bigram model -- one rung up the LM-quality ladder
    from unigram_logprob_scores (word-salad documents whose unigrams
    are all common still score low, because their TRANSITIONS are
    rare).

    mean_i log10 p(w_{i+1} | w_i),
    p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V),  V = distinct unigrams.

    Scale shape: bigrams come from one per-row gram_array (zero
    shuffle); the bigram- and unigram-count model tables are map-side-
    combined aggregates, vocabulary-sized not corpus-sized, and join
    back broadcast (past broadcast size drop the hints and AQE picks
    shuffled joins -- the plan is unchanged).  V enters as a broadcast
    1-row aggregate, not a driver count.  Documents with < 2 tokens
    have no bigrams and are absent, like the shingle operators.
    Returns (doc_id, n_bigrams, mean_bigram_logprob)."""
    # cached: the model build (bgc) and the scoring join both scan the
    # exploded bigram frame; without the cache the regex tokenization
    # and explode run twice over the corpus
    bi = scoped_cache(
        documents.select(
            "doc_id", F.explode(gram_array(F.col("text"), 2)).alias("bg")
        )
    )
    uni = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("term"),
    )
    bgc = bi.groupBy("bg").agg(F.count("*").alias("c12"))
    w1c = uni.groupBy("term").agg(F.count("*").alias("c1"))
    vsize = w1c.agg(F.count("*").cast("double").alias("V"))
    scored = (
        bi.join(F.broadcast(bgc), on="bg")
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(F.broadcast(w1c), F.col("w1") == F.col("term"))
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            F.log10((F.col("c12") + 1) / (F.col("c1") + F.col("V"))).alias("__lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("__lp"), 6).alias("mean_bigram_logprob"),
    )


def top_terms_per_doc(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` terms via a Python UDTF -- the
    table-function tier of the UDF surface (scalar pandas_udf,
    mapInPandas, applyInPandas, applyInPandasWithState are covered
    elsewhere; this is the one-row-in / many-rows-out LATERAL shape).

    Like cluster_profiles, the result is deliberately SQL-expressible
    (explode + count + rank -- the oracle's form) so the UDTF plumbing
    itself is what the oracle certifies: argument binding, LATERAL
    correlation, per-row row-set emission, schema contract.  A real
    use of this tier is a tokenizer or parser emitting a variable
    number of typed rows per document.

    Determinism: ties rank by (count desc, term asc) inside the UDTF,
    identical to the oracle's ORDER BY.  Scale: the UDTF runs
    per-row with no state across rows -- embarrassingly parallel,
    no shuffle; only the Python-worker serialization boundary
    (Arrow-batched) distinguishes it from a built-in explode."""
    import re
    from collections import Counter

    from pyspark.sql.functions import udtf

    spark = documents.sparkSession

    @udtf(returnType="term string, cnt bigint, rank int")
    class TopTerms:
        def eval(self, text: str, k: int):  # noqa: ANN001
            # ASCII-whitespace tokenization, NOT str.split(): Python's
            # split() also breaks on Unicode whitespace (NBSP, U+2028,
            # ...) while the oracle's regex \S+ treats only ASCII
            # whitespace as separators -- the boundaries must agree.
            counts = Counter(re.findall(r"[^ \t\n\r\f\v]+", text or ""))
            ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            for i, (term, n) in enumerate(ranked, 1):
                yield term, n, i

    spark.udtf.register("__top_terms_udtf", TopTerms)
    documents.select("doc_id", "text").createOrReplaceTempView("__ttpd_docs")
    return spark.sql(
        f"""
        SELECT d.doc_id, t.term, t.cnt, t.rank
        FROM __ttpd_docs d, LATERAL __top_terms_udtf(d.text, {int(k)}) t
        """
    )


def length_bucket_padding(
    documents: DataFrame, bounds: tuple[int, ...] = (64, 128, 256, 512)
) -> DataFrame:
    """Sequence-length bucketing report -- the padding-waste numbers
    that decide a training batcher's bucket boundaries: each document
    goes to the smallest bucket whose bound fits its token count
    (over-long documents truncate into the largest bucket), and each
    bucket reports how many tokens padding to its bound would waste.

    All-integer output (real vs padded token counts; the waste ratio
    is one division away) -- same exactness contract as dsir_units.
    One map-side-combinable aggregate over a per-row bucket expression;
    nothing shuffles but the k bucket rows per input partition.
    Returns (bucket_bound, n_docs, real_tokens, padded_tokens,
    waste_tokens)."""
    n_raw = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0)))
    top = bounds[-1]
    n = F.least(n_raw, F.lit(top))
    bucket = F.lit(top)
    for b in reversed(bounds[:-1]):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    return (
        documents.select(bucket.alias("bucket_bound"), n.alias("__n"))
        .groupBy("bucket_bound")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").cast("long").alias("real_tokens"),
        )
        .select(
            "bucket_bound",
            "n_docs",
            "real_tokens",
            (F.col("n_docs") * F.col("bucket_bound")).cast("long").alias("padded_tokens"),
            (F.col("n_docs") * F.col("bucket_bound") - F.col("real_tokens"))
            .cast("long")
            .alias("waste_tokens"),
        )
    )


def type_token_ratio(documents: DataFrame) -> DataFrame:
    """Lexical-diversity profile per document: token count, distinct
    token count (case-folded), and their type/token ratio -- the
    cheap vocabulary-richness quality signal (low TTR flags template /
    boilerplate spam; the repetition_scores k-gram family catches
    phrase-level loops, this catches vocabulary collapse).

    Pure per-row column expressions over the shared ``TOKEN_RE``
    tokenizer -- no shuffle, no UDF, whole-stage codegen end to end,
    trivially scan-parallel at 100 TB.  The ratio is one double
    division rounded to 6 (0.0 for empty texts, not null, so the
    column stays filter-friendly).  Returns
    (doc_id, n_tokens, n_types, ttr)."""
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), F.lit(0))
    n_tok = F.size(toks)
    n_typ = F.size(F.array_distinct(toks))
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_typ.alias("n_types"),
        F.when(n_tok > 0, F.round(n_typ.cast("double") / n_tok.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("ttr"),
    )


def source_reputation(documents: DataFrame, min_stop_rate: float = 0.065) -> DataFrame:
    """Per-source reputation table: corpus-level stopword / punctuation
    rates per origin ``source`` (the domain-level quality signal a web
    curation pipeline applies before any per-document scoring --
    CCNet/RefinedWeb-style URL/domain filtering, with ``source``
    playing the domain).

    Rates are RATIO-OF-SUMS, not mean-of-ratios: the integer token
    counters are summed exactly (order-independent) and divided once,
    so the double is bit-identical across engines and partitionings --
    a mean of per-doc double ratios would depend on reduction order.
    One map-side-combined aggregate over ~#sources keys; nothing else
    shuffles.  Returns (source, n_docs, stop_rate, punct_rate,
    reputable)."""
    t = F.col("text")
    per_doc = documents.select(
        "source",
        _count_re(t, _stopword_re(EN_STOPWORDS)).alias("__stop"),
        _count_re(t, TOKEN_RE).alias("__words"),
        _count_re(t, PUNCT_RE).alias("__punct"),
        F.length(t).alias("__len"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__stop").alias("__s"),
            F.sum("__words").alias("__w"),
            F.sum("__punct").alias("__p"),
            F.sum("__len").alias("__l"),
        )
        .select(
            "source",
            "n_docs",
            F.round(F.col("__s") / F.col("__w"), 6).alias("stop_rate"),
            F.round(F.col("__p") / F.col("__l"), 6).alias("punct_rate"),
            (F.round(F.col("__s") / F.col("__w"), 6) >= min_stop_rate).alias(
                "reputable"
            ),
        )
    )


def filter_by_source_reputation(
    documents: DataFrame, min_stop_rate: float = 0.065
) -> DataFrame:
    """Keep only documents from reputable sources: the per-source
    verdict (a ~#sources-row frame) broadcasts back onto the corpus as
    an equi-join -- the 100 TB shape is a map-side hash lookup per doc,
    zero fact shuffle.  Returns (doc_id, source, stop_rate)."""
    rep = source_reputation(documents, min_stop_rate).filter(F.col("reputable"))
    return documents.join(
        F.broadcast(rep.select("source", "stop_rate")), "source"
    ).select("doc_id", "source", "stop_rate")


def gopher_quality_flags(
    documents: DataFrame,
    min_words: int = 25,
    max_words: int = 100_000,
    min_mean_word_len: float = 4.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style rule battery (Rae et al. 2021, table A1, adapted to
    single-line synthetic docs): per-document quality flags for word
    count bounds, mean word length bounds, symbol-to-word ratio,
    fraction of words containing an alphabetic character, and a minimum
    stopword-hit count -- plus the AND of all five as ``passes_gopher``.

    Every signal is an integer count; ratios are single divisions of
    exact ints rounded to 6, so the flags are bit-deterministic across
    engines and partitionings.  Pure column expressions over one token
    array (no UDF, no shuffle).

    The tokenization is STAGED through an intermediate select: the
    higher-order lambdas sit outside codegen's subexpression
    elimination, so a flat projection would re-run
    ``regexp_extract_all`` once per derived column (~10x; measured
    23.7 s -> the staged form at 500k docs).  CollapseProject refuses
    to inline an expensive alias referenced more than once, so staging
    pins exactly-once tokenization while staying one scan-bound pass."""
    t = F.col("text")
    staged = documents.select(
        "doc_id",
        t.alias("__t"),
        # the module's ONE tokenizer (TOKEN_RE), mirrored by the
        # oracle's _TOKEN_RE_SQL -- no second literal to drift
        F.regexp_extract_all(t, F.lit(TOKEN_RE), F.lit(0)).alias("__toks"),
    ).select(
        "doc_id",
        "__t",
        F.size("__toks").alias("__nw"),
        F.aggregate("__toks", F.lit(0), lambda acc, x: acc + F.length(x)).alias(
            "__wc"
        ),
        F.size(F.filter("__toks", lambda x: x.rlike("[A-Za-z]"))).alias("__na"),
    )
    n_words = F.col("__nw")
    word_chars = F.col("__wc")
    n_alpha = F.col("__na")
    n_symbols = _count_re(F.col("__t"), PUNCT_RE) + _count_re(F.col("__t"), "[#@]")
    n_stop = _count_re(F.col("__t"), _stopword_re(EN_STOPWORDS))
    mean_wl = F.round(word_chars / n_words, 6)
    sym_ratio = F.round(n_symbols / n_words, 6)
    alpha_frac = F.round(n_alpha / n_words, 6)
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    r_sym = sym_ratio <= max_symbol_ratio
    r_alpha = alpha_frac >= min_alpha_frac
    r_stop = n_stop >= min_stop_hits
    return staged.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stop_hits"),
        r_words.alias("ok_word_count"),
        r_wl.alias("ok_word_len"),
        r_sym.alias("ok_symbol_ratio"),
        r_alpha.alias("ok_alpha_words"),
        r_stop.alias("ok_stopwords"),
        (r_words & r_wl & r_sym & r_alpha & r_stop).alias("passes_gopher"),
    )


def doc_slugs(documents: DataFrame, max_chars: int = 60) -> DataFrame:
    """URL-slug derivation via an ARROW-OPTIMIZED scalar Python UDF
    (``@udf(useArrow=True)``) -- deliberately: this completes the
    engine's Python-execution surface tour (pandas_udf, mapInPandas,
    applyInPandas(+WithState), UDTF, Python DataSource, and now the
    Arrow scalar UDF), and the work itself is trivially SQL-expressible
    so the oracle certifies the SURFACE, same policy as the UDTF tier.
    Arrow batching moves rows columnar instead of pickled-per-row --
    the only acceptable form of a scalar Python UDF; the row-at-a-time
    default stays banned from this codebase.  Returns (doc_id, slug)."""
    import re as _re

    from pyspark.sql import types as T

    @F.udf(returnType=T.StringType(), useArrow=True)
    def _slug(text: str) -> str:
        if text is None:
            return None
        return _re.sub(r"[^a-z0-9]+", "-", text[:max_chars].lower()).strip("-")

    return documents.select("doc_id", _slug(F.col("text")).alias("slug"))


def inverted_index(documents: DataFrame, min_df: int = 2) -> DataFrame:
    """Posting-list summary per term: the search-index build step a
    retrieval pipeline runs over a curated corpus (term -> document
    frequency, total term frequency, and the highest-tf document as
    the head of the ranked posting list).

    Two map-side-combined aggregations and nothing else: per-(doc,
    term) tf first (the explode dedupes into compact counts before
    anything crosses the wire), then per-term rollup where the head
    posting rides a lexicographic struct-max (tf desc, doc_id asc via
    negation) -- deterministic ties, no window over the full posting
    set, no per-term sort.  ``min_df`` prunes the hapax tail (the
    bulk of any vocabulary by type count) AFTER the rollup, keeping
    output bounded.  Terms are case-folded with the shared tokenizer.
    At 100 TB both shuffles carry (term-key, few longs) -- never text
    -- and hot stopword terms are plain aggregate hot keys (map-side
    combine absorbs them; no join against the hot key).  Returns
    (term, df_docs, total_tf, top_doc_id, top_doc_tf)."""
    tf = (
        documents.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(TOKEN_RE), F.lit(0)
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    head = F.max(
        F.struct(
            F.col("tf").alias("t"),
            (-F.col("doc_id")).alias("nd"),
        )
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").alias("df_docs"),
            F.sum("tf").alias("total_tf"),
            head.alias("__head"),
        )
        .filter(F.col("df_docs") >= min_df)
        .select(
            "term",
            "df_docs",
            "total_tf",
            (-F.col("__head.nd")).cast("bigint").alias("top_doc_id"),
            F.col("__head.t").alias("top_doc_tf"),
        )
    )


def term_pmi(
    documents: DataFrame, top_v: int = 100, min_pair_docs: int = 3
) -> DataFrame:
    """Pointwise mutual information over co-occurring vocabulary
    terms: which term pairs appear in the same document more often
    than independence predicts -- the corpus-association profile
    (collocation mining, topic seeds) a curation pipeline derives
    from document-level co-occurrence.

    The quadratic blowup is CAPPED BY CONSTRUCTION: only the top
    ``top_v`` vocabulary terms (by document frequency, deterministic
    df-then-term order, TakeOrderedAndProject -- no global window)
    enter the pair join, so a document contributes at most
    C(top_v, 2) pairs regardless of its length, and the vocab frame
    itself is broadcast (~100 rows) -- the corpus never shuffles for
    vocab membership.  The pair generator is ONE self-equi-join of
    the distinct (doc, vocab-term) frame on doc_id with ``term_a <
    term_b`` -- the same bucketed-self-join discipline as the LSH
    tiers: candidates bounded per doc, never all-pairs across the
    corpus.  PMI marginals are document frequencies off the broadcast
    vocab frame; log is natural on both engines.  Returns (term_a,
    term_b, n_ab, pmi)."""
    dt = documents.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(TOKEN_RE), F.lit(0)
                )
            )
        ).alias("term"),
    )
    df_counts = dt.groupBy("term").agg(F.count("*").alias("df"))
    vocab = df_counts.orderBy(F.col("df").desc(), F.col("term").asc()).limit(top_v)
    n_docs = documents.select(F.count("*").alias("__n_docs"))
    dv = dt.join(F.broadcast(vocab.select("term")), "term").select("doc_id", "term")
    left = dv.select("doc_id", F.col("term").alias("term_a"))
    right = dv.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        left.join(right, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_docs)
    )
    va = F.broadcast(vocab.select(F.col("term").alias("term_a"), F.col("df").alias("__df_a")))
    vb = F.broadcast(vocab.select(F.col("term").alias("term_b"), F.col("df").alias("__df_b")))
    return (
        pairs.join(va, "term_a")
        .join(vb, "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("__n_docs").cast("double")
                    / (F.col("__df_a").cast("double") * F.col("__df_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: tuple[str, ...] = ("spark", "join", "fast"),
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed query-term
    set -- the canonical lexical search scorer (Robertson/Sparck Jones;
    the +1 idf form that stays positive at any df), the query-side
    companion of ``inverted_index``.

    Scale shape: the term filter is a tiny literal IN applied BEFORE
    any aggregation, so only query-term postings ever aggregate or
    shuffle; document length and the corpus stats are one
    map-side-combined count and one 1-row broadcast scalar; per-term
    df is a query-terms-sized frame.  The global top-k is
    orderBy().limit() (TakeOrderedAndProject -- no single-task window
    over the corpus), with the rank window applied only to the k
    survivors.  Determinism: integer tf/dl, single-division avgdl,
    expression shapes mirrored operation-for-operation in the oracle,
    score rounded to 6 before ranking with a doc_id tie-break.

    Returns (doc_id, score, rank)."""
    toks = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), F.lit(0))
        ).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("__n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("__avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("__df"))
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        ((F.col("__n_docs") - F.col("__df")).cast("double") + F.lit(0.5))
        / (F.col("__df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    num = F.col("tf").cast("double") * F.lit(k1 + 1.0)
    den = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("__avgdl")
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.sum(idf * num / den), 6).alias("score")
    )
    top = per_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w))


def weighted_sample_topk(
    documents: DataFrame, k: int = 50, weight_col: str = "n_chars"
) -> DataFrame:
    """Weighted sampling without replacement via the exponential-sort
    trick (Efraimidis-Spirakis A-ES): each document draws a key
    ln(u)/w from its portable hash-uniform u and weight w, and the
    global top-k keys ARE a weighted sample without replacement -- the
    standard one-pass distributed recipe (a sequential weighted
    reservoir cannot shard; this is its exchangeable equivalent).

    Determinism: u derives from the shared md5 word_hash (exact 48-bit
    integer + 0.5, divided by 2^48 -- both operations exact), so every
    engine draws the SAME "randomness"; the key is rounded to 1e-9
    before ranking (ln differs by an ulp across libms) with a doc_id
    tie-break.  One projection + TakeOrderedAndProject: no shuffle
    beyond the top-k merge, any corpus size.

    Returns (doc_id, weight, sample_key, rank)."""
    u = (word_hash(F.col("doc_id").cast("string")).cast("double") + F.lit(0.5)) / F.lit(
        float(1 << 48)
    )
    # + 0.0 canonicalizes IEEE signed zero: a tiny negative key that
    # rounds to zero must compare equal across engines (-0.0 + 0.0 is
    # +0.0 by the standard; found by the sf1 gate on a weight-1 doc)
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 9) + F.lit(0.0)
    keyed = documents.select(
        "doc_id",
        F.col(weight_col).alias("weight"),
        key.alias("sample_key"),
    )
    top = keyed.orderBy(F.col("sample_key").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w))


def bpe_merge_candidates(documents: DataFrame, k: int = 20) -> DataFrame:
    """One iteration of byte-pair-encoding vocabulary induction: count
    every adjacent character pair across the corpus (weighted by word
    frequency) and rank the top-``k`` merge candidates -- the inner
    step a BPE/WordPiece tokenizer trainer repeats until the vocab is
    full (Sennrich et al. 2016).

    The scale trick is the same one real trainers use: pair counting
    runs over the DISTINCT-WORD table weighted by word frequency, not
    over the corpus -- the corpus is scanned exactly once (the
    map-side-combined word count); everything after is vocab-sized.
    Adjacent positions enumerate per occurrence inside a word
    ('aaa' contributes ('a','a') twice), matching the textbook
    algorithm.  Pure integer counts, lexicographic tie-breaks, and the
    global top-k is orderBy().limit() (TakeOrderedAndProject -- no
    single-task global window).

    Returns (left_sym, right_sym, pair_count, merge_rank)."""
    words = documents.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word")
    )
    wf = words.groupBy("word").agg(F.count("*").alias("n"))
    # sequence(1, 0) would DESCEND in Spark; guard 1-char words to an
    # explicit empty pair list instead
    pair_structs = F.when(
        F.length("word") > 1,
        F.expr(
            "transform(sequence(1, length(word) - 1), "
            "i -> struct(substring(word, i, 1) AS l, "
            "substring(word, i + 1, 1) AS r))"
        ),
    ).otherwise(F.expr("array()"))
    pairs = (
        wf.select("n", F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym"))
        .agg(F.sum("n").cast("long").alias("pair_count"))
    )
    top = pairs.orderBy(
        F.col("pair_count").desc(), F.col("left_sym").asc(), F.col("right_sym").asc()
    ).limit(k)
    w = Window.orderBy(
        F.col("pair_count").desc(), F.col("left_sym").asc(), F.col("right_sym").asc()
    )
    return top.withColumn("merge_rank", F.row_number().over(w))


def bpe_train(documents: DataFrame, n_merges: int = 8) -> DataFrame:
    """ITERATED byte-pair-encoding vocabulary induction (the full
    Sennrich et al. 2016 trainer loop, not just one candidate count):
    repeat ``n_merges`` times -- count every adjacent symbol pair
    across the distinct-word table weighted by word frequency, merge
    the most frequent pair (ties: lexicographic (left, right)) into a
    new symbol everywhere, greedy left-to-right within each word, and
    RE-COUNT on the merged symbols.  The output is the merges table a
    tokenizer ships: (merge_rank, left_sym, right_sym, pair_count).

    Scale shape (the pagerank discipline): the corpus is scanned ONCE
    (map-side-combined word count); every iteration after runs on the
    vocab-sized (word, freq, symbols) frame -- one pair-count shuffle
    plus one narrow array-fold projection -- and the only driver
    traffic is the 1-row argmax collect per iteration (integer counts,
    deterministic tie-break, never a data-sized collect).  The greedy
    merge application is a JVM-side ``aggregate`` fold over the symbol
    array: append each symbol, or replace the accumulator's tail with
    the merged token when (tail, next) equals the chosen pair --
    exactly the textbook non-overlapping left-to-right rule ('aaaa'
    under ('a','a') becomes ['aa','aa']: a token minted by this pass
    never re-merges within the pass, because its string differs from
    the pair's left side).

    Stops early when no adjacent pairs remain (every word fused to one
    token); the merges frame then has fewer than ``n_merges`` rows.

    Reference tie-in: the reference has no tokenizer, but its corpus
    twin (SURVEY.md extension mandate) needs one; bpe_merge_candidates
    (one iteration, top-k report) remains the diagnostic view."""
    merges, _ = _bpe_fit(documents, n_merges)
    return documents.sparkSession.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, pair_count long",
    )


def bpe_encode_report(documents: DataFrame, n_merges: int = 8) -> DataFrame:
    """The learned vocabulary APPLIED: per distinct word, its token
    count after ``n_merges`` BPE rounds -- the compression report that
    says whether the merges table is worth shipping (tokens-per-word
    falling toward 1 as merges grow) and the per-word fertility a
    token-budget planner multiplies by word frequency.  Same trainer
    loop as bpe_train (one fit, vocab-sized frames throughout).

    Returns (word, n_occurrences, n_chars, n_tokens)."""
    _, final = _bpe_fit(documents, n_merges)
    return final.select(
        "word",
        F.col("n").alias("n_occurrences"),
        F.length("word").cast("long").alias("n_chars"),
        F.size("syms").cast("long").alias("n_tokens"),
    )


def _bpe_safe_batch(
    cand: list, k_window: int, budget: int
) -> list[tuple[str, str, int]]:
    """The PREFIX of the sorted candidate list that sequential greedy
    would provably select unchanged -- the batching rule (r11 verdict
    item 4) that lets one count+collect round commit several merges:

    Applying merge (l, r) can only (a) DECREASE counts of pairs
    sharing a symbol with it (occurrences destroyed by overlap) and
    (b) CREATE pairs involving the new token, each bounded by the
    original count of a pair sharing a symbol with it ((x, M) <=
    old (x, l); (M, y) <= old (r, y); (M, M) <= old (r, l)).  So a
    later candidate is still the true greedy argmax iff it is
    symbol-disjoint from every earlier selected pair (its own count is
    then unchanged, and no created adjacency can involve it) and its
    count STRICTLY exceeds every count that could have moved -- the
    visible sharing candidates plus, when the window truncated at
    ``k_window``, the invisible tail bound (the k-th count).  Ties
    among UNAFFECTED candidates are safe because the collect's sort
    (count desc, l, r) is exactly greedy's tie order.  Stops at the
    first candidate that fails either test (skipping would change
    greedy order), and right after a self-pair (l == r): the pairs it
    creates ((M, l), (l, M)) are bounded by the self-pair's own count,
    which is not among the visible sharing candidates ('aaa' x 100
    under ('a', 'a') leaves ('aa', 'a') at 100, above any later
    disjoint candidate).  Pure driver-side logic over <= k rows."""
    selected: list[tuple[str, str, int]] = []
    used: set[str] = set()
    truncated = len(cand) == k_window
    floor = int(cand[-1].c) if truncated else 0
    for j, row in enumerate(cand):
        if len(selected) >= budget:
            break
        l, r, c = row.l, row.r, int(row.c)
        if selected:
            if l in used or r in used:
                break
            bshare = max(
                (
                    int(rr.c)
                    for rr in cand[j + 1:]
                    if rr.l in used or rr.r in used
                ),
                default=0,
            )
            if c <= max(bshare, floor):
                break
        selected.append((l, r, c))
        if l == r:
            # a self-pair (s, s) mints (ss, s) and (s, ss), bounded only
            # by its own count -- which no later candidate is compared to
            break
        used.add(l)
        used.add(r)
    return selected


def _bpe_fold(syms_col: F.Column, l: str, r: str) -> F.Column:
    """Greedy left-to-right non-overlapping application of one merge
    (the textbook rule; see bpe_train)."""
    return F.aggregate(
        syms_col,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(l))
            & (s == F.lit(r)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


_BPE_CAND_WINDOW = 32


def _bpe_fit(
    documents: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The shared trainer loop: (merges list, final (word, n, syms)
    frame).  See bpe_train for the algorithm and scale contract.

    r12: each round collects the top-``_BPE_CAND_WINDOW`` candidates
    (same single count job as the old top-1 collect) and commits the
    provably-order-stable PREFIX of them (_bpe_safe_batch) in ONE fold
    projection -- the driver-loop round count drops from n_merges to
    the number of conflict groups, with bit-identical output to the
    sequential trainer (the oracle unrolls the sequential form)."""
    words = documents.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word")
    )
    cur = (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .select("word", "n", F.split(F.col("word"), "").alias("syms"))
    )
    merges: list[tuple[int, str, str, int]] = []
    prev_cached = None
    while len(merges) < n_merges:
        # scoped so a long-lived service reclaims the per-iteration
        # caches (cache_scope discipline); the final frame's cache
        # stays live for the encode consumer
        cur = scoped_cache(cur)
        pair_structs = F.when(
            F.size("syms") > 1,
            F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(syms[i - 1] AS l, syms[i] AS r))"
            ),
        ).otherwise(F.expr("array()"))
        cand = (
            cur.select("n", F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(_BPE_CAND_WINDOW)
            .collect()
        )
        if prev_cached is not None:
            prev_cached.unpersist(blocking=False)
        prev_cached = cur
        if not cand:
            break
        batch = _bpe_safe_batch(
            cand, _BPE_CAND_WINDOW, n_merges - len(merges)
        )
        syms_col = F.col("syms")
        for l, r, c in batch:
            merges.append((len(merges) + 1, l, r, c))
            syms_col = _bpe_fold(syms_col, l, r)
        cur = cur.select("word", "n", syms_col.alias("syms"))
    return merges, cur


COS_ROUND_TFIDF = 6


def tfidf_neighbors(
    documents: DataFrame, k: int = 5, max_df_frac: float = 0.8
) -> DataFrame:
    """Doc-to-doc lexical similarity top-k ('more like this'): TF-IDF
    cosine between documents via an INVERTED-INDEX self-join -- the
    lexical twin of the embedding ANN ladder and the retrieval-side
    complement of the shingle-Jaccard dedup pairs (weighted cosine vs
    set overlap).

    Scale shape: the only join is posting-list x posting-list per term
    (sum over terms of df^2 partial products), so the df CAP is the
    scale guarantee -- terms in more than ``max_df_frac`` of the corpus
    are dropped exactly like prefix-filtering drops hot shingles
    (they contribute near-zero IDF weight anyway); run
    corpus_shingle_saturation/corpus_zipf_fit as the pre-flight that
    says whether the vocabulary is Zipfian enough for the cap to bite.
    Everything else is map-side-combined aggregation.

    Determinism (the module ulp contract): idf = round(ln((N+1)/(df+1))
    + 1, 9); weights rounded to 9 dp; every pairwise product and
    squared weight rounded to 12 dp and accumulated as DECIMAL so both
    engines add exactly; ONE double division per pair, 6-dp rounded
    before ranking with a doc_b tie-break.

    Returns (doc_a, doc_b, cos_sim, rank) -- top-``k`` per doc_a."""
    dec = "decimal(38,12)"
    words = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word"),
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = words.select("doc_id").distinct().agg(
        F.count("*").alias("n_docs")
    )
    idf = F.round(
        F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1, 9
    )
    weights = scoped_cache(
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= F.col("n_docs") * max_df_frac)
        .select(
            "doc_id", "word", F.round(F.col("tf") * idf, 9).alias("w")
        )
    )
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.round(F.col("w") * F.col("w"), 12).cast(dec)).alias("n2")
    )
    a = weights.select(
        F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("wa")
    )
    b = weights.select(
        F.col("doc_id").alias("doc_b"), "word", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "word")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.round(F.col("wa") * F.col("wb"), 12).cast(dec)
            ).alias("dot")
        )
    )
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        COS_ROUND_TFIDF,
    )
    w_rank = Window.partitionBy("doc_a").orderBy(
        F.col("cos_sim").desc(), F.col("doc_b").asc()
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2")), "doc_b")
        .select("doc_a", "doc_b", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
    )


def leakage_safe_splits(
    documents: DataFrame, weights: tuple[int, int, int] = (90, 5, 5)
) -> DataFrame:
    """Train/val/test assignment at the NEAR-DUP-CLUSTER level: every
    document hashes its cluster's canonical id (its own id if
    unclustered), so a duplicate group can never straddle splits --
    the leakage that quietly inflates eval scores when a test document
    has a near-copy in train.  Same salted portable hash and cut
    points as ``split_assignments``, so unclustered documents land
    exactly where the doc-level split puts them; only duplicate-group
    members move (onto their canonical's assignment).

    Scale: the cluster frame (from dedup_clusters: min-label connected
    components over the LSH pair graph) is bounded by the number of
    DUPLICATED docs, joined back on doc_id -- one key-shuffle join the
    optimizer may broadcast when the duplicate fraction is small; the
    split itself stays a scan-speed projection.

    Returns (doc_id, split_key, bucket, split)."""
    from .dedup import dedup_clusters

    train_w, val_w, _ = weights
    clusters = dedup_clusters(documents)
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = word_hash(F.concat(F.lit("split:"), key.cast("string"))) % 100
    split = (
        F.when(bucket < train_w, "train")
        .when(bucket < train_w + val_w, "val")
        .otherwise("test")
    )
    return (
        documents.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            key.alias("split_key"),
            bucket.alias("bucket"),
            split.alias("split"),
        )
    )


def hybrid_search_topk(
    documents: DataFrame,
    embeddings: DataFrame,
    query_terms: tuple[str, ...] = ("spark", "join", "fast"),
    query_vec_id: int = 0,
    n_candidates: int = 50,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid lexical+dense retrieval with reciprocal-rank fusion --
    the RAG serving pattern: BM25 shortlists ``n_candidates`` by the
    query TERMS, the query EMBEDDING re-scores those candidates by
    cosine, and the two rankings fuse as RRF
    (sum of 1/(rrf_k + rank); Cormack et al. 2009) -- the fusion
    production search engines use precisely because it is
    rank-based: no score normalization across incomparable scales,
    and integer ranks make it deterministic in any engine.

    Scale shape: the dense side never scans the corpus -- cosine is
    computed ONLY for the BM25 survivors (n_candidates rows joined to
    their embeddings, query vector broadcast), so the embedding table
    is probed, not swept; both rank windows run over the candidate
    frame.  At 100 TB this is the standard two-tower serving layout:
    inverted index prunes, embeddings re-rank.

    Returns (doc_id, bm25_rank, cos_rank, cos_sim, rrf_score, rank)."""
    from .similarity import COS_ROUND, _dot, with_norm

    bm = bm25_topk(documents, query_terms=query_terms, k=n_candidates).select(
        "doc_id", F.col("rank").alias("bm25_rank")
    )
    emb = with_norm(embeddings)
    qv = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_embedding"), F.col("norm").alias("q_norm")
    )
    cos = F.round(
        _dot(F.col("q_embedding"), F.col("embedding"))
        / (F.col("q_norm") * F.col("norm")),
        COS_ROUND,
    )
    cand = (
        bm.join(emb, bm["doc_id"] == emb["vec_id"])
        .crossJoin(F.broadcast(qv))
        .select("doc_id", "bm25_rank", cos.alias("cos_sim"))
    )
    wc = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
    rrf = F.round(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("bm25_rank"))
        + F.lit(1.0) / (F.lit(rrf_k) + F.col("cos_rank")),
        9,
    )
    wf = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
    return (
        cand.withColumn("cos_rank", F.row_number().over(wc))
        .withColumn("rrf_score", rrf)
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select("doc_id", "bm25_rank", "cos_rank", "cos_sim", "rrf_score", "rank")
    )


def lang_id_confusion(documents: DataFrame) -> DataFrame:
    """Confusion matrix + accuracy for the n-gram lang-id heuristic
    against the corpus's ground-truth labels -- the eval harness that
    tells you whether the cheap classifier is good enough to gate a
    mixture on (the ann_recall_report instinct applied to text
    classification: every heuristic that FILTERS data earns a graded
    readout).

    The scored frame is the already-verified lang_id plan; the matrix
    is one (true, pred) aggregate over it, with per-true-label recall
    and the matrix-wide accuracy broadcast back from two tiny
    aggregates.  Returns (lang, lang_guess, n, recall, accuracy)."""
    scored = lang_id(documents).select(
        "lang", "lang_guess", (F.col("lang") == F.col("lang_guess")).alias("__ok")
    )
    from ..functions.caching import scoped_cache

    cells = scoped_cache(
        scored.groupBy("lang", "lang_guess").agg(
            F.count("*").alias("n"), F.sum(F.col("__ok").cast("int")).alias("__nok")
        )
    )
    per_true = cells.groupBy("lang").agg(
        F.sum("n").alias("__nt"), F.sum("__nok").alias("__tok")
    )
    total = cells.agg(
        F.round(
            F.sum("__nok").cast("double") / F.sum("n").cast("double"), 6
        ).alias("accuracy")
    )
    return (
        cells.join(F.broadcast(per_true), "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "lang_guess",
            "n",
            F.round(
                F.col("__tok").cast("double") / F.col("__nt").cast("double"), 6
            ).alias("recall"),
            "accuracy",
        )
    )


def token_allocation(
    documents: DataFrame, budget_frac: float = 0.5
) -> DataFrame:
    """Water-filling token allocation: split a token budget across
    sources so every source gets an equal share EXCEPT those too small
    to use it, whose leftover redistributes to the rest -- the
    constrained mixture plan behind "sample uniformly across sources,
    but don't oversample the small ones past their caps" (the step
    between mixture_weights' unconstrained proportions and an actual
    sampling run).

    The classic iterative water level has a CLOSED FORM over the
    sorted caps: with caps ascending and exclusive cumulative sums,
    the level is lambda = (T - cum_i) / (k - i) at the first source
    whose cap exceeds it -- one per-source aggregate, one sort window
    over the ~#sources frame, pure algebra, no loop.  Returns (source,
    n_tokens_cap, allocation, water_level, is_capped)."""
    caps = documents.groupBy("source").agg(
        F.sum(_count_re(F.col("text"), TOKEN_RE)).cast("long").alias("__cap")
    )
    from pyspark.sql import Window
    from ..functions.caching import scoped_cache

    w = Window.orderBy(F.col("__cap").asc(), F.col("source").asc())
    ranked = scoped_cache(
        caps.withColumn("__i", F.row_number().over(w)).withColumn(
            "__cum",
            F.coalesce(
                F.sum("__cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
    )
    tot = ranked.agg(
        F.sum("__cap").alias("__t"), F.count("*").alias("__k")
    )
    j = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "__target", F.floor(F.lit(budget_frac) * F.col("__t")).cast("double")
    )
    # candidate level at each position; the true level is the first
    # candidate the local cap cannot absorb (caps before it are fully
    # taken, the rest share the remainder equally)
    cand = (F.col("__target") - F.col("__cum").cast("double")) / (
        F.col("__k") - F.col("__i") + 1
    ).cast("double")
    # the true level is the FIRST (lowest-index) valid candidate: below
    # it candidates rise as capped sources release budget, above it
    # they fall -- so pick by index, not by value
    leveled = j.filter(F.col("__cap").cast("double") >= cand).select(
        F.struct(F.col("__i").alias("i"), cand.alias("lvl")).alias("__c")
    )
    level = leveled.agg(
        F.round(F.min("__c").getField("lvl"), 6).alias("water_level")
    )
    out = j.crossJoin(F.broadcast(level))
    alloc = F.round(
        F.least(F.col("__cap").cast("double"), F.col("water_level")), 6
    )
    return out.select(
        "source",
        F.col("__cap").alias("n_tokens_cap"),
        alloc.alias("allocation"),
        "water_level",
        (F.col("__cap").cast("double") <= F.col("water_level")).alias(
            "is_capped"
        ),
    )


def zipf_fit(documents: DataFrame, v: int = 500) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of log-frequency
    on log-rank for the top-``v`` terms -- slope near -1 is healthy
    natural text; a flat slope means templated/duplicated content and
    a cliff means OCR noise or vocabulary collapse.  One of the oldest
    corpus-health diagnostics, here as one tiny frame computation.

    The word count is the corpus's ONE heavy aggregate; the top-v cut
    is TakeOrdered-shaped under the deterministic (freq DESC, term)
    order, ranks are row_numbers over the v-row frame, both logs are
    9-dp ulp-rounded before accumulating as decimals (the
    value_trend_ols discipline at log scale), and the closed-form fit
    runs in double with mirrored op order.  Returns (v_size, slope,
    intercept, r2)."""
    words = documents.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("w")
    )
    freq = words.groupBy("w").agg(F.count("*").alias("__f"))
    top = freq.orderBy(F.col("__f").desc(), F.col("w").asc()).limit(v)
    from pyspark.sql import Window

    rnk = F.row_number().over(
        Window.orderBy(F.col("__f").desc(), F.col("w").asc())
    )
    # decimal(12,9): log magnitudes are tiny, and the narrow type keeps
    # the x*y product inside precision 38 (a 28,9 pair would overflow
    # and round engine-specifically)
    xy = top.select(
        F.round(F.log(rnk.cast("double")), 9).cast("decimal(12,9)").alias("__x"),
        F.round(F.log(F.col("__f").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("__y"),
    )
    agg = xy.agg(
        F.count("*").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = n * F.col("__sxy").cast("double") - sx * sy
    den = n * F.col("__sxx").cast("double") - sx * sx
    deny = n * F.col("__syy").cast("double") - sy * sy
    slope = F.when(den > 0, num / den).otherwise(F.lit(0.0))
    r = num / (F.sqrt(den) * F.sqrt(deny))
    return agg.select(
        F.col("__n").alias("v_size"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.when((den > 0) & (deny > 0), r * r).otherwise(F.lit(0.0)), 6
        ).alias("r2"),
    )


def vocab_drift(documents: DataFrame, top_v: int = 200) -> DataFrame:
    """CONTENT-drift gate: PSI over the word distribution between the
    corpus's reference and current halves (doc_id parity stands in for
    yesterday/today at test scale; a real feed splits on ingest date).
    The value-level psi_drift_report catches a numeric column moving;
    this catches the TEXT itself moving -- topic shift, a new spam
    vocabulary, a source changing language -- which is what decides
    whether mixture weights and quality gates need re-fitting.

    Vocabulary = the reference half's top ``top_v`` words (one
    map-side-combined count + TakeOrderedAndProject -- never a global
    window); both halves' counts over that fixed vocabulary are
    Laplace-smoothed shares, and each word's PSI contribution
    (cur - ref) * ln(cur / ref) is 9-dp ulp-rounded and summed as a
    DECIMAL so the statistic is partitioning-invariant.  Returns the
    top 20 drift-driving words plus the total:
    (word, ref_share, cur_share, psi_contribution, psi_total)."""
    words = documents.select(
        (F.col("doc_id") % 2 == 0).alias("__ref"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("word"),
    )
    counts = words.groupBy("word").agg(
        F.sum(F.when(F.col("__ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("__ref"), 1).otherwise(0)).alias("n_cur"),
    )
    vocab = counts.orderBy(F.col("n_ref").desc(), F.col("word")).limit(top_v)
    return vocab_psi_from_counts(vocab, top_v)


def vocab_psi_from_counts(vocab: DataFrame, top_v: int = 200) -> DataFrame:
    """The PSI scoring half of vocab_drift, over a (word, n_ref,
    n_cur) vocabulary frame -- shared by the batch gate and the
    streaming monitor (which folds n_cur in complete-mode state
    against a FROZEN reference vocabulary) so the two can never drift
    in arithmetic."""
    tot = vocab.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    shares = vocab.crossJoin(F.broadcast(tot)).select(
        "word",
        # Laplace smoothing keeps vanished/new words finite
        ((F.col("n_ref") + 1).cast("double") / (F.col("__tr") + top_v))
        .alias("ref_share"),
        ((F.col("n_cur") + 1).cast("double") / (F.col("__tc") + top_v))
        .alias("cur_share"),
    )
    contrib = F.round(
        (F.col("cur_share") - F.col("ref_share"))
        * F.log(F.col("cur_share") / F.col("ref_share")),
        9,
    )
    scored = shares.select(
        "word",
        F.round("ref_share", 9).alias("ref_share"),
        F.round("cur_share", 9).alias("cur_share"),
        contrib.alias("psi_contribution"),
    )
    total = scored.agg(
        F.round(
            F.sum(F.col("psi_contribution").cast("decimal(18,9)")).cast(
                "double"
            ),
            9,
        ).alias("psi_total")
    )
    return (
        scored.crossJoin(F.broadcast(total))
        .orderBy(F.col("psi_contribution").desc(), F.col("word"))
        .limit(20)
    )


def epoch_manifest(
    documents: DataFrame, n_epochs: int = 2, n_shards: int = 8
) -> DataFrame:
    """Deterministic EPOCH-SHUFFLE manifest: for each training epoch,
    every document gets a shard and an in-shard position from the
    portable hash of (doc_id, epoch) -- a different, reproducible
    global order per epoch with zero driver-side state and no RNG.
    This is the data-order half of training reproducibility: re-running
    the manifest on any cluster, any partitioning, any day yields the
    byte-identical schedule, and each epoch covers every document
    exactly once (a permutation, property-tested).

    Scale shape: one projection + one window PARTITIONED BY
    (epoch, shard) -- the partition is a shard's worth of docs, which
    is exactly the unit a data loader reads sequentially, so the sort
    that defines in-shard order is the sort you were going to do
    anyway.  Returns (epoch, shard, position, doc_id)."""
    epochs = F.explode(
        F.array(*[F.lit(e) for e in range(n_epochs)])
    ).alias("epoch")
    key = word_hash(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":e"), F.col("epoch")
        )
    )
    tagged = documents.select("doc_id").select("doc_id", epochs).select(
        "epoch", "doc_id", key.alias("__k")
    )
    w = Window.partitionBy("epoch", (F.col("__k") % n_shards)).orderBy(
        "__k", "doc_id"
    )
    return tagged.select(
        "epoch",
        (F.col("__k") % n_shards).cast("int").alias("shard"),
        F.row_number().over(w).alias("position"),
        "doc_id",
    )


def data_card(
    documents: DataFrame,
    token_frame: DataFrame,
    contamination_frame: DataFrame,
    cluster_members: DataFrame,
    contamination_threshold: float = 0.5,
) -> DataFrame:
    """Per-source DATA CARD: the one-page datasheet a corpus ships with
    (Gebru et al., "Datasheets for Datasets") -- volume, token count,
    language spread, benchmark-contamination rate, and near-duplicate
    rate, per feed.  Composes the already-verified per-doc frames
    (token_stats, contamination_scores, the connected-components
    cluster membership) rather than re-deriving any signal, so the
    card can never disagree with the operators it summarizes.

    One per-doc join-up (each side doc-keyed, the joins co-shuffle on
    doc_id) then ONE map-side-combined rollup; output is
    source-cardinality.  Mean contamination accumulates as DECIMAL so
    the card is partitioning-invariant.  Returns (source, n_docs,
    total_chars, total_tokens, n_langs, mean_contamination,
    n_contaminated, n_near_dup, dup_rate)."""
    members = (
        cluster_members.select("doc_id")
        .distinct()
        .withColumn("__dup", F.lit(1).cast("long"))
    )
    per_doc = (
        documents.select("doc_id", "source", "lang", "n_chars")
        .join(token_frame.select("doc_id", "n_bpe_tokens"), "doc_id")
        .join(
            contamination_frame.select("doc_id", "contamination"), "doc_id"
        )
        .join(members, "doc_id", "left")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_bpe_tokens").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            F.sum(F.col("contamination").cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("mean_contamination"),
        F.sum(
            (F.col("contamination") >= contamination_threshold).cast("long")
        ).alias("n_contaminated"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias("n_near_dup"),
        F.round(
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))) / F.count("*"), 6
        ).alias("dup_rate"),
    )


def quality_blend(documents: DataFrame) -> DataFrame:
    """Ensemble quality score: three independent, already-verified
    signals -- unigram LM fit (mean_logprob, higher = more natural),
    n-gram repetition (repetition_ratio, lower = cleaner), lexical
    diversity (ttr, higher = richer) -- each decile-normalized and
    averaged into ONE filter-friendly score, the way production
    curation stacks weak signals instead of trusting any single one
    (a spam page can ace the LM filter and still die on repetition).

    Each signal's nine decile boundaries come from one 1-row exact
    percentile aggregate broadcast back (the quality_deciles
    discipline -- no global window anywhere), so the blend is
    scan-speed at any corpus size.  Decile semantics: 10 = best for
    every signal (repetition inverts).  blend = mean of the three
    decile goodnesses, one single-division double.  Returns (doc_id,
    lp_decile, rep_decile, ttr_decile, blend_score).

    Each signal frame feeds TWO consumers -- its own percentile-bounds
    aggregate and the per-doc join -- so the frames ride the scoped
    cache: without it Catalyst re-runs the whole signal pipeline
    (the unigram LM's explode + term join in particular) once per
    consumer, which the sf1 probe measured at ~2x the whole job.  The
    scan is spread first (single-file corpora otherwise run the
    token explode in one task)."""
    from ..functions.partitioning import spread_small_scan

    documents = spread_small_scan(documents)
    lp = scoped_cache(
        unigram_logprob_scores(documents).select("doc_id", "mean_logprob")
    )
    rep = scoped_cache(
        repetition_scores(documents).select("doc_id", "repetition_ratio")
    )
    ttr = scoped_cache(type_token_ratio(documents).select("doc_id", "ttr"))

    def _bounds(df, col):
        return df.agg(
            F.transform(
                F.percentile(
                    F.col(col),
                    F.array(*[F.lit(q / 10.0) for q in range(1, 10)]),
                ),
                lambda b: F.round(b, 9),
            ).alias(f"__bs_{col}")
        )

    def _decile(col):
        return (
            F.lit(1)
            + F.size(
                F.filter(
                    F.col(f"__bs_{col}"), lambda b: b < F.col(col)
                )
            )
        ).cast("int")

    j = (
        lp.join(rep, "doc_id")
        .join(ttr, "doc_id")
        .crossJoin(F.broadcast(_bounds(lp, "mean_logprob")))
        .crossJoin(F.broadcast(_bounds(rep, "repetition_ratio")))
        .crossJoin(F.broadcast(_bounds(ttr, "ttr")))
    )
    lp_d = _decile("mean_logprob")
    rep_d = _decile("repetition_ratio")
    ttr_d = _decile("ttr")
    rep_good = F.lit(11) - rep_d
    blend = F.round(
        (lp_d + rep_good + ttr_d).cast("double") / F.lit(3.0), 6
    )
    return j.select(
        "doc_id",
        lp_d.alias("lp_decile"),
        rep_d.alias("rep_decile"),
        ttr_d.alias("ttr_decile"),
        blend.alias("blend_score"),
    )


def encoding_anomalies(documents: DataFrame) -> DataFrame:
    """Per-document transport-corruption profile: replacement
    characters (U+FFFD -- a decoder already gave up), C0 control bytes
    (binary bleed; TAB/LF/CR excluded), and the classic
    UTF-8-read-as-Latin-1 mojibake markers (the 'A-tilde'/'A-circumflex'
    lead bytes every double-encoded corpus is littered with) -- the
    first gate a web-crawl pipeline runs before any text op trusts the
    bytes.

    Counts are length-diff exact; the printable-ASCII ratio is left
    UNROUNDED (an int/int IEEE division is bit-identical across
    engines, while rounding can land on exact half-ulp ties for
    power-of-two lengths).  The verdict takes the worst tier present:
    REPLACEMENT > CONTROL > MOJIBAKE > CLEAN.

    Scale shape: embarrassingly parallel -- one projection, zero
    shuffles, every expression JVM-codegen (regexp over the document
    column); at 100 TB this is a single scan whose cost is the
    regexes, and the output is doc-keyed so it joins back to any
    curation pipeline for free.
    """
    t = F.col("text")

    def n_stripped(pattern: str) -> F.Column:
        return F.length(t) - F.length(
            F.regexp_replace(t, F.lit(pattern), F.lit(""))
        )

    n_repl = n_stripped("�")
    n_ctrl = n_stripped("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    n_moji = n_stripped("[ÃÂ]|â€")
    ascii_ratio = (
        F.length(F.regexp_replace(t, F.lit("[^\\x20-\\x7E]"), F.lit("")))
        / F.length(t)
    )
    verdict = (
        F.when(n_repl > 0, "REPLACEMENT")
        .when(n_ctrl > 0, "CONTROL")
        .when(n_moji > 0, "MOJIBAKE")
        .otherwise("CLEAN")
    )
    return documents.select(
        "doc_id",
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_control"),
        n_moji.alias("n_mojibake_marks"),
        ascii_ratio.alias("ascii_ratio"),
        verdict.alias("verdict"),
    )


def code_switch_profile(documents: DataFrame, seg_words: int = 20) -> DataFrame:
    """Segment-level language-mixing profile: the document is cut into
    fixed ``seg_words``-word segments, each segment language-guessed by
    stopword membership (the lang_id heuristic applied per segment),
    and the per-document mixing statistics reported -- dominant
    segment language, how many switches between consecutive
    identified segments, and whether the doc code-switches at all.
    Word-level membership (not regex) so the DuckDB twin mirrors it
    with a plain IN list.

    Scale shape: one explode to words (linear in corpus tokens), two
    map-side-combinable aggregates (words -> segments -> docs), one
    per-doc lag window over the SEGMENT frame (tokens/seg_words rows,
    partitioned by doc -- never a corpus-wide sort).  Returns
    (doc_id, n_segments, n_en, n_fr, n_unknown, n_switches,
    dominant_lang, code_switched).
    """
    words = documents.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"),
    ).select(
        "doc_id",
        F.floor(F.col("pos") / seg_words).alias("seg"),
        "word",
    )
    en_hit = F.col("word").isin(*EN_STOPWORDS).cast("int")
    fr_hit = F.col("word").isin(*FR_STOPWORDS).cast("int")
    segs = words.groupBy("doc_id", "seg").agg(
        F.sum(en_hit).alias("en_hits"), F.sum(fr_hit).alias("fr_hits")
    )
    seg_lang = (
        F.when(
            (F.col("en_hits") == 0) & (F.col("fr_hits") == 0), "unknown"
        )
        .when(F.col("en_hits") >= F.col("fr_hits"), "en")
        .otherwise("fr")
    )
    tagged = segs.select("doc_id", "seg", seg_lang.alias("lang"))
    w = Window.partitionBy("doc_id").orderBy("seg")
    prev_known = F.last(
        F.when(F.col("lang") != "unknown", F.col("lang")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    switch = (
        (F.col("lang") != "unknown")
        & prev_known.isNotNull()
        & (F.col("lang") != prev_known)
    )
    flagged = tagged.select(
        "doc_id", "lang", switch.cast("int").alias("is_switch")
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum((F.col("lang") == "en").cast("int")).alias("n_en"),
        F.sum((F.col("lang") == "fr").cast("int")).alias("n_fr"),
        F.sum((F.col("lang") == "unknown").cast("int")).alias("n_unknown"),
        F.sum("is_switch").alias("n_switches"),
    )
    dominant = (
        F.when((F.col("n_en") == 0) & (F.col("n_fr") == 0), "unknown")
        .when(F.col("n_en") >= F.col("n_fr"), "en")
        .otherwise("fr")
    )
    return per_doc.select(
        "doc_id",
        "n_segments",
        "n_en",
        "n_fr",
        "n_unknown",
        "n_switches",
        dominant.alias("dominant_lang"),
        (F.col("n_switches") > 0).alias("code_switched"),
    )
