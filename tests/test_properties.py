"""Property-based invariants over random CDC inputs (SURVEY.md
section 5, item 3).

A single module-scoped random corpus (fixed seed) would hide
generator-shaped bugs, so hypothesis drives the shape: random key
overlaps, duplicate keys, invalid keys, random timestamps.  Invariants:

  I1  matched + avro_only == valid avro rows (every valid probe row
      lands in exactly one bucket)
  I2  binlog_only <= DML build events
  I3  consistent <=> all three counters zero
  I4  results invariant under input row order permutation
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings, strategies as st

from binlog_avro_comparator_spark.operators import compare as C
from tests.test_compare_golden import AVRO_SCHEMA, BINLOG_SCHEMA

_ET = ["WriteRowsEventV2", "UpdateRowsEventV2", "DeleteRowsEventV2", "XID", "Query"]


def _mk_rows(seed: int, n_binlog: int, n_avro: int):
    rng = random.Random(seed)
    binlog = []
    for i in range(n_binlog):
        binlog.append(
            (
                rng.choice(_ET),
                "2025-06-01T12:00:00Z" if rng.random() > 0.1 else None,
                "2025-06-01T12:00:00.123456Z" if rng.random() > 0.3 else None,
                rng.choice([0, 100, 200, 300, 400, 500]),
                "db",
                "t",
                f"g{rng.randrange(4)}",
                rng.choice(["", "f1", "f2"]),
                i,
            )
        )
    avro = []
    for i in range(n_avro):
        avro.append(
            (
                1748779200000 + rng.randrange(-500, 500),
                "db",
                "t",
                rng.choice(["INSERT", "update", "DELETE", ""]),
                f"g{rng.randrange(4)}",
                rng.choice(["", "f1", "f2", "f9"]),
                rng.choice([0, 100, 200, 300, 999]),
                False,
                i,
            )
        )
    return binlog, avro


@pytest.fixture(scope="module")
def run(spark):
    def _run(seed: int, n_binlog: int, n_avro: int, permute: bool = False):
        binlog_rows, avro_rows = _mk_rows(seed, n_binlog, n_avro)
        if permute:
            rng = random.Random(seed + 1)
            rng.shuffle(binlog_rows)
            rng.shuffle(avro_rows)
        binlog = spark.createDataFrame(binlog_rows, BINLOG_SCHEMA).repartition(5)
        avro = spark.createDataFrame(avro_rows, AVRO_SCHEMA).repartition(3)
        bp, ap = C.prepare_binlog(binlog), C.prepare_avro(avro)
        s = C.summary_onepass(avro, bp, ap).collect()[0]
        valid_avro = ap.count()
        dml_build = bp.filter(
            bp["event_type"].endswith("RowsEventV2")
        ).count()
        return s, valid_avro, dml_build

    return _run


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(0, 10_000))
@pytest.mark.slow
def test_counter_invariants(run, seed):
    s, valid_avro, dml_build = run(seed, n_binlog=40, n_avro=30)
    assert s.matched + s.avro_only == valid_avro  # I1
    assert s.binlog_only <= dml_build  # I2
    assert s.consistent == (
        s.ts_mismatches == 0 and s.avro_only == 0 and s.binlog_only == 0
    )  # I3


@settings(max_examples=4, deadline=None)
@given(seed=st.integers(0, 10_000))
@pytest.mark.slow
def test_permutation_invariance(run, seed):
    s1, _, _ = run(seed, n_binlog=40, n_avro=30, permute=False)
    s2, _, _ = run(seed, n_binlog=40, n_avro=30, permute=True)
    assert tuple(s1) == tuple(s2)  # I4


def test_as_of_and_range_join_match_bruteforce(spark):
    """Property: the union-window as-of and the bucketed range join
    agree with a naive Python reference on randomized inputs."""
    import random

    from binlog_avro_comparator_spark.operators.joins import (
        as_of_join,
        range_join_bucketed,
    )

    rng = random.Random(13)
    for trial in range(3):
        left = [
            (rng.randrange(4), i, rng.randrange(0, 500))
            for i in range(60)
        ]
        right = [
            (rng.randrange(4), 1000 + i, rng.randrange(0, 500))
            for i in range(60)
        ]
        ldf = spark.createDataFrame(left, "k long, event_id long, ts_ms long")
        rdf = spark.createDataFrame(right, "k long, rid long, ts_ms long")

        # brute-force as-of: latest right at-or-before, tie -> max rid
        def brute_asof(lk, lts):
            cands = [(ts, rid) for (k, rid, ts) in right if k == lk and ts <= lts]
            return max(cands)[1] if cands else None

        got = {
            r.event_id: (r["__asof"].rid if r["__asof"] is not None else None)
            for r in as_of_join(
                ldf, rdf, ["k"], "ts_ms", ["rid"], tie_col="rid"
            ).collect()
        }
        want = {eid: brute_asof(k, ts) for (k, eid, ts) in left}
        assert got == want, f"as-of trial {trial}"

        # brute-force range join on [0, 75)
        want_pairs = {
            (eid, rid)
            for (lk, eid, lts) in left
            for (rk, rid, rts) in right
            if lk == rk and lts <= rts < lts + 75
        }
        got_pairs = {
            (r.event_id, r.r_rid)
            for r in range_join_bucketed(
                ldf, rdf, ["k"], "ts_ms", 0, 75
            ).collect()
        }
        assert got_pairs == want_pairs, f"range trial {trial}"


@pytest.mark.slow
def test_go_json_lines_property_vs_go_model(spark):
    """Property: for arbitrary kv payloads (unicode, quotes,
    backslashes, HTML chars, int-like strings, colliding keys), the
    Spark emitter's bytes equal a direct Python model of Go's
    json.Marshal(map) algorithm: sorted keys, compact separators,
    ParseInt-or-string values, HTML escaping."""
    import json
    import re

    from hypothesis import given, settings, strategies as st

    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text
    from binlog_avro_comparator_spark.sources.jsonl import go_json_lines

    SPECIALS = {
        "event_type", "date", "timestamp", "binlog_file",
        "immediate_commmit_timestamp", "orignal_commmit_timestamp",
    }
    key_st = st.from_regex(r"[a-z_]{1,10}", fullmatch=True)
    val_st = (
        st.one_of(
            st.from_regex(r"[+-]?[0-9]{1,25}", fullmatch=True),
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_characters="\n\r"
                ),
                min_size=1,
                max_size=25,
            ),
        )
        .map(str.strip)
        .filter(lambda v: v)
    )

    def go_model(kvs: dict) -> str:
        m = {
            "event_type": "Query",
            "binlog_file": "f1",
            "timestamp": "2025-06-01T12:00:01Z",
        }
        for k, v in kvs.items():
            if k in SPECIALS:
                continue
            if re.fullmatch(r"[+-]?[0-9]+", v) and -(2**63) <= int(v) < 2**63:
                m[k] = int(v)
            else:
                m[k] = v
        s = json.dumps(m, sort_keys=True, separators=(",", ":"), ensure_ascii=False)
        # Go writes lowercase \u00XX where Python shorthands \b \f or
        # uppercases hex; only REAL escapes (even backslash run) rewrite
        for ch, esc in [("&", "\\u0026"), ("<", "\\u003c"), (">", "\\u003e"),
                        ("\u2028", "\\u2028"), ("\u2029", "\\u2029")]:
            s = s.replace(ch, esc)
        s = re.sub(r"(?<!\\)((?:\\\\)*)\\b", lambda mm: mm.group(1) + "\\u0008", s)
        s = re.sub(r"(?<!\\)((?:\\\\)*)\\f", lambda mm: mm.group(1) + "\\u000c", s)
        for c in range(0x20):
            hx, lx = f"{c:04X}", f"{c:04x}"
            if hx != lx:
                s = re.sub(
                    r"(?<!\\)((?:\\\\)*)\\u" + hx,
                    lambda mm, lx=lx: mm.group(1) + "\\u" + lx,
                    s,
                )
        return s

    @settings(max_examples=12, deadline=None)
    @given(st.dictionaries(key_st, val_st, min_size=0, max_size=6))
    def roundtrip(kvs):
        text = ["=== QueryEvent ===", "Date: 2025-06-01 12:00:01"]
        text += [f"{k}: {v}" for k, v in kvs.items()]
        lines = spark.createDataFrame(
            [("f1", i, s) for i, s in enumerate(text)],
            "binlog_file string, line_no long, value string",
        )
        [row] = go_json_lines(parse_binlog_text(lines)).collect()
        assert row.value == go_model(kvs)

    roundtrip()


# --- round-3 operator invariants vs tiny Python references ---------------

_SNAP_OPS = {"click": "INSERT", "view": "UPDATE", "purchase": "DELETE"}


def _ref_apply_changes(rows):
    """10-line reference: last (ts, event_id) write per user wins, final
    DELETE removes the user."""
    per_user = {}
    for eid, ts_us, uid, et, val in rows:
        if et not in _SNAP_OPS or uid is None:
            continue
        st_ = per_user.setdefault(uid, [])
        st_.append((ts_us // 1000, eid, _SNAP_OPS[et], val))
    out = {}
    for uid, changes in per_user.items():
        changes.sort()
        ts_ms, eid, op, val = changes[-1]
        if op != "DELETE":
            out[uid] = (op, ts_ms, eid, round(val, 4), len(changes))
    return out


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_apply_changes_matches_reference(spark, seed):
    from pyspark.sql import functions as F, types as T

    from binlog_avro_comparator_spark.operators.snapshot import apply_changes

    rng = random.Random(seed)
    base = 1_700_000_000_000_000
    rows = []
    for i in range(rng.randrange(1, 120)):
        rows.append(
            (
                i,
                base + rng.randrange(0, 50) * 1000,  # µs: forces ms ties
                rng.choice([None, 1, 2, 3, 4]),
                rng.choice(["click", "view", "purchase", "signup"]),
                rng.uniform(0, 100),
            )
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = (
        spark.createDataFrame(rows, schema)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .drop("ts_us")
    )
    got = {
        r.user_id: (r.last_op, r.last_ts_ms, r.last_event_id, r.last_value, r.n_changes)
        for r in apply_changes(df).collect()
    }
    # reference counts ALL applied changes (incl. pre-delete ones)
    ref = _ref_apply_changes(rows)
    assert got == ref


def _ref_funnel(rows):
    """Reference funnel: first view; first click strictly after it;
    first purchase strictly after that click -- ordering on (ts_ms,
    event_id)."""
    by_user = {}
    for eid, ts_us, uid, et, _ in rows:
        if uid is None or et not in ("view", "click", "purchase"):
            continue
        by_user.setdefault(uid, []).append((ts_us // 1000, eid, et))
    out = {}
    for uid, evs in by_user.items():
        evs.sort()
        def first(et, after=None):
            for ts, eid, t in evs:
                if t == et and (after is None or (ts, eid) > after):
                    return (ts, eid)
            return None
        v = first("view")
        if v is None:
            continue
        c = first("click", v)
        p = first("purchase", c) if c else None
        out[uid] = (
            v[0],
            c[0] if c else None,
            p[0] if p else None,
            1 + (c is not None) + (p is not None),
        )
    return out


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_funnel_matches_reference(spark, seed):
    from pyspark.sql import functions as F, types as T

    from binlog_avro_comparator_spark.operators.analytics import funnel_stages

    rng = random.Random(seed)
    base = 1_700_000_000_000_000
    rows = []
    for i in range(rng.randrange(1, 120)):
        rows.append(
            (
                i,
                base + rng.randrange(0, 30) * 1000,
                rng.choice([None, 1, 2, 3]),
                rng.choice(["view", "click", "purchase", "signup"]),
                0.0,
            )
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = (
        spark.createDataFrame(rows, schema)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .drop("ts_us")
    )
    got = {
        r.user_id: (r.view_ts_ms, r.click_ts_ms, r.purchase_ts_ms, r.stage_reached)
        for r in funnel_stages(df).collect()
    }
    assert got == _ref_funnel(rows)


@settings(max_examples=6, deadline=None)
@given(st.integers(min_value=0, max_value=2**31))
def test_boilerplate_removal_matches_python_reference(spark, seed):
    """remove_boilerplate_segments == a direct Python implementation of
    the CCNet-style recipe over random small-vocab corpora (random doc
    counts/lengths force segment collisions both above and below the
    df threshold)."""
    from collections import Counter

    from binlog_avro_comparator_spark.operators.dedup import (
        remove_boilerplate_segments,
    )

    rng = random.Random(seed)
    vocab = ["aa", "bb", "cc", "dd"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 14)))
        for _ in range(rng.randrange(2, 16))
    ]
    W, TH = 2, 3

    def ref(texts):
        segs_per_doc = []
        for t in texts:
            w = t.split()
            segs_per_doc.append(
                [" ".join(w[i : i + W]) for i in range(0, len(w), W)]
            )
        df = Counter()
        for segs in segs_per_doc:
            for s in set(segs):
                df[s] += 1
        out = {}
        for i, segs in enumerate(segs_per_doc):
            keep = [s for s in segs if df[s] < TH]
            out[i] = (" ".join(keep), len(segs), len(segs) - len(keep))
        return out

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.text_clean, r.n_segments, r.n_dropped)
        for r in remove_boilerplate_segments(
            docs, seg_words=W, df_threshold=TH
        ).collect()
    }
    assert got == ref(texts)


def test_curation_boilerplate_composition(spark):
    """boilerplate removal composes into curation_survivors BEFORE span
    trimming, over the survivor set only; full rows keep their columns."""
    from binlog_avro_comparator_spark.operators.curation import curation_survivors

    footer = "all rights reserved"
    bodies = ["alpha beta gamma", "delta eps zeta", "eta theta iota", "kappa mu nu"]
    docs = spark.createDataFrame(
        [
            (100 + i, f"{body} {footer}", "en", "s", 1)
            for i, body in enumerate(bodies)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r.doc_id: r.text
        for r in curation_survivors(
            docs,
            max_repetition=1.0,
            max_contamination=2.0,
            boilerplate_seg_words=3,
            boilerplate_df_threshold=4,
        ).collect()
    }
    # the shared footer segment ('all rights reserved' aligns at word
    # offset 3 in every doc) is dropped EVERYWHERE, bodies survive
    assert out == {100 + i: body for i, body in enumerate(bodies)}


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=0, max_value=2**31))
@pytest.mark.slow
def test_incremental_snapshot_any_chunking_matches_batch(spark, tmp_path_factory, seed):
    """The snapshot state merge is associative: ANY random chunking of
    a random change stream, drained one chunk per micro-batch, yields
    exactly the batch apply_changes result -- including duplicate-key
    churn, deletes, and delete-then-reinsert."""
    from pyspark.sql import functions as F

    from binlog_avro_comparator_spark.operators.snapshot import apply_changes
    from binlog_avro_comparator_spark.streaming.snapshot_sink import (
        maintain_snapshot,
        read_snapshot,
    )

    rng = random.Random(seed)
    base = 1_700_000_000_000_000
    n = rng.randrange(5, 40)
    rows = [
        (
            i,
            base + i * 1_000_000 + rng.randrange(0, 3),  # occasional ts ties
            rng.randrange(1, 6),
            rng.choice(["click", "view", "purchase", "error"]),
            round(rng.uniform(0, 50), 3),
            "{}",
        )
        for i in range(n)
    ]
    schema = (
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, props string"
    )
    tmp = tmp_path_factory.mktemp("snapinc")
    src = tmp / "chunks"
    src.mkdir()
    n_chunks = rng.randrange(1, 5)
    chunks = [[] for _ in range(n_chunks)]
    for r in rows:
        chunks[rng.randrange(n_chunks)].append(r)
    frames = []
    for i, chunk in enumerate(c for c in chunks if c):
        df = spark.createDataFrame(chunk, schema).withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))
        ).drop("ts_us")
        df.coalesce(1).write.parquet(str(src / f"c{i}"))
        frames.append(df)
    all_events = frames[0]
    for f_ in frames[1:]:
        all_events = all_events.unionByName(f_)

    stream = (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = maintain_snapshot(stream, str(tmp / "state"), str(tmp / "ck"))
    assert q.awaitTermination(180)
    q.stop()

    got = {
        r.user_id: (r.last_op, r.last_ts_ms, r.last_event_id, r.last_value, r.n_changes)
        for r in read_snapshot(spark, str(tmp / "state")).collect()
    }
    want = {
        r.user_id: (r.last_op, r.last_ts_ms, r.last_event_id, r.last_value, r.n_changes)
        for r in apply_changes(all_events).collect()
    }
    assert got == want


@settings(max_examples=4, deadline=None)
@given(st.integers(min_value=0, max_value=2**31))
def test_semdedup_matches_python_reference(spark, seed):
    """semdedup_survivors == a direct Python implementation of the
    recipe (deterministic k-means then greedy keep-lowest-id pruning
    within clusters) over random small corpora."""
    import math

    from binlog_avro_comparator_spark.operators.similarity import semdedup_survivors

    rng = random.Random(seed)
    dim, k, stride, n_iter, thr = 4, 2, 3, 2, 0.95
    n = rng.randrange(7, 20)
    vecs = []
    for i in range(n):
        if vecs and rng.random() < 0.3:
            src = rng.choice(vecs)  # plant a near-duplicate
            vecs.append([v * (1 + rng.uniform(-1e-4, 1e-4)) for v in src])
        else:
            vecs.append([rng.uniform(-1, 1) for _ in range(dim)])

    def rnd(x):
        return round(x, 6)

    def assign(cents):
        out = {}
        for i, x in enumerate(vecs):
            best = None
            for cid, c in cents.items():
                cn2 = sum(v * v for v in c)
                score = rnd(sum(a * b for a, b in zip(x, c)) - 0.5 * cn2)
                key = (score, -cid)
                if best is None or key > best[0]:
                    best = (key, cid)
            out[i] = best[1]
        return out

    cents = {
        i // stride: [rnd(v) for v in vecs[i]]
        for i in range(0, min(len(vecs), stride * k), stride)
        if i % stride == 0
    }
    a = assign(cents)
    for _ in range(n_iter - 1):
        newc = {}
        for cid in set(a.values()):
            members = [vecs[i] for i in a if a[i] == cid]
            newc[cid] = [rnd(sum(m[d] for m in members) / len(members)) for d in range(dim)]
        a = assign(newc)

    losers = set()
    for i in range(n):
        for j in range(i + 1, n):
            if a[i] != a[j]:
                continue
            na = math.sqrt(sum(v * v for v in vecs[i]))
            nb = math.sqrt(sum(v * v for v in vecs[j]))
            cos = rnd(sum(x * y for x, y in zip(vecs[i], vecs[j])) / (na * nb))
            if cos >= thr:
                losers.add(j)
    want = sorted(set(range(n)) - losers)

    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = sorted(
        r.vec_id
        for r in semdedup_survivors(
            emb, k=k, n_iter=n_iter, threshold=thr, stride=stride, dim=dim
        ).collect()
    )
    assert got == want


# --- S2 binary codec: pure-Python property (no Spark session needed) ------

_name_st = st.text(
    st.characters(codec="utf-8", exclude_characters="\x00"),
    min_size=0,
    max_size=40,
)


@st.composite
def _binlog_events(draw):
    n = draw(st.integers(min_value=0, max_value=25))
    evs = []
    for i in range(n):
        et = draw(st.sampled_from(
            ["WriteRowsEventV2", "UpdateRowsEventV2", "DeleteRowsEventV2",
             "XID", "Query"]))
        sec = draw(st.integers(min_value=0, max_value=2**32 - 1))
        ict_us = draw(st.one_of(
            st.none(), st.integers(min_value=1, max_value=2**48)))
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            _fmt_ict, _fmt_ts)
        evs.append(dict(
            event_type=et,
            timestamp=_fmt_ts(sec),
            immediate_commmit_timestamp=None if ict_us is None else _fmt_ict(ict_us),
            log_position=draw(st.integers(min_value=0, max_value=2**32 - 1)),
            # schema/table lengths ride 1-byte fields: cap utf-8 size
            schema=draw(_name_st.filter(lambda s: len(s.encode()) < 250)),
            table=draw(_name_st.filter(lambda s: len(s.encode()) < 250)),
            line_no=i,
        ))
    return evs


@settings(max_examples=60, deadline=None)
@given(_binlog_events())
def test_binlog_binary_roundtrip_property(evs):
    """encode -> decode is lossless for every field the contract
    carries, for arbitrary event sequences including unicode names,
    null/extreme commit timestamps, and zero positions."""
    from binlog_avro_comparator_spark.sources.binlog_binary import (
        FIXTURE_SID_STR, decode_binlog_bytes, encode_binlog_file)

    rows = list(decode_binlog_bytes("f", encode_binlog_file(evs)))
    assert len(rows) == len(evs)
    for i, (ev, row) in enumerate(zip(evs, rows)):
        _, line_no, et, ts, ict, pos, schema, table, gtid = row
        assert line_no == i + 1
        assert et == ev["event_type"]
        assert ts == ev["timestamp"]
        assert ict == ev["immediate_commmit_timestamp"]
        assert pos == ev["log_position"]
        assert gtid == f"{FIXTURE_SID_STR}:{ev['line_no'] + 1}"
        if et.endswith("RowsEventV2"):
            assert (schema, table) == (ev["schema"], ev["table"])
        elif et == "XID":
            assert (schema, table) == (None, None)
        else:  # Query: schema only, empty collapses to NULL
            assert table is None
            assert schema == (ev["schema"] or None)


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
@pytest.mark.slow
def test_misra_gries_matches_exact_heavy_hitters(spark, seed):
    """Any data, any share, any partitioning: the MG sketch + exact
    confirmation must equal the exact strict-share answer computed in
    plain Python (no false negatives from candidate trimming, no false
    positives from the confirmation filter)."""
    from collections import Counter

    from binlog_avro_comparator_spark.operators.analytics import (
        misra_gries_heavy_hitters,
    )

    rng = random.Random(seed)
    # zipf-ish skew: a few hot keys, a long tail
    keys = []
    for i in range(rng.randrange(50, 400)):
        if rng.random() < 0.4:
            keys.append(f"hot{rng.randrange(3)}")
        else:
            keys.append(f"tail{rng.randrange(60)}")
    share = rng.choice([0.05, 0.1, 0.2, 0.3])
    n_parts = rng.choice([1, 3, 8, 17])
    exact = Counter(keys)
    n = len(keys)
    expect = sorted(
        (k, c) for k, c in exact.items() if float(c) > float(n) * share
    )
    df = spark.createDataFrame([(k,) for k in keys], "k string").repartition(
        n_parts
    )
    got = sorted(
        (r["key"], r["cnt"])
        for r in misra_gries_heavy_hitters(df, "k", share=share).collect()
    )
    assert got == expect, (seed, share, n_parts)


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_percentile_interpolation_matches_duckdb(spark, seed):
    """The quantile family's cross-engine contract: Spark F.percentile
    and DuckDB quantile_cont both implement R-7 linear interpolation,
    so on IDENTICAL doubles the results are bit-equal -- no tolerance.
    (cdc_latency_stats, doc_length_quantiles, quality deciles all rest
    on this.)"""
    import duckdb

    from pyspark.sql import functions as F

    rng = random.Random(seed)
    vals = [round(rng.uniform(-1e6, 1e6), 6) for _ in range(rng.randrange(1, 300))]
    qs = [0.01, 0.25, 0.5, 0.9, 0.99]
    got = (
        spark.createDataFrame([(v,) for v in vals], "v double")
        .agg(*[F.percentile("v", F.lit(q)).alias(f"p{i}") for i, q in enumerate(qs)])
        .collect()[0]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = con.execute(
        "SELECT "
        + ", ".join(f"quantile_cont(v, {q})" for q in qs)
        + " FROM t"
    ).fetchone()
    con.close()
    for i in range(len(qs)):
        assert got[f"p{i}"] == want[i], (qs[i], got[f"p{i}"], want[i])


@settings(max_examples=6, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_time_rollup_hierarchy_invariants(spark, seed):
    """Random event sets: each rollup level's counts/sums must re-sum
    exactly to the level above (minutes->hour, hours->day, days->
    total) -- the defining property of a hierarchical rollup, checked
    with decimal-exact equality."""
    from collections import defaultdict

    from binlog_avro_comparator_spark.operators.analytics import time_rollup
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    base = 1_700_000_000_000_000
    rows = [
        (
            i,
            base + rng.randrange(0, 3 * 86_400) * 1_000_000,
            rng.randrange(5),
            "click",
            round(rng.uniform(-5, 5), 3),
            "{}",
        )
        for i in range(rng.randrange(1, 200))
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    out = time_rollup(ev).collect()
    by_level = defaultdict(list)
    for r in out:
        by_level[r.level].append(r)
    n_total = by_level["total"][0].n_events
    assert sum(r.n_events for r in by_level["minute"]) == n_total
    assert sum(r.n_events for r in by_level["hour"]) == n_total
    assert sum(r.n_events for r in by_level["day"]) == n_total
    # sums re-aggregate exactly (values rounded to 6 at every level
    # from the same exact decimal partials)
    for lvl in ("minute", "hour", "day"):
        assert abs(
            sum(r.sum_value for r in by_level[lvl])
            - by_level["total"][0].sum_value
        ) < 1e-6 * max(1, len(by_level[lvl]))


@settings(max_examples=6, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_gap_fill_locf_matches_python_reference(spark, seed):
    """Random sparse per-user event streams: the distributed LOCF grid
    must equal a straightforward Python carry-forward walk."""
    from binlog_avro_comparator_spark.operators.analytics import gap_fill_locf
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    day_us = 86_400 * 1_000_000
    base = 1_700_000_000_000_000
    base_day = (base // day_us) * day_us  # align to the bucket grid
    rows = []
    eid = 0
    for uid in range(rng.randrange(1, 5)):
        for _ in range(rng.randrange(1, 12)):
            rows.append(
                (eid, base_day + rng.randrange(0, 20) * day_us
                 + rng.randrange(0, day_us), uid, "click",
                 round(rng.uniform(0, 100), 3), "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
    got = {
        (r.user_id, r.bucket): (r.observed, r.n_events, r.value_filled)
        for r in gap_fill_locf(ev).collect()
    }
    # python reference
    import datetime as dt

    per_user: dict = {}
    for (e, ts_us, uid, _t, v, _p) in [
        (r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows
    ]:
        day = ts_us // day_us * day_us
        per_user.setdefault(uid, {}).setdefault(day, []).append((e, v))
    expect = {}
    for uid, days in per_user.items():
        lo, hi = min(days), max(days)
        carry = None
        d = lo
        while d <= hi:
            if d in days:
                carry = max(days[d])[1]  # arg-max by event_id
                expect_key = (uid, dt.datetime.utcfromtimestamp(
                    d // 1_000_000).strftime("%Y-%m-%d %H:%M:%S"))
                expect[expect_key] = (True, len(days[d]), carry)
            else:
                expect_key = (uid, dt.datetime.utcfromtimestamp(
                    d // 1_000_000).strftime("%Y-%m-%d %H:%M:%S"))
                expect[expect_key] = (False, 0, carry)
            d += day_us
    assert got == expect, seed


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
@pytest.mark.slow
def test_content_checksum_multiset_property(spark, seed):
    """Random multisets: checksums agree iff the multisets agree --
    permutation/partitioning never matters, any single-row mutation,
    duplication, or drop changes the digest."""
    from binlog_avro_comparator_spark.operators.compare import content_checksum

    rng = random.Random(seed)
    rows = [
        (f"f{rng.randrange(4)}", rng.randrange(1000))
        for _ in range(rng.randrange(1, 200))
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    a = spark.createDataFrame(rows, "binlog_file string, binlog_position long")
    b = spark.createDataFrame(
        shuffled, "binlog_file string, binlog_position long"
    ).repartition(rng.choice([1, 3, 7]))
    ca = content_checksum(a, ["binlog_file", "binlog_position"]).collect()[0]
    cb = content_checksum(b, ["binlog_file", "binlog_position"]).collect()[0]
    assert (ca.n_rows, ca.checksum) == (cb.n_rows, cb.checksum)
    mutate = rng.choice(["dup", "drop", "edit"])
    if mutate == "dup":
        changed = rows + [rows[0]]
    elif mutate == "drop":
        changed = rows[1:] if len(rows) > 1 else rows + [("new", 1)]
    else:
        changed = rows[:-1] + [(rows[-1][0], rows[-1][1] + 100_000)]
    cc = content_checksum(
        spark.createDataFrame(changed, "binlog_file string, binlog_position long"),
        ["binlog_file", "binlog_position"],
    ).collect()[0]
    assert (cc.n_rows, cc.checksum) != (ca.n_rows, ca.checksum), mutate


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_merge_upsert_matches_dict_fold(spark, seed):
    """merge_upsert == the dict semantics of SQL MERGE: source row
    present -> replaces the whole target row (source NULLs included);
    flagged -> key removed; else target rows pass through."""
    from binlog_avro_comparator_spark.operators.snapshot import merge_upsert

    rng = random.Random(seed)
    t_rows = [
        (k, rng.choice([None, "a", "b", "c"]), rng.randrange(100))
        for k in rng.sample(range(40), rng.randrange(1, 25))
    ]
    s_rows = [
        (
            k,
            rng.choice([None, "x", "y"]),
            rng.randrange(100),
            rng.random() < 0.3,
        )
        for k in rng.sample(range(50), rng.randrange(1, 25))
    ]
    expect = {k: (n, v) for k, n, v in t_rows}
    for k, n, v, is_del in s_rows:
        if is_del:
            expect.pop(k, None)
        else:
            expect[k] = (n, v)
    target = spark.createDataFrame(t_rows, "k long, name string, v long")
    source = spark.createDataFrame(
        s_rows, "k long, name string, v long, is_del boolean"
    )
    got = {
        r.k: (r.name, r.v)
        for r in merge_upsert(target, source, ["k"], delete_col="is_del").collect()
    }
    assert got == expect


@settings(max_examples=6, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_hdr_quantiles_match_python_reference(spark, seed):
    """Property: the histogram-sketch estimate is the EXACT output of
    the integer bucket walk -- a pure-Python replica of the bucketing
    (centi-units, bit-length octaves, shifts) predicts est_value
    bit-for-bit on random inputs, and the bucket geometry bounds the
    relative error against the exact percentile."""
    import math
    import random

    from binlog_avro_comparator_spark.operators.analytics import hdr_quantiles

    rng = random.Random(seed)
    vals = [round(rng.uniform(0.0, 600.0), 2) for _ in range(120)]
    ev = spark.createDataFrame(
        [(i, 1_700_000_000_000_000 + i, 1, "t", v, "{}") for i, v in enumerate(vals)],
        "event_id long, ts_us long, user_id long, event_type string, value double, props string",
    ).selectExpr("event_id", "timestamp_micros(ts_us) AS ts", "user_id",
                 "event_type", "value", "props")

    def ref_idx(v: float) -> int:
        u = int(math.floor(v * 100))
        if u < 16:
            return u
        b = u.bit_length()
        return (b - 5) * 16 + (u >> (b - 5))

    def ref_est(q: float) -> float:
        hist: dict[int, int] = {}
        for v in vals:
            hist[ref_idx(v)] = hist.get(ref_idx(v), 0) + 1
        rank = math.ceil(q * len(vals))
        cum = 0
        for idx in sorted(hist):
            cum += hist[idx]
            if cum >= rank:
                break
        if idx < 16:
            low, width = idx, 1
        else:
            o, r = (idx - 16) // 16, (idx - 16) % 16
            low, width = (16 + r) << o, 1 << o
        return round((low + width / 2.0) / 100.0, 6)

    rows = {r.q: r for r in hdr_quantiles(ev).collect()}
    for q in (0.5, 0.9, 0.99):
        assert rows[q].est_value == ref_est(q), (seed, q)
        assert rows[q].rel_err <= 0.0725, (seed, q, rows[q].rel_err)


@settings(max_examples=6, deadline=None)
@given(seed=st.integers(0, 10_000))
@pytest.mark.slow
def test_bloom_contamination_superset_of_exact(spark, seed):
    """Property: on random corpora the Bloom check never misses a true
    contaminated shingle (one-sided error), per doc and in aggregate."""
    import random

    from binlog_avro_comparator_spark.operators.textstats import (
        bloom_contamination,
        contamination_scores,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rng.choices(vocab, k=rng.randrange(3, 25))) for _ in range(30)]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    exact = {r.doc_id: r for r in contamination_scores(docs).collect()}
    bloom = {r.doc_id: r for r in bloom_contamination(docs).collect()}
    assert set(bloom) == set(exact)
    for d, ex in exact.items():
        assert bloom[d].n_shingles == ex.n_shingles, (seed, d)
        assert bloom[d].n_bloom_hits >= ex.n_contaminated, (seed, d)


@settings(max_examples=6, deadline=None)
@given(seed=st.integers(0, 10_000))
@pytest.mark.slow
def test_ivm_incremental_equals_recompute_random_streams(spark, seed):
    """THE IVM algebra property: for a random change stream and a
    random cutoff, folding the post-cutoff delta into the stored view
    equals recomputing the view from the full feed -- retractions,
    group moves, deletes, re-inserts and all."""
    import random

    from pyspark.sql import functions as F

    from binlog_avro_comparator_spark.operators.snapshot import (
        apply_changes,
        ivm_refresh_typestats,
    )

    rng = random.Random(seed)
    types = ["click", "view", "purchase"]
    rows = []
    for eid in range(120):
        day = rng.randrange(1, 29)
        rows.append(
            (eid, f"2024-01-{day:02d} {rng.randrange(24):02d}:00:00",
             rng.randrange(12), rng.choice(types),
             round(rng.uniform(0, 100), 2))
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    cutoff = f"2024-01-{rng.randrange(2, 28):02d}"
    inc = {
        r.last_op: (r.n_users, r.sum_last_value)
        for r in ivm_refresh_typestats(ev, cutoff=cutoff).collect()
    }
    full = {
        r.last_op: (r.n_users, r.sum_last_value)
        for r in apply_changes(ev)
        .groupBy("last_op")
        .agg(
            F.count("*").alias("n_users"),
            F.round(
                F.sum(F.col("last_value").cast("decimal(18,4)")).cast("double"),
                4,
            ).alias("sum_last_value"),
        )
        .collect()
    }
    assert inc == full, (seed, cutoff, inc, full)


@settings(max_examples=5, deadline=None)
@given(seed=st.integers(0, 10_000))
@pytest.mark.slow
def test_ols_and_abc_partition_invariance(spark, seed):
    """Exact sufficient statistics make the OLS fit identical under any
    repartitioning; exact decimal addition makes the bucketed ABC
    cumulative shares identical too."""
    import random

    from pyspark.sql import functions as F

    from binlog_avro_comparator_spark.operators.analytics import (
        abc_classes,
        value_trend_ols,
    )

    rng = random.Random(seed)
    rows = [
        (i, f"2024-01-{rng.randrange(1, 29):02d} {rng.randrange(24):02d}:00:00",
         rng.choice(["a", "b"]), round(rng.uniform(0, 500), 2))
        for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    base = sorted(map(tuple, value_trend_ols(ev).collect()))
    shuf = sorted(map(tuple, value_trend_ols(ev.repartition(13)).collect()))
    assert base == shuf, seed
    orders = spark.createDataFrame(
        [(i % 37, round(rng.uniform(1, 9999), 2)) for i in range(300)],
        "o_custkey long, o_totalprice double",
    )
    a1 = sorted(map(tuple, abc_classes(orders).collect()))
    a2 = sorted(map(tuple, abc_classes(orders.repartition(11)).collect()))
    assert a1 == a2, seed


@settings(max_examples=5, deadline=None)
@given(seed=st.integers(0, 10_000))
@pytest.mark.slow
def test_prefix_filter_complete_on_random_corpora(spark, seed):
    """THE completeness property: on random corpora with overlapping
    vocabulary, the prefix-filter join returns exactly the brute-force
    threshold pairs -- no qualifying pair may ever be pruned."""
    import random

    from binlog_avro_comparator_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_pairs,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(25)]  # small vocab -> heavy overlap
    docs = []
    for i in range(24):
        n = rng.randrange(8, 30)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant one near-copy so the threshold set is non-trivially nonempty
    docs.append((100, docs[0][1]))
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in prefix_filter_pairs(d).collect()
    }
    brute = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in jaccard_pairs(d, max_df=100_000)
        .filter("jaccard >= 0.5")
        .collect()
    }
    assert got == brute, (seed, got.keys() ^ brute.keys())


@pytest.mark.parametrize("seed", [11, 12, 13])
@pytest.mark.slow
def test_closure_matches_brute_reachability_and_conserves(spark, seed):
    """closure_pairs == brute undirected transitive closure on random
    edge sets, and the cap CONSERVES: capped pairs + overflow's
    n_pairs_suppressed == the uncapped pair count (no component ever
    silently vanishes)."""
    import random

    from binlog_avro_comparator_spark.operators.dedup import (
        closure_overflow,
        closure_pairs,
    )

    rng = random.Random(seed)
    nodes = list(range(30))
    edges = set()
    for _ in range(25):
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    e = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")

    # brute: union-find over the edge list
    parent = {n: n for n in nodes}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent[find(a)] = find(b)
    comps: dict[int, set] = {}
    touched = {n for ab in edges for n in ab}
    for n in touched:
        comps.setdefault(find(n), set()).add(n)
    brute = {
        (a, b)
        for members in comps.values()
        for a in members
        for b in members
        if a < b
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in closure_pairs(docs, cap=10_000, edges=e).collect()
    }
    assert got == brute, (seed, got ^ brute)

    cap = 4
    capped = closure_pairs(docs, cap=cap, edges=e).count()
    suppressed = sum(
        r.n_pairs_suppressed
        for r in closure_overflow(docs, cap=cap, edges=e).collect()
    )
    assert capped + suppressed == len(brute), (seed, capped, suppressed)


def test_prefix_filter_complete_at_float_hazard_threshold(spark):
    """Completeness at a threshold whose IEEE product overshoots the
    exact integer (0.56 * 25 = 14.000000000000002): a pair with Jaccard
    exactly 14/25 = 0.56 sits ON the threshold and must be returned --
    a plain ceil() in the length window would demand 15 shared tokens
    and silently prune it (the round-7 review finding)."""
    from binlog_avro_comparator_spark.operators.dedup import (
        containment_pairs,
        prefix_filter_pairs,
    )

    # k=3 word shingles: 25 distinct trigrams needs 27 words etc.; use
    # synthetic single-token "words" spaced so trigram counts are exact
    a_words = [f"w{i}" for i in range(27)]      # 25 trigrams
    b_words = [f"w{i}" for i in range(16)]      # 14 trigrams, all in A
    d = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))],
        "doc_id long, text string",
    )
    got = prefix_filter_pairs(d, threshold=0.56).collect()
    assert len(got) == 1 and got[0].n_intersect == 14 and got[0].n_union == 25
    # containment: 14/14 of B's shingles inside A at a hazard threshold
    c = {(r.doc_src, r.doc_dst) for r in containment_pairs(d, threshold=0.56).collect()}
    assert (2, 1) in c


@settings(max_examples=6, deadline=None)
@given(seed=st.integers(0, 10_000))
@pytest.mark.slow
def test_bpe_train_matches_textbook_reference(spark, seed):
    """bpe_train against a pure-Python Sennrich reference on random
    tiny corpora: identical merge sequence (count argmax with
    lexicographic ties) AND identical greedy left-to-right application
    -- the property the unrolled SQL oracle also certifies, here
    across adversarial word shapes (runs like 'aaaa' where overlap
    handling bites)."""
    import random

    from binlog_avro_comparator_spark.operators.textstats import bpe_train

    rng = random.Random(seed)
    words = [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 6)))
        for _ in range(rng.randint(1, 8))
    ]
    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + rng.randint(1, 3)

    def ref_bpe(freqs: dict[str, int], n_merges: int):
        vocab = {w: list(w) for w in freqs}
        merges = []
        for rank in range(1, n_merges + 1):
            counts: dict[tuple[str, str], int] = {}
            for w, syms in vocab.items():
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + freqs[w]
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            (l, r), c = best
            merges.append((rank, l, r, c))
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
        return merges

    docs = spark.createDataFrame(
        [(i, " ".join([w] * n)) for i, (w, n) in enumerate(freqs.items())],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=4).collect()]
    assert got == ref_bpe(freqs, 4), (seed, freqs)


def test_bpe_safe_batch_prefix_rules():
    """_bpe_safe_batch (r12): the batch is the provably-order-stable
    prefix -- stops at a symbol conflict, stops when a candidate's
    count does not strictly exceed every affected/invisible count, and
    respects the remaining-merge budget."""
    from collections import namedtuple

    from binlog_avro_comparator_spark.operators.textstats import (
        _bpe_safe_batch,
    )

    R = namedtuple("R", "l r c")
    # disjoint, well-separated counts: all three commit
    cand = [R("a", "b", 100), R("c", "d", 50), R("e", "f", 20)]
    assert _bpe_safe_batch(cand, 32, 8) == [
        ("a", "b", 100), ("c", "d", 50), ("e", "f", 20)
    ]
    # symbol conflict stops the batch at the conflicting candidate
    cand = [R("a", "b", 100), R("b", "c", 90), R("d", "e", 80)]
    assert _bpe_safe_batch(cand, 32, 8) == [("a", "b", 100)]
    # a later candidate must STRICTLY exceed the best count that
    # shares a symbol with the selected set (that count may have
    # moved): ("d","e",60) ties the affected ("b","x",60) -> stop
    cand = [R("a", "b", 100), R("b", "x", 60), R("d", "e", 60)]
    assert _bpe_safe_batch(cand, 32, 8) == [("a", "b", 100)]
    # ...but a strictly larger disjoint candidate BEFORE the affected
    # one commits
    cand = [R("a", "b", 100), R("d", "e", 70), R("b", "x", 60)]
    assert _bpe_safe_batch(cand, 32, 8) == [
        ("a", "b", 100), ("d", "e", 70)
    ]
    # truncated window: the invisible tail (<= the k-th count) bounds
    # every later candidate, so a tie with the floor stops the batch
    cand = [R("a", "b", 5), R("c", "d", 5)]
    assert _bpe_safe_batch(cand, 2, 8) == [("a", "b", 5)]
    # same counts, untruncated window (k=32): ties among UNAFFECTED
    # candidates are safe -- the sort order IS greedy's tie order
    assert _bpe_safe_batch(cand, 32, 8) == [("a", "b", 5), ("c", "d", 5)]
    # budget caps the prefix
    cand = [R("a", "b", 100), R("c", "d", 50), R("e", "f", 20)]
    assert _bpe_safe_batch(cand, 32, 2) == [
        ("a", "b", 100), ("c", "d", 50)
    ]
    # a self-pair ends the batch: {'aaa' x 100, 'bc' x 90} counts
    # ('a','a',200) then ('b','c',90), but after ('a','a') the created
    # ('aa','a') has count 100, so sequential greedy's second merge is
    # ('aa','a',100), not ('b','c',90)
    cand = [R("a", "a", 200), R("b", "c", 90)]
    assert _bpe_safe_batch(cand, 32, 8) == [("a", "a", 200)]
    assert _bpe_safe_batch([R("x", "y", 300), *cand], 32, 8) == [
        ("x", "y", 300), ("a", "a", 200)
    ]
