"""Seeded inputs and expected results for the benchmark workloads.

Everything a run reads is generated here from ``--seed``, with the
statistics of the test corpus the package is verified on (``events`` and
``documents``, seed 42; measured on its sf0.1 tables):

- ``events``: ids 0..n-1 in event-time order, exponential gaps with a
  mean of 25.92 s, 1,500 users (ids 0-1499) drawn uniformly, five event
  types at 19.8-20.3% each, ``value`` exponential with mean 49.87
  rounded to cents, ``props`` ``{"k": 0..99}`` uniform;
- ``documents``: a 30-word vocabulary drawn uniformly, 10-100 words per
  document (uniform; mean 54.1), ``lang`` en 41.2% and zh / es / fr / de
  14.0-15.1% each, ``source`` ``src<doc_id % 20>``, and 5% of documents
  a copy of another document's text with `` dup`` appended (the near
  duplicates the dedup stages exist for).

At 100,000 events the CDC derivation of a generated feed lands within
about 1% of the sf0.1 corpus on every counter (matched 48,868 vs 48,793,
binlog-only 9,716 vs 9,628, avro-only 4,577 vs 4,571, seed 1).  The text
check and the curation run at the corpus's sf0.01 sizes (10,000 events,
500 documents); the replay's 4,000 events in two micro-batches give
~2,000 events a batch, between a 16-batch replay's per-batch traffic at
sf0.01 (625) and at sf0.1 (6,250).  The CDC derivation is the package's DuckDB twin
(``oracle.CDC_CTES`` and the registry's oracle SQL), so inputs and
expectations come from one certified definition while the Spark engine
under test only ever sees rendered files.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
MEAN_GAP_S = 25.92
MEAN_VALUE = 49.87
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def events_table(seed: int, n: int, tz: str | None = None) -> pa.Table:
    """``n`` events with ids 0..n-1 in event-time order.  ``tz="UTC"``
    gives the zoned timestamp Spark reads as TIMESTAMP; DuckDB gets the
    naive one so its date functions need no time-zone extension."""
    rng = np.random.default_rng(seed)
    ts = EPOCH_US + np.cumsum(rng.exponential(MEAN_GAP_S * 1e6, n)).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz=tz)),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(MEAN_VALUE, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _duck(events: pa.Table) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("events", events)
    return con


def _rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------------------
# CDC check: parser-text binlog dumps + union-wrapped Avro JSONL


class TextCheckFeed:
    """One seeded feed rendered once; every op gets its own copy under a
    fresh tag.  The tag renames the binlog files (and the Avro side's
    ``binlog_file`` to match) and the GTID source id on both sides, so
    each op reads new paths holding new bytes, while the findings map
    one-to-one onto the oracle's."""

    def __init__(self, seed: int, n_events: int):
        from binlog_avro_comparator_spark.oracle import (
            CDC_CTES,
            cdc_findings,
            cdc_summary,
        )

        events = events_table(seed, n_events)
        con = _duck(events)
        binlog = _rows(
            con,
            f"WITH {CDC_CTES} SELECT * FROM binlog_events_cdc "
            "WHERE binlog_file <> '' ORDER BY binlog_file, line_no",
        )
        self.files: dict[str, str] = {}
        by_file: dict[str, list[str]] = {}
        for r in binlog:
            by_file.setdefault(r["binlog_file"], []).append(_parser_text_event(r))
        for name, events_text in by_file.items():
            self.files[name] = "".join(events_text)
        avro = _rows(
            con, f"WITH {CDC_CTES} SELECT * FROM avro_rows_cdc ORDER BY avro_line_no"
        )
        self.avro_jsonl = "".join(json.dumps(_wrap_avro(r)) + "\n" for r in avro)
        self.n_binlog_events = len(binlog)
        self.n_avro_records = len(avro)
        self.findings = Counter(tuple(r.values()) for r in _rows(con, cdc_findings()))
        self.summary = _rows(con, cdc_summary())[0]
        con.close()

    @property
    def items(self) -> int:
        return self.n_binlog_events + self.n_avro_records

    def write(self, root: str, tag: str) -> tuple[str, str, int]:
        """Write the op copy; returns (binlog_text_dir, avro_jsonl, bytes)."""
        text_dir = os.path.join(root, "binlog_text")
        os.makedirs(text_dir)
        for name, text in self.files.items():
            with open(os.path.join(text_dir, _rename(name, tag) + ".txt"), "w") as f:
                f.write(_retag(text, tag))
        avro_path = os.path.join(root, "avro_rows.json")
        with open(avro_path, "w") as f:
            f.write(_retag(self.avro_jsonl, tag).replace('"mysql-bin.', f'"mysql-bin-{tag}.'))
        return text_dir, avro_path, dir_bytes(root)

    def expected_findings(self, tag: str) -> Counter:
        return Counter(
            (kind, _rename(file, tag), pos, _retag(detail, tag), counted)
            for (kind, file, pos, detail, counted), n in self.findings.items()
            for _ in range(n)
        )


def _rename(binlog_file: str, tag: str) -> str:
    return binlog_file.replace("mysql-bin.", f"mysql-bin-{tag}.")


def _retag(text: str, tag: str) -> str:
    return text.replace("uuid-0:", f"uuid-{tag}:")


def _parser_text_event(r: dict) -> str:
    """One derived binlog event in the go-binlogparser text layout
    (the layout ``fixtures.generate_parser_text_lines`` renders)."""
    et = r["event_type"]
    header = et + "Event" if et in ("XID", "Query", "GTID") else et
    ict = r["immediate_commmit_timestamp"]
    return (
        f"=== {header} ===\n"
        f"Date: {r['timestamp'].replace('T', ' ').removesuffix('Z')}\n"
        f"Log position: {r['log_position']}\n"
        f"Schema: {r['schema']}\n"
        f"Table: {r['table']}\n"
        f"GTID_NEXT: {r['gtid_next']}\n"
        + (f"Immediate commmit timestamp: 0 ({ict})\n" if ict is not None else "--\n")
        + "--\n"
    )


def _wrap_avro(r: dict) -> dict:
    def w(v, key):
        return None if v is None else {key: v}

    return {
        "source_timestamp": r["source_timestamp"],
        "source_metadata": {
            "database": r["database"],
            "table": r["table"],
            "change_type": w(r["change_type"], "string"),
            "gtid": w(r["gtid"], "string"),
            "binlog_file": w(r["binlog_file"], "string"),
            "binlog_position": w(r["binlog_position"], "long"),
            "is_deleted": w(r["is_deleted"], "boolean"),
            "primary_keys": [r["database"], r["table"]],
        },
    }


# --------------------------------------------------------------------------
# guarded fold replay: binary binlogs (static side) + event-time chunks

_PAYLOAD_SQL = """
SELECT b.*,
  CASE WHEN e.event_type IN ('click', 'view', 'purchase') THEN e.event_id % 100000 END AS order_id,
  CASE WHEN e.event_type IN ('click', 'view', 'purchase') AND e.event_id % 43 <> 6
       THEN 'cust-' || CAST(e.user_id % 1000 AS VARCHAR) END AS customer_name,
  CASE WHEN e.event_type IN ('click', 'view', 'purchase')
       THEN 'prod-' || CAST(e.event_id % 97 AS VARCHAR) END AS product_name,
  CASE WHEN e.event_type IN ('click', 'view', 'purchase') THEN 1 + e.event_id % 10 END AS quantity,
  CASE WHEN e.event_type IN ('click', 'view', 'purchase') THEN epoch_ms(e.ts) END AS order_timestamp,
  CASE WHEN e.event_type IN ('click', 'view', 'purchase') THEN 6 + e.event_id % 10 END AS before_quantity,
  CASE WHEN e.event_type IN ('click', 'view', 'purchase') THEN epoch_ms(e.ts) - 1000 END
    AS before_order_timestamp
FROM binlog_events_cdc b JOIN events e ON e.event_id = b.line_no
WHERE b.binlog_file <> ''
ORDER BY b.binlog_file, b.line_no
"""

GUARDED_COLUMNS = (
    "binlog_file", "binlog_position", "column", "binlog_value", "avro_value", "status",
)


class ReplayFeed:
    """The replay's event feed, its binary binlog side and the expected
    guarded diff (the registry's DuckDB twin of the batch
    ``payload_diff_column_guard`` over the full feed)."""

    def __init__(self, seed: int, n_events: int):
        from binlog_avro_comparator_spark.oracle import CDC_CTES
        from binlog_avro_comparator_spark.plans.registry import oracle_sql

        self.events = events_table(seed, n_events, tz="UTC")
        con = _duck(events_table(seed, n_events))
        self.binlog_rows = _rows(con, f"WITH {CDC_CTES} {_PAYLOAD_SQL}")
        sql = oracle_sql()["cdc_payload_diff_guarded_stream"]
        self.expected = Counter(
            tuple(r[c] for c in GUARDED_COLUMNS) for r in _rows(con, sql)
        )
        con.close()
        self.seed = seed

    def write_binlogs(self, root: str) -> str:
        """Binary v4 segments, CRC32 on even-numbered ones, each closed
        by a ROTATE naming its successor (the package's own fixture
        shape); returns the directory."""
        from binlog_avro_comparator_spark.sources.binlog_binary import encode_binlog_file

        os.makedirs(root)
        by_file: dict[str, list[dict]] = {}
        for r in self.binlog_rows:
            by_file.setdefault(r["binlog_file"], []).append(r)
        names = sorted(by_file)
        for i, name in enumerate(names):
            nxt = names[i + 1] if i + 1 < len(names) else None
            blob = encode_binlog_file(
                by_file[name], checksum=int(name[-1]) % 2 == 0, next_file=nxt
            )
            with open(os.path.join(root, name), "wb") as f:
                f.write(blob)
        return root

    def write_chunks(self, root: str, n_chunks: int, op: int) -> int:
        """The feed cut into ``n_chunks`` event-time-ordered parquet files,
        each cut point jittered by up to 5% of the feed around the even
        split (different for every op), with staggered mtimes so a
        one-file-per-trigger stream replays them in order.  Returns the
        bytes written.  Near-even chunks keep the per-batch work, and the
        state versions the fold retains, the same from op to op."""
        rng = np.random.default_rng([self.seed, op])
        n = self.events.num_rows
        even = np.arange(1, n_chunks) / n_chunks
        cuts = (n * (even + rng.uniform(-0.05, 0.05, n_chunks - 1))).astype(int)
        bounds = [0, *cuts.tolist(), n]
        os.makedirs(root)
        for c in range(n_chunks):
            path = os.path.join(root, f"chunk_{c:02d}.parquet")
            pq.write_table(self.events.slice(bounds[c], bounds[c + 1] - bounds[c]), path)
            os.utime(path, (1_700_000_000 + c, 1_700_000_000 + c))
        return dir_bytes(root)


# --------------------------------------------------------------------------
# corpus curation: a documents parquet

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
N_SOURCES = 20
DUP_FRAC = 0.05


def documents_table(seed: int, n: int) -> pa.Table:
    """``n`` documents with ids 0..n-1 (see the module docstring)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    originals = list(texts)
    for i in np.flatnonzero(rng.random(n) < DUP_FRAC):
        j = int(rng.integers(0, n - 1))
        texts[i] = originals[j + (j >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


class CurateFeed:
    """One seeded corpus; every op gets it as a fresh parquet file with
    the rows in an order of its own (the stages key on ``doc_id``, not
    on row order, so the survivors do not depend on it).

    ``expected`` is the curation recipe composed from the registry's
    DuckDB twins of each stage, in the order ``curation_survivors``
    composes them: Gopher rules and novelty (scored over the whole
    corpus), then repetition, near-dup canonicalization and
    contamination over what is left, the benchmark drop, and span
    trimming over the survivors."""

    def __init__(self, seed: int, n_docs: int, recipe: dict):
        self.docs = documents_table(seed, n_docs)
        self.seed = seed
        self.expected, self.stages = self._expect(**recipe)

    def write(self, path: str, op: int) -> int:
        rng = np.random.default_rng([self.seed, op])
        os.makedirs(os.path.dirname(path))
        pq.write_table(self.docs.take(rng.permutation(self.docs.num_rows)), path)
        return os.path.getsize(path)

    def _expect(self, min_novelty, max_repetition, max_contamination, trim_spans):
        from binlog_avro_comparator_spark.plans.registry import oracle_sql

        sql = oracle_sql()
        con = duckdb.connect()

        def ids(name: str, docs: pa.Table, where: str) -> set[int]:
            con.register("documents", docs)
            return {r[0] for r in con.execute(f"SELECT doc_id FROM ({sql[name]}) WHERE {where}").fetchall()}

        def keep(docs: pa.Table, keep_ids: set[int]) -> pa.Table:
            mask = np.isin(docs.column("doc_id").to_numpy(), sorted(keep_ids))
            return docs.filter(pa.array(mask))

        docs = self.docs
        stages = {"documents": docs.num_rows}
        stale = ids("doc_shingle_novelty", docs, f"novelty < {min_novelty}")
        docs = keep(docs, ids("doc_gopher_quality", docs, "passes_gopher"))
        stages["gopher"] = docs.num_rows
        docs = keep(docs, set(docs.column("doc_id").to_pylist()) - stale)
        stages["novelty"] = docs.num_rows
        rep_ok = ids("doc_repetition", docs, f"repetition_ratio <= {max_repetition}")
        canonical = ids("dedup_keep_canonical", docs, "true")
        bad = ids("doc_contamination", docs, f"contamination > {max_contamination}")
        stages["repetition"] = len(rep_ok)
        stages["keep_canonical"] = len(canonical & rep_ok)
        docs = keep(docs, {i for i in canonical & rep_ok - bad if i >= 10})
        stages["contamination_and_benchmark"] = docs.num_rows
        con.register("documents", docs)
        trimmed = dict(con.execute(f"SELECT doc_id, text FROM ({_span_removal(sql, trim_spans)})").fetchall())
        con.close()
        rows = docs.to_pylist()
        stages["trimmed_docs"] = sum(trimmed[r["doc_id"]] != r["text"] for r in rows)
        return Counter(
            (r["doc_id"], trimmed[r["doc_id"]], r["lang"], r["source"], r["n_chars"])
            for r in rows
        ), stages


def _span_removal(sql: dict, k: int) -> str:
    """The span-removal twin, written for 20-word spans, for ``k``."""
    out = sql["doc_span_removal"]
    for a, b in (
        ("len(w) >= 20", f"len(w) >= {k}"),
        ("len(w) - 19", f"len(w) - {k - 1}"),
        ("w[i:i+19]", f"w[i:i+{k - 1}]"),
        ("generate_series(0, 19)", f"generate_series(0, {k - 1})"),
    ):
        if a not in out:
            raise ValueError(f"doc_span_removal no longer contains {a!r}")
        out = out.replace(a, b)
    return out
