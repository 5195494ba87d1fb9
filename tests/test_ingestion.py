"""Golden tests for ingestion: parser-text sessionization (P1-P9),
JSONL readers (S7/S8), avro union unwrap/wrap (R1).

Fixture text follows FIXTURES.md F-3, covering every branch of
/root/reference/json_parser.go: blank/'--' noise, pre-header k:v lines,
unparseable Date fallback, both high-precision timestamp layouts,
in-body 'Event type:' override, 'Event' suffix trimming.
"""

from __future__ import annotations

import json

import pytest

from binlog_avro_comparator_spark.operators.parse import parse_binlog_text
from binlog_avro_comparator_spark.sources.binlog_text import read_parser_text
from binlog_avro_comparator_spark.sources.jsonl import (
    corrupt_count,
    read_avro_jsonl,
    read_binlog_jsonl,
    unwrap_avro,
    wrap_avro,
)

FILE1 = """Orphan line: dropped before any header

=== WriteRowsEventV2 ===
Date: 2025-06-01 12:00:00
Log position: 1234
Schema: mydb
Table: orders
Immediate commmit timestamp: 1748779200123456 (2025-06-01T12:00:00.123456789Z)
--
=== XIDEvent ===
Date: 2025-06-01 12:00:01
Log position: 1290
XID: 42
--
=== GTIDEvent ===
Date: bogus date value
Log position: 1300
GTID_NEXT: uuid:7
Orignal commmit timestamp: 2025-06-01 12:00:01.999999999 +0000 UTC
--
=== TableMapEvent ===
Event type: UpdateRowsEventV2 (subtype)
Log position: 1400
"""

FILE2 = """=== DeleteRowsEventV2 ===
Date: 2025-06-02 08:30:00
Log position: 4
Immediate commmit timestamp: not a timestamp at all
"""


@pytest.fixture(scope="module")
def parsed(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("binlog_text")
    (d / "mysql-bin.000001").write_text(FILE1)
    (d / "mysql-bin.000002").write_text(FILE2)
    lines = read_parser_text(spark, str(d))
    rows = parse_binlog_text(lines).collect()
    return {(r.binlog_file, r.line_no): r for r in rows}


def test_event_count_and_lineage(parsed):
    files = {}
    for (f, _), _r in parsed.items():
        files[f] = files.get(f, 0) + 1
    assert files == {"mysql-bin.000001": 4, "mysql-bin.000002": 1}


def test_write_event_full_parse(parsed):
    r = parsed[("mysql-bin.000001", 1)]
    assert r.event_type == "WriteRowsEventV2"
    assert r.timestamp == "2025-06-01T12:00:00Z"
    # layout (a): extracted substring stored verbatim (nanos preserved)
    assert r.immediate_commmit_timestamp == "2025-06-01T12:00:00.123456789Z"
    assert r.log_position == 1234
    assert r.schema == "mydb" and r.table == "orders"


def test_event_suffix_trimmed_once(parsed):
    assert parsed[("mysql-bin.000001", 2)].event_type == "XID"
    assert parsed[("mysql-bin.000001", 3)].event_type == "GTID"


def test_date_parse_failure_keeps_raw(parsed):
    r = parsed[("mysql-bin.000001", 3)]
    assert r.timestamp is None
    assert r.extra["date"] == "bogus date value"  # raw kept (json_parser.go:85-87)
    assert r.gtid_next == "uuid:7"


def test_mst_layout_reformatted_rfc3339nano(parsed):
    r = parsed[("mysql-bin.000001", 3)]
    # ns truncated to us, trailing zeros trimmed like Go RFC3339Nano
    assert r.orignal_commmit_timestamp == "2025-06-01T12:00:01.999999Z"


def test_body_event_type_overrides_header(parsed):
    r = parsed[("mysql-bin.000001", 4)]
    assert r.event_type == "UpdateRowsEventV2"  # not 'TableMap'


def test_hp_parse_failure_keeps_raw(parsed):
    r = parsed[("mysql-bin.000002", 1)]
    assert r.event_type == "DeleteRowsEventV2"
    assert r.immediate_commmit_timestamp == "not a timestamp at all"
    assert r.log_position == 4


AVRO_LINES = [
    {
        "source_timestamp": 1748779200100,
        "source_metadata": {
            "database": "mydb",
            "table": "orders",
            "change_type": {"string": "INSERT"},
            "gtid": {"string": "uuid:1"},
            "datastream_master_server_uuid": {"string": "u"},
            "datastream_master_server_id": {"long": 1},
            "binlog_file": {"string": "mysql-bin.000001"},
            "binlog_position": {"long": 1234},
            "is_deleted": {"boolean": False},
            "primary_keys": ["order_id"],
        },
        "payload": {
            "order_id": {"int": 7},
            "customer_name": {"string": "c"},
            "product_name": {"string": "p"},
            "quantity": {"int": 2},
            "order_timestamp": {"long": 1748779200000},
        },
    },
    # nulled unions -> Go zero values after unwrap
    {
        "source_timestamp": 1748779200200,
        "source_metadata": {
            "database": "mydb",
            "table": "orders",
            "change_type": None,
            "gtid": None,
            "binlog_file": None,
            "binlog_position": None,
            "is_deleted": None,
            "primary_keys": [],
        },
    },
]


@pytest.fixture(scope="module")
def avro_jsonl_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("avro_jsonl")
    p = d / "avro_rows.json"
    with p.open("w") as f:
        for rec in AVRO_LINES:
            f.write(json.dumps(rec) + "\n")
        f.write("this is not json\n")  # malformed -> corrupt channel
    return str(p)


def test_avro_jsonl_unwrap_and_corrupt(spark, avro_jsonl_path):
    df = read_avro_jsonl(spark, avro_jsonl_path)
    cc = corrupt_count(df).collect()[0]
    assert cc.total_lines == 3 and cc.corrupt_lines == 1
    flat = {r.source_timestamp: r for r in unwrap_avro(df.filter("_corrupt_record is null")).collect()}
    ok = flat[1748779200100]
    assert ok.binlog_file == "mysql-bin.000001" and ok.binlog_position == 1234
    assert ok.change_type == "INSERT" and ok.primary_keys == ["order_id"]
    z = flat[1748779200200]
    # absent wrappers -> Go zero values (compare_timestamps.go:176 relies on this)
    assert z.binlog_file == "" and z.binlog_position == 0
    assert z.change_type == "" and z.is_deleted is False


def test_wrap_roundtrip(spark, avro_jsonl_path):
    df = read_avro_jsonl(spark, avro_jsonl_path).filter("_corrupt_record is null")
    flat = unwrap_avro(df)
    rewrapped = wrap_avro(flat)
    back = unwrap_avro(rewrapped.select("source_timestamp", "source_metadata"))
    a = sorted(flat.select("source_timestamp", "binlog_file", "binlog_position").collect())
    b = sorted(back.select("source_timestamp", "binlog_file", "binlog_position").collect())
    assert a == b


def test_binlog_jsonl_reader(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("binlog_jsonl")
    p = d / "binlog_metadata.json"
    recs = [
        {
            "event_type": "WriteRowsEventV2",
            "timestamp": "2025-06-01T12:00:00Z",
            "immediate_commmit_timestamp": "2025-06-01T12:00:00.123456789Z",
            "log_position": 1234,
            "table": "orders",
            "schema": "mydb",
            "binlog_file": "mysql-bin.000001",
            "xid": 99,  # dynamic tail: ignored by the contract schema
        },
        {"event_type": "XID", "log_position": 1290, "binlog_file": "mysql-bin.000001"},
    ]
    p.write_text("\n".join(json.dumps(r) for r in recs) + "\nnot json\n")
    df = read_binlog_jsonl(spark, str(p))
    cc = corrupt_count(df).collect()[0]
    assert cc.total_lines == 3 and cc.corrupt_lines == 1
    rows = {r.log_position: r for r in df.filter("_corrupt_record is null").collect()}
    assert rows[1234].immediate_commmit_timestamp == "2025-06-01T12:00:00.123456789Z"
    assert rows[1290].event_type == "XID"


def test_binlog_jsonl_ordered_reader_last_line_wins(spark, tmp_path):
    """The ordered JSONL reader supplies a real per-file line ordinal, so
    the last-write-wins dedup resolves duplicate keys to the LATER line
    (the reference's sequential map overwrite, compare_timestamps.go:147)
    -- even when the content tie-breaks would prefer the earlier row."""
    import json

    from binlog_avro_comparator_spark.operators import compare as C
    from binlog_avro_comparator_spark.sources.jsonl import (
        read_binlog_jsonl_ordered,
    )

    def rec(gtid):
        return {
            "event_type": "WriteRowsEventV2",
            "timestamp": "2025-06-01T12:00:00Z",
            "log_position": 1234,
            "binlog_file": "mysql-bin.000001",
            "gtid_next": gtid,
        }

    p = tmp_path / "binlog_metadata.json"
    # 'zzz' first: content tie-breaks sort desc, so reusing log_position
    # as line_no would wrongly keep 'zzz'; the true line order keeps 'aaa'
    p.write_text(json.dumps(rec("zzz")) + "\n" + json.dumps(rec("aaa")) + "\nnot json\n")
    df = read_binlog_jsonl_ordered(spark, str(p))
    assert df.filter("_corrupt_record is not null").count() == 1
    good = df.filter("_corrupt_record is null")
    assert [r.gtid_next for r in good.orderBy("line_no").collect()] == ["zzz", "aaa"]
    bp = C.prepare_binlog(good.drop("_corrupt_record", "orignal_commmit_timestamp"))
    assert [r.gtid_next for r in bp.collect()] == ["aaa"]


def test_binlog_jsonl_ordered_reader_multifile_order(spark, tmp_path):
    """line_no orders across files by file name (version order)."""
    import json

    from binlog_avro_comparator_spark.sources.jsonl import (
        read_binlog_jsonl_ordered,
    )

    d = tmp_path / "jsonl"
    d.mkdir()
    for i, fname in enumerate(["b.json", "a.json"]):
        (d / fname).write_text(
            json.dumps(
                {
                    "event_type": "XID",
                    "log_position": 10 + i,
                    "binlog_file": fname,
                }
            )
            + "\n"
        )
    df = read_binlog_jsonl_ordered(spark, str(d))
    ordered = [r.binlog_file for r in df.orderBy("line_no").collect()]
    assert ordered == ["a.json", "b.json"]


def test_go_json_lines_byte_exact(spark, tmp_path):
    r"""S9 drop-in parity: emitted lines must be byte-identical to the
    reference parser's `json.Marshal(map)` output (json_parser.go:46-51):
    bytewise-sorted keys, P7 ints bare, Date-failure raw under `date`,
    hp timestamps processed, HTML-escaped & < >, in-body `Event type:`
    key never emitted."""
    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text
    from binlog_avro_comparator_spark.sources.jsonl import (
        go_json_lines,
        write_jsonl_go,
    )

    text = [
        "=== WriteRowsEventV2 ===",
        "Date: 2025-06-01 12:00:01",
        "Log position: 5678",
        "Table: orders",
        "Schema: shop",
        "GTID_NEXT: uuid-1:42",
        "XID: 4242",
        'Query: INSERT INTO t VALUES (1 < 2 & 3 > 0, "q\\")',
        "=== AnonymousGTIDEvent ===",
        "Date: not-a-date",
        "Log position: not-a-number",
        "Immediate commmit timestamp: 1749000000123456 (2025-06-01T12:00:00.123456789Z)",
        "Orignal commmit timestamp: 2025-06-01 12:00:00.5 +0000 UTC",
        "Last_committed: 7",
    ]
    lines = spark.createDataFrame(
        [("mysql-bin.000007", i, s) for i, s in enumerate(text)],
        "binlog_file string, line_no long, value string",
    )
    parsed = parse_binlog_text(lines)
    got = [r.value for r in go_json_lines(parsed).orderBy("value").collect()]
    want = [
        # exactly what `go run json_parser.go mysql-bin.000007` prints
        '{"binlog_file":"mysql-bin.000007","date":"not-a-date",'
        '"event_type":"AnonymousGTID",'
        '"immediate_commmit_timestamp":"2025-06-01T12:00:00.123456789Z",'
        '"last_committed":7,"log_position":"not-a-number",'
        '"orignal_commmit_timestamp":"2025-06-01T12:00:00.5Z"}',
        '{"binlog_file":"mysql-bin.000007","event_type":"WriteRowsEventV2",'
        '"gtid_next":"uuid-1:42","log_position":5678,'
        '"query":"INSERT INTO t VALUES (1 \\u003c 2 \\u0026 3 \\u003e 0, \\"q\\\\\\")",'
        '"schema":"shop","table":"orders",'
        '"timestamp":"2025-06-01T12:00:01Z","xid":4242}',
    ]
    assert got == sorted(want)

    out = tmp_path / "parity_out"
    write_jsonl_go(parsed, str(out), mode="overwrite")
    emitted = sorted(
        line
        for p in out.glob("part-*")
        for line in p.read_text().splitlines()
        if line
    )
    assert emitted == sorted(want)


def test_go_json_lines_survives_colliding_kv_keys(spark):
    """kv lines whose normalized keys collide with emitter specials
    ('Timestamp:', 'Binlog file:') must not crash map_concat; the
    special wins (binlog_file exactly like Go's flush-time overwrite)."""
    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text
    from binlog_avro_comparator_spark.sources.jsonl import go_json_lines

    text = [
        "=== XIDEvent ===",
        "Date: 2025-06-01 12:00:01",
        "Timestamp: 999999",
        "Binlog file: spoofed-name.000009",
        "XID: 7",
    ]
    lines = spark.createDataFrame(
        [("real-name.000001", i, s) for i, s in enumerate(text)],
        "binlog_file string, line_no long, value string",
    )
    [row] = go_json_lines(parse_binlog_text(lines)).collect()
    assert row.value == (
        '{"binlog_file":"real-name.000001","event_type":"XID",'
        '"timestamp":"2025-06-01T12:00:01Z","xid":7}'
    )


def test_go_jsonl_emission_reingests_identically(spark, tmp_path):
    """Closure: files emitted by write_jsonl_go are valid input for
    read_binlog_jsonl_ordered and survive the round trip with identical
    contract columns -- the emitted intermediate file is drop-in
    compatible with our own E3 path, like the reference's comparator.sh
    chaining parser output into the comparer."""
    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text
    from binlog_avro_comparator_spark.sources.jsonl import (
        read_binlog_jsonl_ordered,
        write_jsonl_go,
    )

    text = [
        "=== WriteRowsEventV2 ===",
        "Date: 2025-06-01 12:00:01",
        "Log position: 5678",
        "Table: orders",
        "Schema: shop",
        "GTID_NEXT: uuid-1:42",
        "Immediate commmit timestamp: 17490 (2025-06-01T12:00:01.123456789Z)",
        "=== XIDEvent ===",
        "Date: 2025-06-01 12:00:02",
        "Log position: 5700",
        "XID: 99",
    ]
    lines = spark.createDataFrame(
        [("mysql-bin.000002", i, s) for i, s in enumerate(text)],
        "binlog_file string, line_no long, value string",
    )
    parsed = parse_binlog_text(lines)
    out = tmp_path / "emitted"
    write_jsonl_go(parsed, str(out), mode="overwrite")
    back = read_binlog_jsonl_ordered(spark, str(out))
    assert back.filter("_corrupt_record is not null").count() == 0
    cols = [
        "event_type",
        "timestamp",
        "immediate_commmit_timestamp",
        "log_position",
        "table",
        "schema",
        "gtid_next",
        "binlog_file",
    ]
    orig = sorted(tuple(r) for r in parsed.select(*cols).collect())
    rt = sorted(tuple(r) for r in back.select(*cols).collect())
    assert rt == orig


# --- S2: binlog BINARY codec ---------------------------------------------

class TestBinlogBinaryCodec:
    EVS = [
        dict(event_type="WriteRowsEventV2", timestamp="2024-01-01T00:00:07Z",
             immediate_commmit_timestamp="2024-01-01T00:00:07.179575Z",
             log_position=104, schema="db1", table="t2", line_no=1),
        dict(event_type="XID", timestamp="2024-01-01T00:03:52Z",
             immediate_commmit_timestamp=None, log_position=204,
             schema="db0", table="t0", line_no=4),
        dict(event_type="Query", timestamp="2024-01-01T00:06:29Z",
             immediate_commmit_timestamp="2024-01-01T00:06:29.165275Z",
             log_position=304, schema="db0", table="t1", line_no=5),
        dict(event_type="UpdateRowsEventV2", timestamp="2024-01-01T00:08:00Z",
             immediate_commmit_timestamp="2024-01-01T00:08:00.000001Z",
             log_position=404, schema="db1", table="t0", line_no=8),
    ]

    def _roundtrip(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_bytes, encode_binlog_file)

        blob = encode_binlog_file(self.EVS)
        return blob, list(decode_binlog_bytes("mysql-bin.000001", blob))

    def test_roundtrip_fields(self):
        _, rows = self._roundtrip()
        assert [r[2] for r in rows] == [
            "WriteRowsEventV2", "XID", "Query", "UpdateRowsEventV2"]
        # rows event carries TABLE_MAP schema/table; XID neither;
        # Query schema only (what real binlog bytes actually contain)
        assert rows[0][6:8] == ("db1", "t2")
        assert rows[1][6:8] == (None, None)
        assert rows[2][6:8] == ("db0", None)
        # null ict survives the zero-micros encoding
        assert rows[1][4] is None
        assert rows[0][4] == "2024-01-01T00:00:07.179575Z"
        # gtid = fixture SID : line_no+1
        assert rows[0][8].endswith(":2") and rows[3][8].endswith(":9")
        # log positions verbatim from the event headers
        assert [r[5] for r in rows] == [104, 204, 304, 404]

    def test_truncated_tail_stops_without_raising(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_bytes)

        blob, rows = self._roundtrip()
        truncated = list(decode_binlog_bytes("f", blob[:-3]))
        assert len(truncated) == len(rows) - 1

    def test_non_binlog_bytes_yield_nothing(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_bytes)

        assert list(decode_binlog_bytes("f", b"not a binlog at all")) == []

    def test_unknown_event_type_skipped_by_size(self):
        import struct

        from binlog_avro_comparator_spark.sources.binlog_binary import (
            MAGIC, decode_binlog_bytes, encode_binlog_file)

        blob = encode_binlog_file(self.EVS)
        # splice an unknown type-200 event right after the magic+FDE
        fde_end = len(MAGIC) + struct.unpack_from("<I", blob, len(MAGIC) + 9)[0]
        unknown = struct.pack("<IBIIIH", 0, 200, 1, 19 + 5, 0, 0) + b"\x00" * 5
        spliced = blob[:fde_end] + unknown + blob[fde_end:]
        assert len(list(decode_binlog_bytes("f", spliced))) == len(self.EVS)

    def test_distributed_scan_matches_local_decode(self, spark, tmp_path):
        import os

        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_bytes, encode_binlog_file, read_binlog_binary_dir)

        blob = encode_binlog_file(self.EVS)
        d = str(tmp_path)
        for name in ("mysql-bin.000001", "mysql-bin.000002"):
            with open(os.path.join(d, name), "wb") as f:
                f.write(blob)
        got = read_binlog_binary_dir(spark, d).collect()
        assert len(got) == 2 * len(self.EVS)
        one = sorted(
            [r for r in got if r.binlog_file == "mysql-bin.000001"],
            key=lambda r: r.line_no,
        )
        local = list(decode_binlog_bytes("mysql-bin.000001", blob))
        assert [(r.event_type, r.line_no, r.log_position) for r in one] == [
            (t[2], t[1], t[5]) for t in local
        ]


def test_schema_drift_report_flags_unknown_keys(spark):
    """A feed carrying keys beyond the declared D3 contract (here a
    fictional 'Compression type') is surfaced per event type with
    in_contract=false; contract keys report true."""
    from binlog_avro_comparator_spark.operators.parse import (
        parse_binlog_text,
        schema_drift_report,
    )

    text = """=== WriteRowsEventV2 ===
Date: 2025-06-01 12:00:00
Log position: 100
Schema: shop
Table: orders
Compression type: ZSTD
--
=== XIDEvent ===
Date: 2025-06-01 12:00:01
Log position: 200
Xid: 77
--
"""
    lines = spark.createDataFrame(
        [("mysql-bin.000001", i, ln) for i, ln in enumerate(text.splitlines())],
        "binlog_file string, line_no long, value string",
    )
    rep = {
        (r.event_type, r.key): r
        for r in schema_drift_report(parse_binlog_text(lines)).collect()
    }
    assert not rep[("WriteRowsEventV2", "compression_type")].in_contract
    assert rep[("WriteRowsEventV2", "schema")].in_contract
    assert not rep[("XID", "xid")].in_contract  # open tail, not contract
    assert rep[("XID", "date")].in_contract


def test_binlog_binary_malformed_and_57_layout():
    """Decoder robustness: (a) truncated Query/TABLE_MAP bodies skip
    instead of raising; (b) the 42-byte MySQL 5.6/5.7 GTID layout (no
    commit-timestamp fields) still yields gtid_next with ict None."""
    import struct

    from binlog_avro_comparator_spark.sources.binlog_binary import (
        FIXTURE_SID,
        FIXTURE_SID_STR,
        HEADER_LEN,
        MAGIC,
        decode_binlog_bytes,
    )

    def ev(code, payload, log_pos=100):
        return (
            struct.pack(
                "<IBIIIH", 1748779200, code, 1, HEADER_LEN + len(payload),
                log_pos, 0,
            )
            + payload
        )

    gtid_57 = (
        bytes([1]) + FIXTURE_SID + struct.pack("<q", 7)
        + bytes([2]) + struct.pack("<qq", 0, 0)
    )  # 42 bytes, no timestamps
    assert len(gtid_57) == 42
    blob = (
        MAGIC
        + ev(33, gtid_57)                      # GTID_LOG_EVENT, 5.7 form
        + ev(2, b"\x00" * 9)                   # Query with 9-byte body: skip
        + ev(19, b"\x00" * 8)                  # TABLE_MAP 8-byte body: skip
        + ev(30, b"\x00" * 12, log_pos=200)    # WriteRowsV2
    )
    rows = list(decode_binlog_bytes("mysql-bin.000001", blob))
    assert len(rows) == 1  # only the rows event yields
    (_, _, etype, _, ict, log_pos, schema, table, gtid) = rows[0]
    assert etype == "WriteRowsEventV2" and log_pos == 200
    assert gtid == f"{FIXTURE_SID_STR}:7"
    assert ict is None  # 5.7 layout carries no commit timestamp


class TestBinlogChecksum:
    """binlog_checksum=CRC32 (the MySQL 8.0 default): the FDE's
    checksum-algorithm byte arms CRC mode, every later event carries a
    verified 4-byte tail inside event_size that must be stripped before
    body parsing -- otherwise the row-image loop can read the CRC as a
    phantom all-NULL image (round-5 verdict's top latent-wrong-answer
    finding)."""

    def _evs(self):
        # share the payload-bearing fixture (defined just below;
        # resolved at call time, so forward reference is fine)
        return TestBinlogRowImages.EVS

    def test_checksummed_decode_equals_plain_both_tiers(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_bytes, decode_binlog_rows_bytes,
            encode_binlog_file)

        plain = encode_binlog_file(self._evs())
        csum = encode_binlog_file(self._evs(), checksum=True)
        assert csum != plain and len(csum) > len(plain)
        assert list(decode_binlog_bytes("f", csum)) == list(
            decode_binlog_bytes("f", plain))
        assert list(decode_binlog_rows_bytes("f", csum)) == list(
            decode_binlog_rows_bytes("f", plain))

    def test_fde_declares_crc32(self):
        import struct

        from binlog_avro_comparator_spark.sources.binlog_binary import (
            BINLOG_CHECKSUM_ALG_CRC32, MAGIC, _fde_checksum_alg,
            encode_binlog_file)

        csum = encode_binlog_file(self._evs(), checksum=True)
        fde_size = struct.unpack_from("<I", csum, len(MAGIC) + 9)[0]
        fde_body = csum[len(MAGIC) + 19 : len(MAGIC) + fde_size]
        assert _fde_checksum_alg(fde_body) == BINLOG_CHECKSUM_ALG_CRC32
        plain = encode_binlog_file(self._evs())
        p_size = struct.unpack_from("<I", plain, len(MAGIC) + 9)[0]
        assert _fde_checksum_alg(plain[len(MAGIC) + 19 : len(MAGIC) + p_size]) == 0

    def test_crc_mismatch_skips_only_that_event(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_bytes, encode_binlog_file)

        csum = encode_binlog_file(self._evs(), checksum=True)
        good = list(decode_binlog_bytes("f", csum))
        bad = bytearray(csum)
        bad[-10] ^= 0xFF  # corrupt the LAST event's body
        got = list(decode_binlog_bytes("f", bytes(bad)))
        assert len(got) == len(good) - 1
        assert got == good[:-1]

    def test_no_phantom_image_from_crc_tail(self):
        """The exact failure mode the strip prevents: 4 trailing bytes
        starting 0xFF after the last genuine image parse as a phantom
        all-NULL image when NOT stripped (fake tail on a plain file);
        the same event in a checksummed file decodes clean."""
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            MAGIC, _fde, _parse_ts_sec, _rows_payload, _table_map_payload,
            _with_crc, decode_binlog_rows_bytes)

        ts = _parse_ts_sec("2024-01-01T00:00:01Z")
        img = (7, "cust-5", "prod-7", 3, 1704067201000)
        tm = _table_map_payload(ts, "db0", "t1", 104)
        rows_ev = _rows_payload(ts, 30, 104, [img])  # WRITE, one image
        # un-stripped CRC-like tail => phantom all-NULL image is YIELDED
        import struct
        h = list(struct.unpack_from("<IBIIIH", rows_ev, 0))
        h[3] += 4  # event_size grows as if a checksum were inside
        faked = struct.pack("<IBIIIH", *h) + rows_ev[19:] + b"\xff\x00\x00\x00"
        phantom = list(decode_binlog_rows_bytes("f", MAGIC + _fde(ts) + tm + faked))
        assert len(phantom) == 2  # genuine image + the phantom
        assert all(v is None for v in phantom[1][11].values())
        # checksummed file: tail stripped, exactly one genuine image
        blob = MAGIC + b"".join(
            _with_crc(e) for e in (_fde(ts, 1), tm, rows_ev))
        clean = list(decode_binlog_rows_bytes("f", blob))
        assert len(clean) == 1
        assert clean[0][11]["order_id"] == "7"


class TestTypedRowImages:
    """Extended column types (round-6): packed temporals, NEWDECIMAL,
    TEXT/BLOB, CHAR, ENUM, SET through the typed fixture codec
    (TYPED_COLUMNS).  Decode follows the public MySQL row-image
    layouts; encode is the exact inverse, so roundtrip equality pins
    both directions."""

    ROWS = [
        dict(timestamp="2024-03-05T06:07:08Z", log_position=104, line_no=0,
             t_id="7", t_date="2024-03-05", t_year="2024",
             t_dt="2024-03-05 06:07:08.123", t_ts="2024-03-05 06:07:08",
             t_time="-13:05:59", t_dec="-1234567.89", t_text="text-ü-7",
             t_char="c42", t_enum="2", t_set="5",
             t_json='{"k":7,"s":"v-0"}',
             t_u8="200", t_u64="18446744073709551615",
             t_geo="SRID=4326;POINT(13.5 7.25)"),
        dict(timestamp="2024-03-05T06:07:09Z", log_position=204, line_no=1,
             t_id="-2147483648", t_date="1999-12-31", t_year="0000",
             t_dt="9999-12-31 23:59:59.999", t_ts="1970-01-01 00:00:00",
             t_time="838:59:59", t_dec="0.00", t_text=None,
             t_char="", t_enum="1", t_set="0",
             t_json='{"a":[1,true,null,"x",1.5],"n":-70000,"o":{"b":false}}',
             t_u8="128", t_u64="9223372036854775808",
             t_geo="SRID=0;0x0102030405"),  # non-point: hex fallback
    ]

    def _decode(self, checksum=False):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_rows_bytes, encode_typed_binlog_file)

        blob = encode_typed_binlog_file(self.ROWS, checksum=checksum)
        return list(decode_binlog_rows_bytes("mysql-bin.000000", blob))

    def test_roundtrip_all_types(self):
        for checksum in (False, True):
            got = self._decode(checksum)
            assert len(got) == 2
            for r, exp in zip(got, self.ROWS):
                assert r[4] == "WriteRowsEventV2" and r[3] == "after"
                pay = r[11]
                for k, v in exp.items():
                    if k in ("timestamp", "log_position", "line_no"):
                        continue
                    assert pay[k] == v, (checksum, k, pay[k], v)

    def test_schema_table_and_names_from_table_map(self):
        got = self._decode()
        assert (got[0][8], got[0][9]) == ("tdb", "typed")
        assert set(got[0][11]) == {
            "t_id", "t_date", "t_year", "t_dt", "t_ts", "t_time",
            "t_dec", "t_text", "t_char", "t_enum", "t_set", "t_json",
            "t_u8", "t_u64", "t_geo"}

    def test_signedness_tlv_controls_integer_reading(self):
        """The same 8 bytes read as 2^63 unsigned (SIGNEDNESS bit set)
        and as -2^63 signed (bit clear) -- and t_id stays signed while
        t_u64 reads unsigned within one table map."""
        got = self._decode()
        assert got[0][11]["t_u64"] == "18446744073709551615"
        assert got[1][11]["t_u64"] == "9223372036854775808"
        assert got[1][11]["t_id"] == "-2147483648"  # signed neighbor
        assert got[0][11]["t_u8"] == "200"

    def test_decimal_codec_exhaustive_shapes(self):
        """decimal.c layout across group boundaries: scales/precisions
        spanning partial + full 9-digit groups, both signs."""
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            _decode_decimal, _encode_decimal)

        cases = [
            ("0", 1, 0), ("-5", 3, 0), ("123456789", 9, 0),
            ("1234567890", 10, 0), ("0.1", 2, 1), ("-0.000001", 7, 6),
            ("123456789012345678.123456789", 27, 9),
            ("-999999999999999999.999999999", 27, 9),
            ("42.50", 12, 2), ("-42.05", 12, 2),
            ("0.123456789012", 13, 12),
        ]
        for s, prec, scale in cases:
            blob = _encode_decimal(s, prec, scale)
            out, q = _decode_decimal(blob, 0, prec, scale)
            assert q == len(blob)
            assert out == s, (s, prec, scale, out)

    def test_time2_fractional_and_negative(self):
        """TIME2 with fsp 3: the negative-with-fraction storage
        convention (intpart borrows, fraction complements)."""
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            MYSQL_TYPE_TIME2, _decode_value, _encode_typed_value)

        for s in ("00:00:00.001", "-00:00:00.001", "812:13:14.999",
                  "-812:13:14.999", "00:00:01.000"):
            blob = _encode_typed_value(MYSQL_TYPE_TIME2, bytes([3]), s)
            out, q = _decode_value(blob, 0, MYSQL_TYPE_TIME2, 3)
            assert q == len(blob) and out == s, (s, out)

    def test_bit_and_legacy_temporal_codecs(self):
        """BIT (big-endian, [bits%8][bytes] metadata) and the legacy
        pre-5.6.4 temporal formats: TIMESTAMP (4-byte epoch), DATETIME
        (YYYYMMDDHHMMSS integer), TIME (signed HHMMSS integer)."""
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            MYSQL_TYPE_BIT, MYSQL_TYPE_DATETIME, MYSQL_TYPE_TIME,
            MYSQL_TYPE_TIMESTAMP, _decode_value, _encode_typed_value)

        cases = [
            (MYSQL_TYPE_BIT, bytes([4, 1]), "4095"),   # BIT(12)
            (MYSQL_TYPE_BIT, bytes([0, 1]), "255"),    # BIT(8)
            (MYSQL_TYPE_TIMESTAMP, b"", "2024-03-05 06:07:08"),
            (MYSQL_TYPE_DATETIME, b"", "9999-12-31 23:59:59"),
            (MYSQL_TYPE_TIME, b"", "-813:05:59"),
            (MYSQL_TYPE_TIME, b"", "00:00:01"),
        ]
        for typ, meta_bytes, s in cases:
            blob = _encode_typed_value(typ, meta_bytes, s)
            # decode meta = the TABLE_MAP LE 2-byte combine for BIT
            meta_int = (
                meta_bytes[0] | (meta_bytes[1] << 8) if meta_bytes else 0
            )
            out, q = _decode_value(blob, 0, typ, meta_int)
            assert q == len(blob) and out == s, (typ, s, out)

    def test_timestamp2_full_microseconds(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            MYSQL_TYPE_TIMESTAMP2, _decode_value, _encode_typed_value)

        s = "2024-03-05 06:07:08.123456"
        blob = _encode_typed_value(MYSQL_TYPE_TIMESTAMP2, bytes([6]), s)
        out, q = _decode_value(blob, 0, MYSQL_TYPE_TIMESTAMP2, 6)
        assert q == len(blob) and out == s

    def test_unknown_type_still_skips_whole_event(self):
        """A TABLE_MAP declaring a type the decoder doesn't know (code
        243, unassigned) keeps the warn-and-skip contract."""
        from binlog_avro_comparator_spark.sources import binlog_binary as bb

        orig, orig_enc = bb.TYPED_COLUMNS, bb._encode_typed_value

        def fake_enc(typ, meta, v):
            return b"\x01x" if typ == 243 else orig_enc(typ, meta, v)

        try:
            bb.TYPED_COLUMNS = orig[:1] + [("t_mystery", 243, bytes([4]))]
            bb._encode_typed_value = fake_enc
            blob = bb.encode_typed_binlog_file(
                [dict(timestamp="2024-03-05T06:07:08Z", log_position=104,
                      line_no=0, t_id="7", t_mystery="x")])
        finally:
            bb.TYPED_COLUMNS, bb._encode_typed_value = orig, orig_enc
        assert list(bb.decode_binlog_rows_bytes("f", blob)) == []

    def test_json_codec_shapes(self):
        """Binary JSON roundtrip across value types: nested containers,
        literals, int widths, double, unicode strings, strings > 127
        bytes (varlen continuation), top-level scalars and arrays; a
        LARGE-format container (4-byte offsets, inlined int32) decodes
        too even though the fixture encoder only writes small."""
        import json
        import struct

        from binlog_avro_comparator_spark.sources.binlog_binary import (
            _decode_json_blob, _encode_json_doc)

        cases = [
            {"k": 7, "s": "v-0"},
            {"a": [1, True, None, "x", 1.5], "n": -70000,
             "big": 9_000_000_000, "o": {"b": False}},
            [],
            {},
            [1, [2, [3]]],
            "just a string",
            {"u": "héllo-ü", "long": "x" * 300},
            42,
            None,
        ]
        for v in cases:
            out = _decode_json_blob(_encode_json_doc(v))
            assert out == json.dumps(v, separators=(",", ":"),
                                     ensure_ascii=False), (v, out)
        # hand-built LARGE array [7, "hi"]: count/size/offsets 4-byte
        payload = bytearray()
        payload += (2).to_bytes(4, "little")          # count
        entries_end = 8 + 2 * 5
        s_off = entries_end
        tail = bytes([2]) + b"hi"                     # varlen 2 + bytes
        payload += (entries_end + len(tail)).to_bytes(4, "little")  # size
        payload += bytes([0x07]) + (7).to_bytes(4, "little")        # inline int32
        payload += bytes([0x0C]) + s_off.to_bytes(4, "little")      # offset str
        payload += tail
        assert _decode_json_blob(bytes([0x03]) + bytes(payload)) == '[7,"hi"]'
        # malformed: truncated container -> None (warn-and-skip upstream)
        assert _decode_json_blob(bytes([0x00, 0x02])) is None


class TestTransactionPayload:
    """Transaction_payload_event (MySQL 8.0.20+ compressed
    transactions): NONE-compression payloads unwrap transparently in
    both decode tiers; zstd decodes when a codec is importable, else
    it is a COUNTED skip (stats + the queryable skip-stats channel),
    never a silent one."""

    def _wrapped_and_plain(self, checksum=False):
        """(wrapped_blob, plain_blob): one WRITE transaction either
        inline or inside a NONE-compression Transaction_payload."""
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            FIXTURE_SID, MAGIC, _fde, _gtid, _parse_ts_sec, _rows_payload,
            _table_map_payload, _with_crc, tx_payload_event)

        ts = _parse_ts_sec("2024-01-01T00:00:01Z")
        img = (7, "cust-5", "prod-7", 3, 1704067201000)
        gtid = _gtid(ts, FIXTURE_SID, 1, 0, 104)
        inner = _table_map_payload(ts, "db0", "t1", 104) + _rows_payload(
            ts, 30, 104, [img])
        evs_plain = [gtid, _table_map_payload(ts, "db0", "t1", 104),
                     _rows_payload(ts, 30, 104, [img])]
        evs_wrapped = [gtid, tx_payload_event(ts, 104, inner)]
        alg = 1 if checksum else None
        mk = (lambda evs: MAGIC + b"".join(
            _with_crc(e) for e in [_fde(ts, alg)] + evs)) if checksum else (
            lambda evs: MAGIC + b"".join([_fde(ts, alg)] + evs))
        return mk(evs_wrapped), mk(evs_plain)

    def test_none_compression_unwraps_identically(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_bytes, decode_binlog_rows_bytes)

        for checksum in (False, True):
            wrapped, plain = self._wrapped_and_plain(checksum)
            assert list(decode_binlog_bytes("f", wrapped)) == list(
                decode_binlog_bytes("f", plain))
            rows = list(decode_binlog_rows_bytes("f", wrapped))
            assert rows == list(decode_binlog_rows_bytes("f", plain))
            assert rows and rows[0][11]["order_id"] == "7"

    def test_zstd_roundtrip_or_counted_skip(self):
        """With a zstd codec importable the compressed payload decodes
        to the same rows; without one it is a counted skip."""
        from binlog_avro_comparator_spark.sources import binlog_binary as bb

        try:
            import zstandard  # noqa: F401
            have_zstd = True
        except ImportError:
            have_zstd = False
        wrapped, plain = self._wrapped_and_plain()
        # recompress the payload as zstd by rebuilding the wrapper
        ts = bb._parse_ts_sec("2024-01-01T00:00:01Z")
        img = (7, "cust-5", "prod-7", 3, 1704067201000)
        inner = bb._table_map_payload(ts, "db0", "t1", 104) + bb._rows_payload(
            ts, 30, 104, [img])
        if have_zstd:
            z = bb.tx_payload_event(
                ts, 104, inner, compression=bb.TX_COMPRESSION_ZSTD)
            blob = plain[: plain.index(inner)]  # magic+fde+gtid prefix
            stats = {}
            got = list(bb.decode_binlog_rows_bytes(
                "f", wrapped.replace(inner, b"") and blob + z, stats))
            assert got and got[0][11]["order_id"] == "7"
            assert "compressed_tx_skipped" not in stats
        else:
            # fake a zstd-compressed payload: compression type 0 with
            # bytes no decoder exists for -> counted skip, no rows
            def fld(t, v):
                vb = v.to_bytes(max(1, (v.bit_length() + 7) // 8), "little")
                return bb._lenenc(t) + bb._lenenc(len(vb)) + vb

            fakez = b"\x28\xb5\x2f\xfd" + b"\x00" * 8  # zstd magic + junk
            tlv = (fld(2, 0) + fld(3, len(inner)) + fld(1, len(fakez))
                   + bb._lenenc(0))
            zev = bb._event(ts, bb.TRANSACTION_PAYLOAD_EVENT, tlv + fakez, 104)
            head = plain.split(inner)[0]
            stats = {}
            got = list(bb.decode_binlog_rows_bytes("f", head + zev, stats))
            assert got == []
            assert stats.get("compressed_tx_skipped") == 1

    def test_skip_stats_channel(self, spark, tmp_path):
        from binlog_avro_comparator_spark.sources import binlog_binary as bb
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            read_binlog_skip_stats_dir)

        wrapped, plain = self._wrapped_and_plain(checksum=True)
        # corrupt the final event's CRC in one file
        bad = bytearray(wrapped)
        bad[-10] ^= 0xFF
        (tmp_path / "mysql-bin.000001").write_bytes(bytes(bad))
        (tmp_path / "mysql-bin.000002").write_bytes(plain)
        got = {
            r.binlog_file: r
            for r in read_binlog_skip_stats_dir(spark, str(tmp_path)).collect()
        }
        assert got["mysql-bin.000001"].crc_failed == 1
        assert got["mysql-bin.000002"].crc_failed == 0
        assert got["mysql-bin.000002"].compressed_tx_skipped == 0


def test_stream_binlog_binary_matches_batch(spark, tmp_path):
    """The streaming binary source (tail rotated-out segments) appends
    exactly the batch reader's rows -- stateless decode, no watermark,
    one micro-batch per file."""
    from binlog_avro_comparator_spark.sources.binlog_binary import (
        encode_binlog_file, read_binlog_binary_dir,
        stream_binlog_binary_dir)

    evs = TestBinlogRowImages.EVS
    (tmp_path / "mysql-bin.000001").write_bytes(encode_binlog_file(evs))
    (tmp_path / "mysql-bin.000002").write_bytes(
        encode_binlog_file(evs, checksum=True))
    out = stream_binlog_binary_dir(spark, str(tmp_path), max_files_per_trigger=1)
    q = (
        out.writeStream.format("memory")
        .queryName("binlog_stream_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    q.stop()
    got = sorted(
        tuple(r) for r in spark.table("binlog_stream_probe").collect()
    )
    want = sorted(
        tuple(r) for r in read_binlog_binary_dir(spark, str(tmp_path)).collect()
    )
    assert got == want and len(got) == 2 * len(evs)


def test_cli_rejects_skip_stats_without_binary_source():
    """--skip-stats-out / --drift-out are decoder-level channels; the
    CLI must refuse them for text/jsonl sources BEFORE spinning Spark."""
    import pytest

    from binlog_avro_comparator_spark.__main__ import main

    with pytest.raises(SystemExit) as e:
        main(["--binlog-text", "/tmp/x", "--avro-jsonl", "/tmp/y",
              "--skip-stats-out", "/tmp/z"])
    assert e.value.code == 2  # argparse usage error


def test_minimal_row_image_partial_present_bitmap():
    """binlog_row_image=MINIMAL: the columns-present bitmap omits
    columns, and the image carries ONLY the present ones (null bitmap
    indexes over present columns).  The decoder must surface exactly
    the present columns -- absent ones don't appear in the payload at
    all (distinct from SQL NULL)."""
    import struct

    from binlog_avro_comparator_spark.sources import binlog_binary as bb

    ts = bb._parse_ts_sec("2024-01-01T00:00:01Z")
    tm = bb._table_map_payload(ts, "db0", "t1", 104)
    # present: order_id (bit 0) and quantity (bit 3) only
    present = 0b01001
    image = bytes([0]) + struct.pack("<i", 7) + struct.pack("<i", 3)
    payload = (
        struct.pack("<IH", 1, 0) + b"\x00\x00"
        + struct.pack("<H", 2)
        + bb._lenenc(5)
        + bytes([present])
        + image
    )
    ev = bb._event(ts, bb.WRITE_ROWS_EVENT_V2, payload, 104)
    rows = list(bb.decode_binlog_rows_bytes("f", bb.MAGIC + bb._fde(ts) + tm + ev))
    assert len(rows) == 1
    assert rows[0][11] == {"order_id": "7", "quantity": "3"}


class TestBinarySchemaDrift:
    """Mid-file DDL: a TABLE_MAP whose column signature changes.  The
    rows decoder must keep decoding correctly per epoch (each rows
    event uses the map in force at its position) and the drift channel
    must surface the change as a row."""

    def _blob_with_drift(self):
        from binlog_avro_comparator_spark.sources import binlog_binary as bb

        ts = bb._parse_ts_sec("2024-01-01T00:00:01Z")
        img5 = (7, "cust-5", "prod-7", 3, 1704067201000)
        epoch1 = bb._table_map_payload(ts, "db0", "t1", 104) + bb._rows_payload(
            ts, 30, 104, [img5])
        orig = bb.PAYLOAD_COLUMNS
        try:
            bb.PAYLOAD_COLUMNS = orig + [("extra_flag", bb.MYSQL_TYPE_TINY, None)]
            img6 = img5 + (1,)
            epoch2 = bb._table_map_payload(ts, "db0", "t1", 204) + bb._rows_payload(
                ts, 30, 204, [img6])
        finally:
            bb.PAYLOAD_COLUMNS = orig
        return bb.MAGIC + bb._fde(ts) + epoch1 + epoch2

    def test_per_epoch_payloads_and_drift_row(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_drift_bytes, decode_binlog_rows_bytes)

        blob = self._blob_with_drift()
        rows = list(decode_binlog_rows_bytes("f", blob))
        assert len(rows) == 2
        assert set(rows[0][11]) == {"order_id", "customer_name",
                                    "product_name", "quantity",
                                    "order_timestamp"}
        assert set(rows[1][11]) == set(rows[0][11]) | {"extra_flag"}
        assert rows[1][11]["extra_flag"] == "1"
        drift = list(decode_binlog_drift_bytes("f", blob))
        assert drift == [("f", 204, "db0", "t1", 5, 6, "extra_flag", "")]

    def test_no_drift_without_ddl(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_drift_bytes, encode_binlog_file)

        blob = encode_binlog_file(TestBinlogRowImages.EVS, checksum=True)
        assert list(decode_binlog_drift_bytes("f", blob)) == []

    def test_distributed_drift_reader(self, spark, tmp_path):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            read_binlog_schema_drift_dir)

        (tmp_path / "mysql-bin.000001").write_bytes(self._blob_with_drift())
        got = read_binlog_schema_drift_dir(spark, str(tmp_path)).collect()
        assert len(got) == 1
        assert got[0].added_cols == "extra_flag" and got[0].n_cols_after == 6


# --- S2+: row-image (payload) decode tier ---------------------------------

class TestBinlogRowImages:
    """The payload tier: genuine row-image bytes in, payload maps out
    (sources/binlog_binary.py decode_binlog_rows_bytes).  The reference
    declares the payload columns (compare_timestamps.go:57-63) but
    never decodes them; these tests pin the byte-level contract."""

    EVS = [
        dict(event_type="WriteRowsEventV2", timestamp="2024-01-01T00:00:01Z",
             immediate_commmit_timestamp="2024-01-01T00:00:01.000123Z",
             log_position=104, schema="db0", table="t1", line_no=0,
             order_id=7, customer_name="cust-5", product_name="prod-7",
             quantity=3, order_timestamp=1704067201000,
             before_quantity=8, before_order_timestamp=1704067200000),
        dict(event_type="UpdateRowsEventV2", timestamp="2024-01-01T00:00:02Z",
             immediate_commmit_timestamp=None,
             log_position=204, schema="db1", table="t2", line_no=1,
             order_id=8, customer_name=None, product_name="prod-8",
             quantity=4, order_timestamp=1704067202000,
             before_quantity=9, before_order_timestamp=1704067201000),
        dict(event_type="DeleteRowsEventV2", timestamp="2024-01-01T00:00:03Z",
             immediate_commmit_timestamp="2024-01-01T00:00:03.500000Z",
             log_position=304, schema="db0", table="t0", line_no=2,
             order_id=9, customer_name="cust-1", product_name="prod-9",
             quantity=5, order_timestamp=1704067203000,
             before_quantity=10, before_order_timestamp=1704067202000),
        dict(event_type="XID", timestamp="2024-01-01T00:00:04Z",
             immediate_commmit_timestamp=None, log_position=404,
             schema="db0", table="t0", line_no=3),
    ]

    def _rows(self, blob=None):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            decode_binlog_rows_bytes, encode_binlog_file)

        if blob is None:
            blob = encode_binlog_file(self.EVS)
        return list(decode_binlog_rows_bytes("mysql-bin.000000", blob))

    def test_roundtrip_images_and_nulls(self):
        rows = self._rows()
        # write: 1 after; update: before+after; delete: 1 before; XID: none
        assert [(r[1], r[2], r[3], r[4]) for r in rows] == [
            (1, 1, "after", "WriteRowsEventV2"),
            (2, 1, "before", "UpdateRowsEventV2"),
            (2, 2, "after", "UpdateRowsEventV2"),
            (3, 1, "before", "DeleteRowsEventV2"),
        ]
        write, before, after, delete = (r[11] for r in rows)
        assert write == {"order_id": "7", "customer_name": "cust-5",
                         "product_name": "prod-7", "quantity": "3",
                         "order_timestamp": "1704067201000"}
        # update before/after differ by the planted deltas
        assert (before["quantity"], after["quantity"]) == ("9", "4")
        assert int(after["order_timestamp"]) - int(before["order_timestamp"]) == 1000
        # null bitmap: customer_name NULL survives as a None map value
        assert before["customer_name"] is None and after["customer_name"] is None
        # delete's image is the removed row
        assert delete["product_name"] == "prod-9"
        # TABLE_MAP names/schema ride along per event
        assert rows[1][8:10] == ("db1", "t2")

    def test_ict_clears_on_57_gtid_after_80_gtid(self):
        """ADVICE r4: a 5.6/5.7 short-layout GTID event must CLEAR the
        previous transaction's immediate_commit_timestamp, in both
        decode tiers."""
        import struct

        from binlog_avro_comparator_spark.sources.binlog_binary import (
            FIXTURE_SID, HEADER_LEN, MAGIC, WRITE_ROWS_EVENT_V2,
            _gtid, _rows_payload, _table_map_payload, decode_binlog_bytes,
            decode_binlog_rows_bytes)

        def raw(code, payload, log_pos):
            return struct.pack(
                "<IBIIIH", 1704067200, code, 1, HEADER_LEN + len(payload),
                log_pos, 0) + payload

        gtid_57 = raw(33, bytes([1]) + FIXTURE_SID + struct.pack("<q", 9)
                      + bytes([2]) + struct.pack("<qq", 0, 0), 200)
        img = (1, "n", "p", 2, 10)
        blob = (
            MAGIC
            + _gtid(1704067200, FIXTURE_SID, 1, 1704067200000123, 100)
            + _table_map_payload(1704067200, "db0", "t0", 100)
            + _rows_payload(1704067200, WRITE_ROWS_EVENT_V2, 100, [img])
            + gtid_57
            + _table_map_payload(1704067200, "db0", "t0", 200)
            + _rows_payload(1704067200, WRITE_ROWS_EVENT_V2, 200, [img])
        )
        meta = list(decode_binlog_bytes("f", blob))
        assert meta[0][4] is not None          # 8.0 txn carries its ict
        assert meta[1][4] is None              # 5.7 txn must NOT inherit it
        assert meta[1][8].endswith(":9")       # but does carry its gtid
        imgs = list(decode_binlog_rows_bytes("f", blob))
        assert [r[6] for r in imgs] == [meta[0][4], None]

    def test_multi_row_event(self):
        """One WRITE rows event carrying TWO row images (real binlogs
        batch rows per event) -> two output rows, row_no 1 and 2."""
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            FIXTURE_SID, MAGIC, WRITE_ROWS_EVENT_V2, _gtid, _rows_payload,
            _table_map_payload, decode_binlog_rows_bytes)

        img1 = (1, "a", "p1", 2, 1000)
        img2 = (2, None, "p2", 3, 2000)
        blob = (
            MAGIC
            + _gtid(0, FIXTURE_SID, 1, 0, 100)
            + _table_map_payload(0, "db", "t", 100)
            + _rows_payload(0, WRITE_ROWS_EVENT_V2, 100, [img1, img2])
        )
        rows = list(decode_binlog_rows_bytes("f", blob))
        assert [(r[1], r[2], r[3]) for r in rows] == [(1, 1, "after"), (1, 2, "after")]
        assert rows[0][11]["order_id"] == "1"
        assert rows[1][11]["customer_name"] is None
        assert rows[1][11]["order_timestamp"] == "2000"

    def test_unknown_column_type_skips_event_not_file(self):
        """A TABLE_MAP declaring a type the decoder doesn't know (246 =
        NEWDECIMAL) makes that table's row events undecodable -- they
        are skipped whole (event_no still advances: the ordinal is a
        property of the FILE) and later tables still decode."""
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            FIXTURE_SID, MAGIC, WRITE_ROWS_EVENT_V2, _event, _gtid, _lenenc,
            _rows_payload, _table_map_payload, decode_binlog_rows_bytes)

        bad_tm = _event(0, 19, (
            b"\x02\x00\x00\x00\x00\x00" + b"\x00\x00"      # table_id=2
            + bytes([2]) + b"db" + b"\x00"
            + bytes([1]) + b"x" + b"\x00"
            + _lenenc(1) + bytes([246])                     # NEWDECIMAL
            + _lenenc(2) + b"\x0a\x02"                      # its metadata
            + bytes([0])
        ), 100)
        bad_rows = _event(0, WRITE_ROWS_EVENT_V2, (
            b"\x02\x00\x00\x00\x00\x00" + b"\x00\x00"
            + b"\x02\x00" + _lenenc(1) + bytes([1])
            + b"\x00" + b"\x99\x99\x99"                     # undecodable
        ), 100)
        good = (
            _table_map_payload(0, "db", "t", 200)
            + _rows_payload(0, WRITE_ROWS_EVENT_V2, 200, [(5, "n", "p", 1, 10)])
        )
        blob = MAGIC + _gtid(0, FIXTURE_SID, 1, 0, 50) + bad_tm + bad_rows + good
        rows = list(decode_binlog_rows_bytes("f", blob))
        assert len(rows) == 1
        assert rows[0][1] == 2          # ordinal advanced past the bad event
        assert rows[0][11]["order_id"] == "5"

    def test_legacy_table_map_positional_names(self):
        """Pre-8.0 binlogs carry no COLUMN_NAME metadata: the 1-column
        legacy TABLE_MAP + a hand-built image decode under positional
        names (c0)."""
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            FIXTURE_SID, MAGIC, WRITE_ROWS_EVENT_V2, _event, _gtid, _lenenc,
            _table_map, decode_binlog_rows_bytes)

        import struct as st
        rows_ev = _event(0, WRITE_ROWS_EVENT_V2, (
            b"\x01\x00\x00\x00\x00\x00" + b"\x00\x00"
            + b"\x02\x00" + _lenenc(1) + bytes([1])
            + b"\x00" + st.pack("<i", -42)
        ), 100)
        blob = (MAGIC + _gtid(0, FIXTURE_SID, 3, 0, 100)
                + _table_map(0, "db", "t", 100) + rows_ev)
        rows = list(decode_binlog_rows_bytes("f", blob))
        assert len(rows) == 1 and rows[0][11] == {"c0": "-42"}

    def test_truncated_image_keeps_decoded_prefix(self):
        from binlog_avro_comparator_spark.sources.binlog_binary import (
            encode_binlog_file)

        # drop the trailing XID so the file ENDS with the delete event,
        # then chop inside its image: earlier events survive, the
        # partial image is discarded, nothing raises
        blob = encode_binlog_file(self.EVS[:3])
        rows = self._rows(blob[:-6])
        assert [(r[1], r[2]) for r in rows] == [(1, 1), (2, 1), (2, 2)]


def test_row_images_interleaved_table_maps():
    """Real binlogs interleave rows events of DIFFERENT tables; the
    decoder keys TABLE_MAP state by table_id, so a second table's map
    (different column count/shape) must not clobber the first's -- each
    rows event decodes under ITS table's types and names."""
    import struct as st

    from binlog_avro_comparator_spark.sources.binlog_binary import (
        FIXTURE_SID, MAGIC, WRITE_ROWS_EVENT_V2, _event, _gtid, _lenenc,
        _rows_payload, _table_map_payload, decode_binlog_rows_bytes)

    # table 2: a DIFFERENT shape (single LONG column named "other_id",
    # via the optional COLUMN_NAME TLV), hand-encoded with table_id=2
    names = _lenenc(len(b"other_id")) + b"other_id"
    tm2 = _event(0, 19, (
        b"\x02\x00\x00\x00\x00\x00" + b"\x00\x00"
        + bytes([2]) + b"db" + b"\x00"
        + bytes([2]) + b"t2" + b"\x00"
        + _lenenc(1) + bytes([3])           # one LONG column
        + _lenenc(0)                        # no metadata
        + bytes([0])                        # null bitmap
        + bytes([4]) + _lenenc(len(names)) + names
    ), 150)
    rows2 = _event(0, WRITE_ROWS_EVENT_V2, (
        b"\x02\x00\x00\x00\x00\x00" + b"\x00\x00"
        + b"\x02\x00" + _lenenc(1) + bytes([1])
        + b"\x00" + st.pack("<i", 777)
    ), 150)
    blob = (
        MAGIC
        + _gtid(0, FIXTURE_SID, 1, 0, 100)
        + _table_map_payload(0, "db", "t1", 100)   # table_id=1, 5 columns
        + tm2 + rows2                              # table 2 interleaves
        + _rows_payload(0, WRITE_ROWS_EVENT_V2, 100, [(5, "n", "p", 1, 10)])
    )
    rows = list(decode_binlog_rows_bytes("f", blob))
    assert len(rows) == 2
    assert rows[0][9] == "t2" and rows[0][11] == {"other_id": "777"}
    # table 1's 5-column map survived table 2's arrival
    assert rows[1][9] == "t1" and rows[1][11]["order_id"] == "5"
    assert set(rows[1][11]) == {
        "order_id", "customer_name", "product_name", "quantity",
        "order_timestamp",
    }


def test_variant_ingestion_matches_declared_reader(spark):
    """The VARIANT path and the declared-schema path agree field for
    field, unknown keys don't break extraction, and a type-mismatched
    key nulls instead of throwing (try_ contract under ANSI)."""
    from pyspark.sql import functions as F

    from binlog_avro_comparator_spark.sources.jsonl import (
        binlog_events_via_variant,
    )

    frame = spark.createDataFrame(
        [
            ("WriteRowsEventV2", "2024-01-01T00:00:00Z", 104, "db", "t",
             None, "bin.000001", 1),
            ("XID", "2024-01-01T00:00:01Z", 208, None, None, "g:1",
             "bin.000001", 2),
        ],
        "event_type string, timestamp string, log_position long, "
        "schema string, table string, gtid_next string, "
        "binlog_file string, line_no long",
    )
    got = {r.line_no: r for r in binlog_events_via_variant(frame).collect()}
    assert got[1].is_dml and not got[2].is_dml
    assert got[1].log_position == 104 and got[2].gtid_next == "g:1"
    assert got[1].gtid_next is None  # absent key -> NULL, not error
    # type-mismatched extraction nulls: feed a line where log_position
    # is a string that is not a number
    bad = spark.createDataFrame(
        [('{"event_type": "Query", "log_position": "oops", "line_no": 3}',)],
        "js string",
    ).select(F.parse_json("js").alias("__v"))
    r = bad.select(
        F.try_variant_get("__v", "$.log_position", "long").alias("lp"),
        F.try_variant_get("__v", "$.line_no", "long").alias("ln"),
    ).collect()[0]
    assert r.lp is None and r.ln == 3


@pytest.mark.slow
def test_gojsonl_python_datasource_writer(spark, tmp_path):
    """The writer half of the Python DataSource surface: two-phase
    commit leaves only complete part files, bytes equal the Go form,
    overwrite replaces, and a non-string schema is rejected."""
    import os

    import pytest as _pytest

    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text
    from binlog_avro_comparator_spark.sources.jsonl import go_json_lines
    from binlog_avro_comparator_spark.sources.pyds import GoJsonlDataSource

    spark.dataSource.register(GoJsonlDataSource)
    text = []
    for i in range(50):
        text += [
            "=== WriteRowsEventV2 ===",
            f"Date: 2025-06-01 12:00:{i % 60:02d}",
            f"Log position: {100 + i}",
            "Table: orders",
        ]
    raw = spark.createDataFrame(
        [("mysql-bin.000001", i, s) for i, s in enumerate(text)],
        "binlog_file string, line_no long, value string",
    )
    lines = go_json_lines(parse_binlog_text(raw))
    out = str(tmp_path / "sink")
    lines.write.format("gojsonl").mode("append").save(out)
    files = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))
    assert files and not [f for f in os.listdir(out) if f.endswith(".tmp")]
    got = []
    for f in files:
        got += open(os.path.join(out, f), encoding="utf-8").read().splitlines()
    want = [r[0] for r in lines.collect()]
    assert sorted(got) == sorted(want)  # byte-exact lines, all present
    # overwrite drops the previous generation
    lines.limit(5).repartition(1).write.format("gojsonl").mode(
        "overwrite"
    ).save(out)
    files2 = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    total = sum(
        len(open(os.path.join(out, f), encoding="utf-8").read().splitlines())
        for f in files2
    )
    assert total == 5
    with _pytest.raises(Exception, match="one string column"):
        raw.write.format("gojsonl").mode("append").save(str(tmp_path / "bad"))


def test_rotate_chain_audit_statuses(spark, tmp_path):
    """rotate_chain_audit surfaces every chain state: OK links,
    CHAIN_GAP where a segment named by a ROTATE is absent from the
    listing (deleted/lost file), MISSING_ROTATE for a rotate-less
    non-final file, ACTIVE_TAIL for the last segment."""
    from binlog_avro_comparator_spark.operators.compare import rotate_chain_audit
    from binlog_avro_comparator_spark.sources.binlog_binary import (
        encode_binlog_file, read_binlog_rotate_dir)

    evs = TestBinlogRowImages.EVS
    # 000000 closed WITHOUT a rotate (truncated tail) -> MISSING_ROTATE
    (tmp_path / "mysql-bin.000000").write_bytes(encode_binlog_file(evs))
    (tmp_path / "mysql-bin.000001").write_bytes(
        encode_binlog_file(evs, next_file="mysql-bin.000002"))
    # 000002 rotates to 000003, but 000003 was deleted -> CHAIN_GAP
    (tmp_path / "mysql-bin.000002").write_bytes(
        encode_binlog_file(evs, checksum=True, next_file="mysql-bin.000003"))
    (tmp_path / "mysql-bin.000004").write_bytes(
        encode_binlog_file(evs, next_file="mysql-bin.000005"))
    (tmp_path / "mysql-bin.000005").write_bytes(encode_binlog_file(evs))
    got = {
        r.binlog_file: r.status
        for r in rotate_chain_audit(
            read_binlog_rotate_dir(spark, str(tmp_path))
        ).collect()
    }
    assert got == {
        "mysql-bin.000000": "MISSING_ROTATE",
        "mysql-bin.000001": "OK",
        "mysql-bin.000002": "CHAIN_GAP",
        "mysql-bin.000004": "OK",
        "mysql-bin.000005": "ACTIVE_TAIL",
    }


def test_rotate_chain_stream_gap_on_deleted_file(spark, tmp_path):
    """A segment deleted from the tail directory surfaces as a
    CHAIN_GAP finding when the audit runs over the STREAMING rotate
    source -- the dropped file is detectable from the rotation chain
    alone, before any GTID-gap evidence accumulates."""
    from binlog_avro_comparator_spark.operators.compare import rotate_chain_audit
    from binlog_avro_comparator_spark.sources.binlog_binary import (
        encode_binlog_file, stream_binlog_rotate_dir)

    evs = TestBinlogRowImages.EVS
    for i, nxt in ((1, 2), (2, 3), (3, 4)):
        (tmp_path / f"mysql-bin.{i:06d}").write_bytes(
            encode_binlog_file(evs, next_file=f"mysql-bin.{nxt:06d}"))
    (tmp_path / "mysql-bin.000004").write_bytes(encode_binlog_file(evs))
    (tmp_path / "mysql-bin.000003").unlink()  # lost mid-tail
    q = (
        stream_binlog_rotate_dir(spark, str(tmp_path))
        .writeStream.format("memory")
        .queryName("rotate_stream_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    q.stop()
    audit = {
        r.binlog_file: r.status
        for r in rotate_chain_audit(spark.table("rotate_stream_probe")).collect()
    }
    assert audit["mysql-bin.000002"] == "CHAIN_GAP"
    assert audit["mysql-bin.000001"] == "OK"
    assert audit["mysql-bin.000004"] == "ACTIVE_TAIL"


@pytest.mark.slow
def test_pyds_stream_reader_offsets_resume(spark, tmp_path):
    """The Python DataSource stream reader tails by version-ordered
    segment name: a first availableNow run consumes the files present,
    a restart from the SAME checkpoint picks up only the newly-rotated
    segment (offset continuity), and re-running with nothing new adds
    nothing (no re-reads)."""
    from binlog_avro_comparator_spark.sources.pyds import (
        register_binlog_text_source)

    src = tmp_path / "feed"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    register_binlog_text_source(spark)
    (src / "mysql-bin.000001.txt").write_text("a1\na2\n")
    (src / "mysql-bin.000002.txt").write_text("b1\n")

    def drain():
        q = (
            spark.readStream.format("binlogtext").option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        q.stop()
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    first = drain()
    assert len(first) == 3 and first[0][0] == "mysql-bin.000001"
    (src / "mysql-bin.000003.txt").write_text("c1\nc2\n")
    second = drain()
    # the restart appended exactly the newly-rotated segment's rows
    assert len(second) == 5
    assert [r for r in second if r[0] == "mysql-bin.000003"] == [
        ("mysql-bin.000003", 1, "c1"), ("mysql-bin.000003", 2, "c2")]
    third = drain()
    assert third == second  # nothing new, nothing re-read


@pytest.mark.slow
def test_pyds_stream_reader_tails_growing_segment(spark, tmp_path):
    """Byte-offset resume (r8, the reference's `-offset 4` idiom as a
    streaming offset): an ACTIVE segment that grows between triggers is
    consumed incrementally -- each restart reads exactly the appended
    delta with continuing line numbers; a torn final line (no newline
    yet) is never emitted until the newline lands; rotation after
    growth picks up the frozen tail plus the new segment."""
    from binlog_avro_comparator_spark.sources.pyds import (
        register_binlog_text_source)

    src = tmp_path / "feed"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    register_binlog_text_source(spark)
    (src / "mysql-bin.000001.txt").write_text("a1\na2\n")
    (src / "mysql-bin.000002.txt").write_text("b1\n")

    def drain():
        q = (
            spark.readStream.format("binlogtext").option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        q.stop()
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    assert len(drain()) == 3
    # the ACTIVE segment grows: only the delta is read, line_no continues
    with open(src / "mysql-bin.000002.txt", "a") as f:
        f.write("b2\nb3\n")
    second = drain()
    assert [r for r in second if r[0] == "mysql-bin.000002"] == [
        ("mysql-bin.000002", 1, "b1"),
        ("mysql-bin.000002", 2, "b2"),
        ("mysql-bin.000002", 3, "b3"),
    ]
    # a torn line (no terminating newline) is not emitted yet
    with open(src / "mysql-bin.000002.txt", "a") as f:
        f.write("b4")
    assert drain() == second
    # the newline lands and the segment rotates out: the tail line and
    # the new segment arrive in one batch, numbering intact
    with open(src / "mysql-bin.000002.txt", "a") as f:
        f.write("\n")
    (src / "mysql-bin.000003.txt").write_text("c1\n")
    final = drain()
    assert ("mysql-bin.000002", 4, "b4") in final
    assert ("mysql-bin.000003", 1, "c1") in final
    assert len(final) == len(second) + 2


def test_binlogbin_stream_tails_growing_segment(spark, tmp_path):
    """The BINARY byte-offset tail (r8): offsets carry (event-boundary
    byte pos, decoder context), so a growing mysql-bin.* segment is
    consumed incrementally -- mid-transaction context (GTID, TABLE_MAP,
    CRC mode, ordinals) survives the batch boundary and the union of
    incremental batches equals the whole-file decode; a torn trailing
    event is held back until its bytes complete."""
    from binlog_avro_comparator_spark.sources import binlog_binary as bb
    from binlog_avro_comparator_spark.sources.pyds import (
        register_binlog_binary_source)

    EVS = [
        dict(event_type="WriteRowsEventV2", timestamp="2024-01-01T00:00:07Z",
             immediate_commmit_timestamp="2024-01-01T00:00:07.179575Z",
             log_position=104, schema="db1", table="t2", line_no=1),
        dict(event_type="XID", timestamp="2024-01-01T00:03:52Z",
             immediate_commmit_timestamp=None, log_position=204,
             schema="db0", table="t0", line_no=4),
        dict(event_type="Query", timestamp="2024-01-01T00:06:29Z",
             immediate_commmit_timestamp="2024-01-01T00:06:29.165275Z",
             log_position=304, schema="db0", table="t1", line_no=5),
        dict(event_type="UpdateRowsEventV2", timestamp="2024-01-01T00:08:00Z",
             immediate_commmit_timestamp="2024-01-01T00:08:00.000001Z",
             log_position=404, schema="db1", table="t0", line_no=8),
    ]
    full = bb.encode_binlog_file(EVS, checksum=True)
    # event boundaries, for a growth point that tears an event in half
    st: dict = {}
    bounds = []
    for _ in bb._iter_events(full, state=st):
        bounds.append(st["pos"])
    cut = bounds[len(bounds) // 2]
    src = tmp_path / "feed"
    src.mkdir()
    seg1 = bb.encode_binlog_file(EVS[:2], checksum=True)
    (src / "mysql-bin.000001").write_bytes(seg1)
    # active segment: first half of events + 10 torn bytes of the next
    (src / "mysql-bin.000002").write_bytes(full[: cut + 10])
    (src / "mysql-bin.index").write_text("mysql-bin.000001\n")  # ignored

    register_binlog_binary_source(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("binlogbin").option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        q.stop()
        return sorted(
            tuple(r) for r in spark.read.parquet(out).collect()
        )

    first = drain()
    whole1 = list(bb.decode_binlog_bytes("mysql-bin.000001", seg1))
    assert len(first) == len(whole1) + len(
        list(bb.decode_binlog_bytes("mysql-bin.000002", full[:cut])))
    # the active segment grows to completion: only the delta arrives,
    # and the accumulated rows equal the whole-file decode exactly
    (src / "mysql-bin.000002").write_bytes(full)
    second = drain()
    whole2 = list(bb.decode_binlog_bytes("mysql-bin.000002", full))
    assert sorted(second) == sorted(
        tuple(r) for r in (whole1 + whole2)
    )
    # idle restart reads nothing
    assert drain() == second


def test_tail_cli_end_to_end(spark, tmp_path, capsys):
    """The tail CLI (E-entrypoint for the byte-offset streams): a
    drain run appends the decoded contract rows and prints the JSON
    summary; a restart after the active segment grows appends exactly
    the delta (checkpointed offsets, no re-reads)."""
    from binlog_avro_comparator_spark.sources import binlog_binary as bb
    from binlog_avro_comparator_spark.tail import main as tail_main

    EVS = [
        dict(event_type="WriteRowsEventV2", timestamp="2024-01-01T00:00:07Z",
             immediate_commmit_timestamp="2024-01-01T00:00:07.179575Z",
             log_position=104, schema="db1", table="t2", line_no=1),
        dict(event_type="XID", timestamp="2024-01-01T00:03:52Z",
             immediate_commmit_timestamp=None, log_position=204,
             schema="db0", table="t0", line_no=4),
    ]
    src = tmp_path / "logs"
    src.mkdir()
    half = bb.encode_binlog_file(EVS[:1], checksum=True)
    full = bb.encode_binlog_file(EVS, checksum=True)
    assert full.startswith(half)  # growth is a pure append
    (src / "mysql-bin.000001").write_bytes(half)
    out, ckpt = str(tmp_path / "rows"), str(tmp_path / "ckpt")
    args = ["--dir", str(src), "--format", "binary",
            "--out", out, "--checkpoint", ckpt]
    assert tail_main(args, spark=spark) == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["rows_total"] == 1
    (src / "mysql-bin.000001").write_bytes(full)
    assert tail_main(args, spark=spark) == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["rows_total"] == 2
    got = sorted(
        (r.event_type, r.line_no) for r in spark.read.parquet(out).collect()
    )
    assert got == [("WriteRowsEventV2", 1), ("XID", 2)]


def test_tail_cli_text_format(spark, tmp_path, capsys):
    """The tail CLI's text mode rides the byte-offset text source:
    drain, grow the active segment, restart reads only the delta."""
    from binlog_avro_comparator_spark.tail import main as tail_main

    src = tmp_path / "logs"
    src.mkdir()
    (src / "mysql-bin.000001.txt").write_text("a1\na2\n")
    out, ckpt = str(tmp_path / "rows"), str(tmp_path / "ckpt")
    args = ["--dir", str(src), "--format", "text",
            "--out", out, "--checkpoint", ckpt]
    assert tail_main(args, spark=spark) == 0
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )["rows_total"] == 2
    with open(src / "mysql-bin.000001.txt", "a") as f:
        f.write("a3\n")
    assert tail_main(args, spark=spark) == 0
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )["rows_total"] == 3
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [
        ("mysql-bin.000001", 1, "a1"),
        ("mysql-bin.000001", 2, "a2"),
        ("mysql-bin.000001", 3, "a3"),
    ]


def test_binlogbin_slice_decode_equals_whole(spark):
    """decode_binlog_slice parity: cutting at EVERY event boundary and
    decoding the two halves with carried context reproduces the
    whole-file decode row-for-row, checksummed or not -- the invariant
    the binary stream offset rests on."""
    from binlog_avro_comparator_spark.sources import binlog_binary as bb

    EVS = [
        dict(event_type="WriteRowsEventV2", timestamp="2024-01-01T00:00:07Z",
             immediate_commmit_timestamp="2024-01-01T00:00:07.179575Z",
             log_position=104, schema="db1", table="t2", line_no=1),
        dict(event_type="XID", timestamp="2024-01-01T00:03:52Z",
             immediate_commmit_timestamp=None, log_position=204,
             schema="db0", table="t0", line_no=4),
        dict(event_type="UpdateRowsEventV2", timestamp="2024-01-01T00:08:00Z",
             immediate_commmit_timestamp="2024-01-01T00:08:00.000001Z",
             log_position=404, schema="db1", table="t0", line_no=8),
    ]
    for cks in (False, True):
        data = bb.encode_binlog_file(EVS, checksum=cks)
        whole = list(bb.decode_binlog_bytes("f", data))
        st: dict = {}
        bounds = []
        for _ in bb._iter_events(data, state=st):
            bounds.append(st["pos"])
        for cut in bounds:
            ctx = bb.fresh_decode_ctx()
            part1 = list(bb.decode_binlog_slice("f", data[:cut], ctx))
            part2 = list(bb.decode_binlog_slice("f", data, ctx))
            assert part1 + part2 == whole, (cks, cut)


def test_rotate_decode_fuzz_never_raises():
    """decode_binlog_rotate holds the module's tolerance contract on
    arbitrary bytes: random corruptions of a real segment, truncations,
    and pure garbage must yield a row (possibly rotate-less), never an
    exception -- one bad file in a tailed directory must not kill the
    chain audit."""
    import random

    from binlog_avro_comparator_spark.sources import binlog_binary as bb

    base = bb.encode_binlog_file(
        TestBinlogRowImages.EVS, checksum=True, next_file="mysql-bin.000999"
    )
    rng = random.Random(7)
    # clean decode finds the rotate
    assert bb.decode_binlog_rotate("f", base)[1] == "mysql-bin.000999"
    for _ in range(200):
        data = bytearray(base)
        for _ in range(rng.randrange(1, 4)):
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        out = bb.decode_binlog_rotate("f", bytes(data))
        assert out[0] == "f" and (out[1] is None or isinstance(out[1], str))
    for cut in (0, 3, 4, 19, len(base) // 2, len(base) - 1):
        out = bb.decode_binlog_rotate("f", base[:cut])
        assert out[0] == "f"
    assert bb.decode_binlog_rotate("f", b"\x00" * 512)[1] is None


def test_rotate_chain_natural_order_at_index_rollover(spark, tmp_path):
    """`ls -v` semantics at the 6->7 digit rollover: lexicographic
    ordering would place 1000000 before 999999 and report a false
    CHAIN_GAP; natural ordering keeps the intact chain green."""
    from binlog_avro_comparator_spark.operators.compare import rotate_chain_audit
    from binlog_avro_comparator_spark.sources.binlog_binary import (
        encode_binlog_file, read_binlog_rotate_dir)

    evs = TestBinlogRowImages.EVS
    (tmp_path / "mysql-bin.999999").write_bytes(
        encode_binlog_file(evs, next_file="mysql-bin.1000000"))
    (tmp_path / "mysql-bin.1000000").write_bytes(encode_binlog_file(evs))
    got = {
        r.binlog_file: r.status
        for r in rotate_chain_audit(
            read_binlog_rotate_dir(spark, str(tmp_path))
        ).collect()
    }
    assert got == {
        "mysql-bin.999999": "OK",
        "mysql-bin.1000000": "ACTIVE_TAIL",
    }
