"""End-to-end pipeline driver, streaming variant, multimodal plumbing."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from binlog_avro_comparator_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    image_features,
    sample_video_frames,
)
from binlog_avro_comparator_spark.pipeline import format_report, run_comparison
from binlog_avro_comparator_spark.streaming import (
    stream_avro_jsonl,
    streaming_findings,
)

BINLOG_TEXT = """=== WriteRowsEventV2 ===
Date: 2025-06-01 12:00:00
Log position: 100
Schema: shop
Table: orders
--
=== WriteRowsEventV2 ===
Date: 2025-06-01 12:00:05
Log position: 200
Schema: shop
Table: orders
"""


def _avro_rec(pos: int, ts_ms: int, file: str = "mysql-bin.000001") -> dict:
    return {
        "source_timestamp": ts_ms,
        "source_metadata": {
            "database": "shop",
            "table": "orders",
            "change_type": {"string": "INSERT"},
            "gtid": None,
            "binlog_file": {"string": file},
            "binlog_position": {"long": pos},
            "is_deleted": {"boolean": False},
            "primary_keys": ["id"],
        },
    }


BASE_MS = 1748779200000  # 2025-06-01T12:00:00Z


@pytest.fixture(scope="module")
def io_dirs(tmp_path_factory):
    d = tmp_path_factory.mktemp("pipeline")
    (d / "binlog_text").mkdir()
    (d / "binlog_text" / "mysql-bin.000001").write_text(BINLOG_TEXT)
    (d / "avro").mkdir()
    with (d / "avro" / "avro_rows.json").open("w") as f:
        f.write(json.dumps(_avro_rec(100, BASE_MS + 20)) + "\n")  # match
        f.write(json.dumps(_avro_rec(200, BASE_MS + 5000 + 500)) + "\n")  # ts mismatch
        f.write(json.dumps(_avro_rec(999, BASE_MS)) + "\n")  # avro-only
    return d


def test_run_comparison_text_entry(spark, io_dirs):
    res = run_comparison(
        spark,
        binlog_text_dir=str(io_dirs / "binlog_text"),
        avro_jsonl=str(io_dirs / "avro" / "avro_rows.json"),
    )
    kinds = sorted(r.kind for r in res.findings.collect())
    assert kinds == ["AVRO_ONLY_BINLOG_KEY", "TIMESTAMP_MISMATCH"]
    s = res.summary.collect()[0]
    assert (s.total_avro_records, s.matched, s.ts_mismatches, s.avro_only, s.binlog_only) == (3, 2, 1, 1, 0)
    report = format_report(res)
    assert "WARNING" in report and "Total Avro Records Processed: 3" in report


def test_run_comparison_latency_profile(spark, io_dirs):
    """The lag profile rides the same prepared frames: two matches ->
    one INSERT row with exact min/max/mean and n=2 (deltas +20 and
    +500 ms on the fixture)."""
    res = run_comparison(
        spark,
        binlog_text_dir=str(io_dirs / "binlog_text"),
        avro_jsonl=str(io_dirs / "avro" / "avro_rows.json"),
    )
    lat = {r.change_type: r for r in res.latency.collect()}
    assert list(lat) == ["INSERT"]
    r = lat["INSERT"]
    assert (r.n, r.min_ms, r.max_ms) == (2, 20, 500)
    assert r.mean_ms == 260.0 and r.p50_ms == 260.0
    assert r.p99_ms == 20 + 0.99 * (500 - 20)  # R-7 interpolation


def test_run_comparison_rereads_rewritten_inputs(spark, tmp_path):
    """run_comparison caches frames over its inputs, and Spark matches
    cached plans by path: a second run on the same paths with new bytes
    must count the new bytes, not serve the first run's cache."""
    text = tmp_path / "binlog_text" / "mysql-bin.000001"
    avro = tmp_path / "avro_rows.json"
    text.parent.mkdir()

    def run(binlog_text, recs):
        text.write_text(binlog_text)
        avro.write_text("".join(json.dumps(r) + "\n" for r in recs))
        res = run_comparison(
            spark, binlog_text_dir=str(text.parent), avro_jsonl=str(avro)
        )
        s = res.summary.collect()[0]
        return (s.total_avro_records, s.matched, s.ts_mismatches, s.avro_only, s.binlog_only)

    recs = [_avro_rec(100, BASE_MS + 20), _avro_rec(200, BASE_MS + 5500), _avro_rec(999, BASE_MS)]
    assert run(BINLOG_TEXT, recs) == (3, 2, 1, 1, 0)
    third = "--\n=== WriteRowsEventV2 ===\nDate: 2025-06-01 12:00:09\nLog position: 300\nSchema: shop\nTable: orders\n"
    recs += [_avro_rec(300, BASE_MS + 9000), _avro_rec(998, BASE_MS)]
    assert run(BINLOG_TEXT + third, recs) == (5, 3, 1, 2, 0)


def test_run_comparison_requires_one_binlog_input(spark, io_dirs):
    with pytest.raises(ValueError):
        run_comparison(spark, avro_jsonl="x")


def test_streaming_findings_availablenow(spark, io_dirs, tmp_path):
    from binlog_avro_comparator_spark.operators.parse import parse_binlog_text
    from binlog_avro_comparator_spark.sources.binlog_text import read_parser_text

    binlog = parse_binlog_text(
        read_parser_text(spark, str(io_dirs / "binlog_text"))
    )
    stream = stream_avro_jsonl(spark, str(io_dirs / "avro"))
    assert stream.isStreaming
    out = streaming_findings(binlog, stream)
    q = (
        out.writeStream.format("memory")
        .queryName("findings_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM findings_stream").collect()
    kinds = sorted(r.kind for r in rows)
    assert kinds == ["AVRO_ONLY_BINLOG_KEY", "TIMESTAMP_MISMATCH"]


def test_image_features_plumbing(spark):
    rows = [
        (1, "image", b"\x89PNG-fake-bytes-1", ("s3://x/1.png", "image/png", 17)),
        (2, "image", b"\x89PNG-fake-bytes-22", ("s3://x/2.png", "image/png", 18)),
        (3, "video", b"\x00" * 4096, ("s3://x/3.mp4", "video/mp4", 4096)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in image_features(media).collect()}
    assert set(feats) == {1, 2}  # video filtered out
    assert feats[1].decoder == "fake-deterministic"
    assert feats[1].n_bytes == 17
    assert 64 <= feats[1].width < 256 and 64 <= feats[1].height < 256
    # determinism: same bytes -> same features
    feats2 = {r.media_id: r for r in image_features(media).collect()}
    assert feats[1] == feats2[1]


def test_video_frame_sampling(spark):
    rows = [(7, "video", bytes(range(256)) * 200, ("u", "video/mp4", 51200))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_video_frames(media, every_n=10, max_frames=3).collect()
    assert [f.frame_index for f in sorted(frames, key=lambda f: f.frame_index)] == [0, 10, 20]
    assert all(len(f.frame_sha256) == 64 for f in frames)


def test_summary_counts_corrupt_avro_lines(spark, io_dirs, tmp_path):
    """total_avro_records counts every input line including malformed
    ones (the reference's lineNum, compare_timestamps.go:169,280)."""
    avro = tmp_path / "avro_rows.json"
    src = (io_dirs / "avro" / "avro_rows.json").read_text()
    avro.write_text(src + "this line is not json\n")
    res = run_comparison(
        spark,
        binlog_text_dir=str(io_dirs / "binlog_text"),
        avro_jsonl=str(avro),
    )
    s = res.summary.collect()[0]
    # one more total than the clean run; every other counter unchanged
    assert (s.total_avro_records, s.matched, s.ts_mismatches, s.avro_only, s.binlog_only) == (4, 2, 1, 1, 0)


def test_console_findings_reference_shapes(spark, io_dirs):
    """--print-findings lines reproduce the reference's printf shapes
    (compare_timestamps.go:188,216-219,242): per-avro-line numbering,
    {file position} key rendering, indented detail lines."""
    res = run_comparison(
        spark,
        binlog_text_dir=str(io_dirs / "binlog_text"),
        avro_jsonl=str(io_dirs / "avro" / "avro_rows.json"),
    )
    rows = res.console.orderBy(
        "section", "line_ref", "key_file", "key_pos", "ord"
    ).collect()
    texts = [r.text for r in rows]
    # line 2 is the planted ts-mismatch (500ms past tolerance)
    assert texts[0] == (
        "MISMATCH (Timestamp): Line 2. Key {mysql-bin.000001 200}\n"
        "  Avro TS: 2025-06-01T12:00:05.5Z (Unix MS: 1748779205500)\n"
        "  Binlog TS: 2025-06-01T12:00:05Z (Event Type: WriteRowsEventV2)"
    )
    # line 3 is the planted avro-only key
    assert texts[1] == (
        "AVRO_ONLY_BINLOG_KEY: Line 3. Key {mysql-bin.000001 999} "
        "(DB: shop, Table: orders, Type: INSERT) -> No matching binlog event found."
    )
    assert len(texts) == 2  # no binlog-only, no gtid/ct findings


def test_audio_features_real_wav_and_fallback(spark):
    """PCM16 WAV bytes take the REAL stdlib-wave decode path (stereo,
    correct rate/frames, exact constant-signal rms); non-WAV bytes fall
    back to the deterministic fake."""
    import io
    import struct
    import wave

    from binlog_avro_comparator_spark.operators.multimodal import audio_features

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack("<640h", *([4096] * 640)))  # 320 frames
    media = spark.createDataFrame(
        [
            (1, "audio", bytearray(buf.getvalue()), None),
            (2, "audio", bytearray(b"not a wav at all"), None),
            (3, "image", bytearray(b"skipped"), None),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in audio_features(media).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert (r1.channels, r1.sample_rate, r1.n_samples, r1.decoder) == (2, 16000, 320, "wave")
    assert r1.duration_s == 320 / 16000
    assert r1.rms == 4096 / 32768  # constant amplitude -> exact
    assert rows[2].decoder == "fake-deterministic"
    assert rows[2].sample_rate in (8000, 16000, 44100)


def test_audio_zero_rate_wav_falls_back(spark):
    """A WAV whose header declares framerate=0 parses cleanly in stdlib
    wave; it must take the deterministic-fake path instead of dividing
    by zero in the executor."""
    import io
    import wave

    from binlog_avro_comparator_spark.operators.multimodal import audio_features

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(1)  # wave refuses 0 at write time; patch below
        w.writeframes(b"\x00\x00" * 4)
    blob = bytearray(buf.getvalue())
    idx = blob.find((1).to_bytes(4, "little"), blob.find(b"fmt "))
    blob[idx : idx + 4] = (0).to_bytes(4, "little")  # sample rate -> 0
    media = spark.createDataFrame([(1, "audio", blob, None)], MEDIA_SCHEMA)
    [row] = audio_features(media).collect()
    assert row.decoder == "fake-deterministic"
    assert row.sample_rate > 0


def test_curate_cli_end_to_end(spark, tmp_path, capsys):
    """The curation CLI writes surviving full rows and reports counts.
    (Injects the session-scoped SparkSession; the CLI only stops
    sessions it created itself.)"""
    from binlog_avro_comparator_spark.curate import main as curate_main

    out = tmp_path / "curated"
    rc = curate_main(
        [
            "--docs",
            "/root/testdata/sf0.001/documents.parquet",
            "--out",
            str(out),
        ],
        spark=spark,
    )
    assert rc == 0
    kept = spark.read.parquet(str(out))
    assert 0 < kept.count() <= 500
    assert "text" in kept.columns  # full rows, payload included
    # eval/benchmark docs themselves are excluded from training output
    assert kept.filter("doc_id < 10").count() == 0
    # partitioned layout variant
    out2 = tmp_path / "curated_by_lang"
    rc2 = curate_main(
        ["--docs", "/root/testdata/sf0.001/documents.parquet",
         "--out", str(out2), "--partition-by", "lang"],
        spark=spark,
    )
    assert rc2 == 0
    langs = {p.name.split("=")[1] for p in out2.glob("lang=*")}
    assert len(langs) >= 2  # hive-partitioned by language
    assert spark.read.parquet(str(out2)).count() == kept.count()
    # the full recipe materializes its stage boundaries before the
    # write: the printed counters still describe this run (curate-in
    # resolves on the first materialization, curate-out on the write),
    # and none of the RDDs it checkpointed outlives the call (RDD ids,
    # not counts: the ContextCleaner may drop other tests' checkpoints
    # meanwhile)
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs = "/root/testdata/sf0.001/documents.parquet"
    out3 = tmp_path / "curated_full"
    before = persisted()
    capsys.readouterr()
    rc3 = curate_main(
        ["--docs", docs, "--out", str(out3), "--gopher",
         "--min-novelty", "0.02", "--trim-spans", "4"],
        spark=spark,
    )
    assert rc3 == 0
    assert not persisted() - before
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    total = spark.read.parquet(docs).count()
    written = spark.read.parquet(str(out3)).count()
    assert summary["total_docs"] == total
    assert summary["kept_docs"] == written
    assert summary["dropped_docs"] == total - written
    assert 0 < written < total
    # one part file per maxPartitionBytes of input, however AQE plans
    assert len(list(out3.glob("part-*"))) == 1


def test_curate_cli_zero_survivors(spark, tmp_path):
    """Aggressive thresholds can drop every document; the CLI must
    still exit 0 and report kept_docs=0 instead of crashing on a
    read-back of an empty parquet directory."""
    from binlog_avro_comparator_spark.curate import main as curate_main

    out = tmp_path / "curated_none"
    rc = curate_main(
        ["--docs", "/root/testdata/sf0.001/documents.parquet",
         "--out", str(out), "--max-repetition", "-1.0"],
        spark=spark,
    )
    assert rc == 0


def test_resize_images_plumbing(spark):
    """Binary-in/binary-out resize: payload sizes match the target
    geometry (fake path: 3 bytes/pixel), deterministic across calls."""
    from binlog_avro_comparator_spark.operators.multimodal import resize_images

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"imgbytes-a"), None), (2, "video", bytearray(b"skip"), None)],
        MEDIA_SCHEMA,
    )
    [r1] = resize_images(media, width=8, height=4).collect()
    assert (r1.media_id, r1.width, r1.height) == (1, 8, 4)
    assert len(r1.resized) == 8 * 4 * 3
    [r2] = resize_images(media, width=8, height=4).collect()
    assert bytes(r1.resized) == bytes(r2.resized)  # deterministic
    [r3] = resize_images(media, width=16, height=4).collect()
    assert bytes(r3.resized) != bytes(r1.resized)  # geometry-dependent


def test_image_ihdr_decoder_real_png_header(spark):
    """The pure-stdlib PNG path: a structurally-valid signature+IHDR
    yields the spec dims and decoder='ihdr'; truncated or non-PNG
    bytes fall through to the deterministic fake."""
    import struct

    from binlog_avro_comparator_spark.operators.multimodal import _decode_image

    def png(w, h):
        return (
            b"\x89PNG\r\n\x1a\n"
            + b"\x00\x00\x00\x0dIHDR"
            + struct.pack(">II", w, h)
            + b"\x08\x02\x00\x00\x00"
            + b"\x00\x00\x00\x00"  # CRC placeholder, parser skips it
        )

    assert _decode_image(png(640, 480)) == (640, 480, "ihdr")
    assert _decode_image(png(1, 99999)) == (1, 99999, "ihdr")
    # truncated before the dims -> not parseable as PNG
    assert _decode_image(png(640, 480)[:20])[2] == "fake-deterministic"
    assert _decode_image(b"\x89PNG-fake-bytes-1")[2] == "fake-deterministic"
    # end-to-end through the mapInPandas operator
    rows = [(9, "image", png(320, 200) + b"payload", ("u", "image/png", 0))]
    feats = image_features(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()
    assert (feats[0].width, feats[0].height, feats[0].decoder) == (320, 200, "ihdr")


def test_run_comparison_binary_entry(spark, io_dirs, tmp_path):
    """S2 end to end: the SAME two events as the text fixture, but
    entering as raw binlog v4 bytes through the native decoder --
    identical findings and counters to test_run_comparison_text_entry."""
    from binlog_avro_comparator_spark.sources.binlog_binary import (
        encode_binlog_file,
    )

    evs = [
        dict(event_type="WriteRowsEventV2", timestamp="2025-06-01T12:00:00Z",
             immediate_commmit_timestamp=None, log_position=100,
             schema="shop", table="orders", line_no=1),
        dict(event_type="WriteRowsEventV2", timestamp="2025-06-01T12:00:05Z",
             immediate_commmit_timestamp=None, log_position=200,
             schema="shop", table="orders", line_no=2),
    ]
    d = tmp_path / "binlog_binary"
    d.mkdir()
    (d / "mysql-bin.000001").write_bytes(encode_binlog_file(evs))
    res = run_comparison(
        spark,
        binlog_binary_dir=str(d),
        avro_jsonl=str(io_dirs / "avro" / "avro_rows.json"),
    )
    kinds = sorted(r.kind for r in res.findings.collect())
    assert kinds == ["AVRO_ONLY_BINLOG_KEY", "TIMESTAMP_MISMATCH"]
    s = res.summary.collect()[0]
    assert (s.total_avro_records, s.matched, s.ts_mismatches, s.avro_only,
            s.binlog_only) == (3, 2, 1, 1, 0)


def test_run_comparison_rejects_two_binlog_inputs(spark, io_dirs):
    with pytest.raises(ValueError):
        run_comparison(
            spark,
            binlog_text_dir="a",
            binlog_binary_dir="b",
            avro_jsonl="x",
        )


def test_debug_log_twin_line_shapes(spark, tmp_path):
    """debug_log.txt parity (comparator.sh:32): the warn-and-skip
    channel persists as one ordered text file whose lines follow the
    reference's Fprintf shapes -- malformed binlog JSON, relevant
    binlog event with missing key, malformed Avro JSON, Avro record
    with missing key fields."""
    import os

    from binlog_avro_comparator_spark.pipeline import write_debug_log

    bl = tmp_path / "binlog_metadata.json"
    bl.write_text(
        "\n".join(
            [
                json.dumps({"event_type": "WriteRowsEventV2",
                            "timestamp": "2025-06-01T12:00:00Z",
                            "log_position": 100,
                            "binlog_file": "mysql-bin.000001"}),
                "{not json at all",                       # malformed -> :114
                json.dumps({"event_type": "WriteRowsEventV2",
                            "timestamp": "2025-06-01T12:00:01Z",
                            "log_position": 0,            # zero key -> :138
                            "binlog_file": "mysql-bin.000001"}),
                json.dumps({"event_type": "Query",        # irrelevant: silent
                            "timestamp": "2025-06-01T12:00:02Z",
                            "log_position": 0,
                            "binlog_file": ""}),
            ]
        )
        + "\n"
    )
    av = tmp_path / "avro_rows.json"
    with av.open("w") as f:
        f.write(json.dumps(_avro_rec(100, BASE_MS)) + "\n")
        f.write("definitely not json\n")                  # malformed -> :172
        f.write(json.dumps(_avro_rec(0, BASE_MS)) + "\n")  # zero key -> :177
    res = run_comparison(
        spark, binlog_jsonl=str(bl), avro_jsonl=str(av)
    )
    out = str(tmp_path / "debug_log")
    write_debug_log(res.debug_log, out)
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) == 1  # the reference's single-file artifact shape
    lines = (tmp_path / "debug_log" / parts[0]).read_text().splitlines()
    assert lines[0].startswith(
        "Warning: Skipping malformed binlog JSON line 2: {not json at all"
    )
    assert lines[1].startswith(
        "Warning: Skipping binlog event on line 3 due to missing "
        "'binlog_file' or 'log_position'. Event: "
    ) and '"log_position":0' in lines[1]
    assert lines[2].startswith(
        "Warning: Error unmarshalling Avro JSON line 2: (line: definitely not json"
    )
    assert lines[3] == (
        "Warning: Skipping Avro record on line 3 due to missing "
        "'binlog_file' or 'binlog_position' in source_metadata."
    )
    assert len(lines) == 4  # irrelevant Query skip stays silent (go:124)


def test_run_comparison_binary_payload_findings_end_to_end(spark, tmp_path):
    """Payload tier through the WHOLE pipeline: genuine row-image bytes
    on the binlog side, union-wrapped payload.* JSONL on the avro side,
    payload_findings surfacing exactly the planted column divergences
    -- the check compare_timestamps.go declares its payload struct for
    (:57-63) but never performs."""
    from binlog_avro_comparator_spark.sources.binlog_binary import (
        encode_binlog_file,
    )

    def ev(line_no, pos, et="WriteRowsEventV2", **pay):
        base = dict(
            event_type=et, timestamp="2025-06-01T12:00:00Z",
            immediate_commmit_timestamp=None, log_position=pos,
            schema="shop", table="orders", line_no=line_no,
            order_id=line_no, customer_name=f"c{line_no}",
            product_name=f"p{line_no}", quantity=2,
            order_timestamp=BASE_MS, before_quantity=7,
            before_order_timestamp=BASE_MS - 1000,
        )
        base.update(pay)
        return base

    evs = [
        ev(1, 100),                              # agrees with avro
        ev(2, 200, quantity=3),                  # avro says 9 -> MISMATCH
        ev(3, 300, customer_name=None),          # row image NULL -> BINLOG_NULL
        ev(4, 400, et="UpdateRowsEventV2"),      # after image agrees; before must not leak
    ]
    d = tmp_path / "binlog_binary"
    d.mkdir()
    (d / "mysql-bin.000001").write_bytes(encode_binlog_file(evs))

    def rec(pos, line_no, quantity=2, name=None):
        r = _avro_rec(pos, BASE_MS)
        r["payload"] = {
            "order_id": {"int": line_no},
            "customer_name": {"string": name or f"c{line_no}"},
            "product_name": {"string": f"p{line_no}"},
            "quantity": {"int": quantity},
            "order_timestamp": {"long": BASE_MS},
        }
        return r

    av = tmp_path / "avro_rows.json"
    with av.open("w") as f:
        f.write(json.dumps(rec(100, 1)) + "\n")
        f.write(json.dumps(rec(200, 2, quantity=9)) + "\n")
        f.write(json.dumps(rec(300, 3, name="c3")) + "\n")
        f.write(json.dumps(rec(400, 4)) + "\n")

    res = run_comparison(spark, binlog_binary_dir=str(d), avro_jsonl=str(av))
    got = {
        (r.binlog_position, r.column): (r.binlog_value, r.avro_value, r.status)
        for r in res.payload_findings.collect()
    }
    assert got == {
        (200, "quantity"): ("3", "9", "MISMATCH"),
        (300, "customer_name"): (None, "c3", "BINLOG_NULL"),
    }
    # the metadata tier still agrees on every key
    s = res.summary.collect()[0]
    assert (s.matched, s.avro_only, s.binlog_only) == (4, 0, 0)


def test_ivm_stream_out_of_order_batches_and_idempotent_replay(spark, tmp_path):
    """commit_ivm_batch: batch 2 carries an OLDER event for a user than
    batch 1 (arbitrary chunk boundaries) -- the merged view must still
    equal the full recompute; replaying a committed batch is a no-op."""
    from binlog_avro_comparator_spark.operators.snapshot import apply_changes
    from binlog_avro_comparator_spark.streaming.snapshot_sink import (
        commit_ivm_batch,
        read_ivm_view,
    )

    def ev(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))

    # u1: view(5.0) at t2 arrives in batch 1, click(9.0) at t1 arrives
    # LATER in batch 2 (older event, must NOT displace the view state);
    # u2: click in b1 then purchase (delete) in b2; u3 only in b2
    b1 = ev([
        (2, "2024-01-02 00:00:00", 1, "view", 5.0),
        (3, "2024-01-01 00:00:00", 2, "click", 7.0),
    ])
    b2 = ev([
        (1, "2024-01-01 00:00:00", 1, "click", 9.0),
        (4, "2024-01-03 00:00:00", 2, "purchase", 0.0),
        (5, "2024-01-02 00:00:00", 3, "click", 3.0),
    ])
    work = str(tmp_path / "ivm")
    import os

    os.makedirs(work)
    commit_ivm_batch(spark, work, b1, 0)
    commit_ivm_batch(spark, work, b2, 1)
    got = {r.last_op: r for r in read_ivm_view(spark, work).collect()}
    full = {
        r.last_op: r
        for r in apply_changes(b1.unionAll(b2))
        .groupBy("last_op")
        .agg(
            F.count("*").alias("n_users"),
            F.round(
                F.sum(F.col("last_value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_last_value"),
        )
        .collect()
    }
    assert set(got) == set(full) == {"UPDATE", "INSERT"}
    for op in full:
        assert got[op].n_users == full[op].n_users
        assert got[op].sum_last_value == full[op].sum_last_value
    # u1 stayed in the view-group with value 5.0 (older click ignored),
    # u2 erased, u3 inserted
    assert got["UPDATE"].n_users == 1 and got["UPDATE"].sum_last_value == 5.0
    assert got["INSERT"].n_users == 1 and got["INSERT"].sum_last_value == 3.0
    # at-least-once replay of batch 1: pointer already swung -> no-op
    before = sorted(read_ivm_view(spark, work).collect())
    commit_ivm_batch(spark, work, b2, 1)
    assert sorted(read_ivm_view(spark, work).collect()) == before
