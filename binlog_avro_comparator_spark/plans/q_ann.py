"""embedding / ANN / multimodal queries (split from registry.py, round 7; behavior
identical -- see registry.py for the assembly order)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


def _q_cluster_profiles(spark, sf_dir):
    ensure_session_conf(spark)
    from ..operators.similarity import cluster_profiles

    return cluster_profiles(load_table(spark, sf_dir, "embeddings"))


def _q_quantize_int8(spark, sf_dir):
    ensure_session_conf(spark)
    from ..operators.similarity import quantize_embeddings_int8

    # The operator's codes column is array<int> (the useful API shape);
    # the driver's oracle canonicalization cannot hash list cells, so the
    # registered query projects it to CSV -- the primary_keys_csv pattern.
    return quantize_embeddings_int8(
        load_table(spark, sf_dir, "embeddings")
    ).select(
        "vec_id",
        F.array_join(F.col("codes"), ",").alias("codes_csv"),
        "err_units",
    )


def _q_semdedup(spark, sf_dir):
    ensure_session_conf(spark)
    from ..operators.similarity import semdedup_survivors

    return semdedup_survivors(load_table(spark, sf_dir, "embeddings"))


def _q_kmeans(spark, sf_dir):
    ensure_session_conf(spark)
    from ..operators.similarity import kmeans_assignments

    return kmeans_assignments(load_table(spark, sf_dir, "embeddings"))


def _q_kmeans_gemm(spark, sf_dir):
    """The large-k GEMM assignment path (mapInPandas matmul + packed
    argmax, round-5 verdict item 5) forced at the oracle's k=8 via
    gemm_threshold=0 -- the SAME DuckDB twin certifies both
    assignment engines produce identical clusters."""
    ensure_session_conf(spark)
    from ..operators.similarity import kmeans_assignments

    return kmeans_assignments(
        load_table(spark, sf_dir, "embeddings"), gemm_threshold=0
    )


def _q_embedding_near_dup(spark, sf_dir):
    ensure_session_conf(spark)
    return embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))


def _q_ann_cosine_topk(spark, sf_dir):
    ensure_session_conf(spark)
    return cosine_topk(load_table(spark, sf_dir, "embeddings"))


def _q_ann_cosine_topk_lsh(spark, sf_dir):
    ensure_session_conf(spark)
    return cosine_topk_lsh(load_table(spark, sf_dir, "embeddings"))


def _q_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation recall report: prefix-sliced vectors
    scored by the same brute-force scorer, graded against the
    full-dimension top-k (similarity.matryoshka_recall_report)."""
    ensure_session_conf(spark)
    from ..operators.similarity import matryoshka_recall_report

    return matryoshka_recall_report(load_table(spark, sf_dir, "embeddings"))


def _q_ann_recall_report(spark, sf_dir):
    """Recall@k eval of each approximate ANN tier (LSH, Hamming, IVF)
    against the exact brute-force top-k (similarity.ann_recall_report)
    -- the index-trust report a retrieval pipeline runs per corpus."""
    ensure_session_conf(spark)
    from ..operators.similarity import ann_recall_report

    return ann_recall_report(load_table(spark, sf_dir, "embeddings"))


def _q_embedding_sign_bits(spark, sf_dir):
    """1-bit (sign) quantization: per-dimension mean thresholds packed
    into one BIGINT per vector (similarity.sign_bit_words) -- the 64x
    shrink tier under int8/PQ, and the representation ann_hamming_topk
    serves from."""
    ensure_session_conf(spark)
    from ..operators.similarity import sign_bit_words

    return sign_bit_words(load_table(spark, sf_dir, "embeddings"))


def _q_ann_hamming_topk(spark, sf_dir):
    """Binary-quantization ANN: Hamming scan over packed sign words
    (XOR + popcount, 8 bytes/vector corpus-side) shortlists rerank
    candidates per query; exact cosine re-ranks the survivors
    (similarity.hamming_topk)."""
    ensure_session_conf(spark)
    from ..operators.similarity import hamming_topk

    return hamming_topk(load_table(spark, sf_dir, "embeddings"))


def _q_ann_cosine_topk_ivf(spark, sf_dir):
    ensure_session_conf(spark)
    return cosine_topk_ivf(load_table(spark, sf_dir, "embeddings"))


def _q_ann_cosine_topk_pandas(spark, sf_dir):
    ensure_session_conf(spark)
    return cosine_topk_pandas(load_table(spark, sf_dir, "embeddings"))


# PQ model store (r11 verdict item 8 -> r12): the four PQ consumers
# (code table, ADC top-k, IVF-PQ composition, distortion census) each
# re-derived the identical per-subspace codebooks -- m k-means fits, 2
# Lloyd iterations each -- per query.  The model is a deterministic
# pure function of the embeddings table and its params (the kmeans
# recipe is seeded by vec_id stride), so it is derived once per
# embeddings table through the ONE pq_model definition into the
# per-process fixture store, and its scans persist once per session --
# the _guard_payload_frames discipline: no cross-run persistence, and
# the derivation stays oracle-certified through every consumer.
def _pq_model_frames(spark, sf_dir):
    import os

    def build(d):
        from ..operators.similarity import pq_model

        codes, cents = pq_model(load_table(spark, sf_dir, "embeddings"))
        codes.write.parquet(os.path.join(d, "codes"))
        cents.write.parquet(os.path.join(d, "cents"))

    d = materialized(spark, "pq_model", build, sf_dir)
    # child frames so operator cache scopes never release this one
    return tuple(
        persisted(read_stored_parquet(spark, os.path.join(d, p)))
        for p in ("codes", "cents")
    )


def _q_embedding_pq_codes(spark, sf_dir):
    from ..operators.similarity import pq_codes

    ensure_session_conf(spark)
    return pq_codes(
        load_table(spark, sf_dir, "embeddings"),
        model=_pq_model_frames(spark, sf_dir),
    )


def _q_ann_pq_adc_topk(spark, sf_dir):
    from ..operators.similarity import pq_adc_topk

    ensure_session_conf(spark)
    return pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        model=_pq_model_frames(spark, sf_dir),
    )


def _q_ann_ivf_pq_topk(spark, sf_dir):
    """The full IVF-PQ composition (similarity.ivf_pq_topk): IVF
    routing bounds WHICH vectors score (n_probe lists; the partition
    prune at cluster scale), PQ asymmetric distance bounds the BYTES
    per scored vector (m codes, never the raw embedding) -- the
    billion-vector serving-index shape, composed from the two
    independently-verified halves."""
    from ..operators.similarity import ivf_pq_topk

    ensure_session_conf(spark)
    return ivf_pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        model=_pq_model_frames(spark, sf_dir),
    )


def _q_embedding_coreset(spark, sf_dir):
    """Prototypicality coreset selection (similarity.embedding_coreset):
    keep the hard examples per k-means cluster, prune the
    centroid-hugging easy ones -- the abundant-data pruning recipe,
    with per-cluster boundaries from one k-row percentile aggregate."""
    from ..operators.similarity import embedding_coreset

    ensure_session_conf(spark)
    return embedding_coreset(load_table(spark, sf_dir, "embeddings"))


def _q_embedding_prototypes(spark, sf_dir):
    """Prototype selection (similarity.embedding_prototypes): per
    k-means cluster the 5 most-central vectors -- the eval-seed /
    labeling / cluster-naming pick, dual of the coreset; per-cluster
    top-k executes as WindowGroupLimit (map-side partial limit)."""
    from ..operators.similarity import embedding_prototypes

    ensure_session_conf(spark)
    return embedding_prototypes(load_table(spark, sf_dir, "embeddings"))


def _q_media_exact_dedup(spark, sf_dir):
    """Blob-level exact dedup over the derived media frame (documents'
    text bytes as opaque content, doubled for ids >= 490 to plant
    duplicates the synthetic corpus lacks at blob level)."""
    from ..operators.multimodal import media_exact_dedup

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.when(F.col("doc_id") % 490 < 10, F.lit("shared-blob")).otherwise(
                F.col("text")
            ),
            "utf-8",
        ).alias("content"),
    )
    return media_exact_dedup(media)


def _q_ivf_probe_curve(spark, sf_dir):
    """The n_probe tuning curve (similarity.ivf_probe_curve): recall@k
    at each probe count against brute-force truth, one shared index --
    the measured readout behind IVF's one free parameter."""
    from ..operators.similarity import ivf_probe_curve

    ensure_session_conf(spark)
    return ivf_probe_curve(load_table(spark, sf_dir, "embeddings"))


def _q_embedding_dup_clusters(spark, sf_dir):
    """Embedding-space duplicate CLUSTERS: connected components over
    the cosine near-dup pair graph (dedup_clusters' min-label fixpoint
    with the embedding edges plugged in) -- completes the embedding
    dedup story pairs -> clusters, mirroring the text tier.  The
    synthetic embeddings are near-orthogonal (zero natural near-dups
    at any SF), so exact copies are PLANTED at vec_id % 25 == 0
    (copy id = vec_id + 100000), the media_exact_dedup convention."""
    from ..operators.similarity import embedding_near_dup_pairs

    ensure_session_conf(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(planted)
    edges = embedding_near_dup_pairs(corpus, n_planes=8).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return dedup_clusters(None, edges=edges).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


def _q_media_type_census(spark, sf_dir):
    """Magic-byte type inventory (multimodal.media_type_census) over a
    media frame with PLANTED signatures (PNG/JPEG/WAV/AVI/PDF/GZIP by
    doc_id % 7, the rest raw text -> unknown); content is built via
    unhex(sig_hex || hex(text)) so both engines derive identical
    bytes."""
    from ..operators.multimodal import media_type_census

    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 7
    sig = (
        F.when(m == 0, "89504E470D0A1A0A")
        .when(m == 1, "FFD8FFE000104A46")
        .when(m == 2, "524946460C00000057415645")
        .when(m == 3, "524946460C00000041564920")
        .when(m == 4, "255044462D312E37")
        .when(m == 5, "1F8B0800")
        .otherwise("")
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.concat(sig, F.hex(F.encode(F.col("text"), "utf-8")))).alias(
            "content"
        ),
    )
    return media_type_census(media)


def _q_media_near_dup(spark, sf_dir):
    """Blob-level NEAR-dup pairs (multimodal.media_near_dup_pairs):
    byte-chunk Jaccard over the derived media frame, with a planted
    shared 260-byte header block on doc_id % 101 < 3 so partial
    overlaps exist at blob level (the synthetic corpus has none)."""
    from ..operators.multimodal import media_near_dup_pairs

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.when(
                F.col("doc_id") % 101 < 3,
                F.concat(F.repeat(F.lit("HEADER-BLOCK "), 20), F.col("text")),
            ).otherwise(F.col("text")),
            "utf-8",
        ).alias("content"),
    )
    return media_near_dup_pairs(media)


def _perceptual_media(spark, sf_dir):
    """Synthetic-BMP media frame for the perceptual tier: each doc
    becomes a real 16x16 8-bit grayscale BMP (spec layout, decoded
    back by the pure-stdlib parser) whose pixels derive from doc_id
    arithmetic only -- so the oracle recomputes the expected hash from
    the same arithmetic WITHOUT touching bytes (encode -> decode ->
    hash vs pure SQL: two independent paths).  doc_id % 25 == 0 plants
    a brightness-shifted RE-ENCODE (every pixel byte +32, media_id
    += 500000): zero shared rare byte-chunks -- provably invisible to
    media_near_dup_pairs -- but aHash-identical, the exact blind spot
    the r8 verdict named.  doc_id % 31 == 3 plants a CONTAINER-SWAP
    re-encode (the same pixels written as a real zlib-compressed PNG
    with all five scanline filters, media_id += 700000): byte tier
    blind again, and the green row certifies decoder='png' -- the
    pure-stdlib PNG pixel path (r9 verdict item 3).  doc_id % 41 == 5
    plants the LOSSY-FORMAT pair (r10 verdict item 7): a 64x64
    BLOCK-CONSTANT grayscale BMP (media_id += 800000) and the SAME
    content as a real baseline JPEG (media_id += 900000; all-ones
    quant table makes the constant-block DC roundtrip exact) -- byte
    tier blind, aHashes identical, and the green row certifies
    decoder='jpeg-dc', the stdlib DC-coefficient path."""
    from ..operators.multimodal import (
        encode_bmp_gray,
        encode_jpeg_gray_blocks,
        encode_png_gray,
    )

    ensure_session_conf(spark)
    docs = _docs(spark, sf_dir).select("doc_id")

    def gen(batches):
        import pandas as _pd

        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                # the d//191 term enters the PHASE (not as a uniform
                # shift, which aHash is invariant to by design), so
                # image content is unique per doc up to 191*192 docs
                # and pair volume stays linear in corpus size
                base = bytes(
                    (
                        (1 + d % 191) * (16 * r + c + 3 + d // 191)
                        + (d % 7 + 2) * r * r
                        + (d % 11 + 1) * c * c
                    )
                    % 192
                    for r in range(16)
                    for c in range(16)
                )
                out.append((d, encode_bmp_gray(base, 16, 16)))
                if d % 25 == 0:
                    shifted = bytes(p + 32 for p in base)
                    out.append((d + 500000, encode_bmp_gray(shifted, 16, 16)))
                if d % 31 == 3:
                    out.append((d + 700000, encode_png_gray(base, 16, 16)))
                if d % 41 == 5:
                    # 8x8 block values; same arithmetic shape at block
                    # granularity (block-constant => the JPEG's DCT is
                    # pure DC and the DC tier decodes it exactly)
                    blocks = bytes(
                        (
                            (1 + d % 191) * (8 * br + bc + 3 + d // 191)
                            + (d % 7 + 2) * br * br
                            + (d % 11 + 1) * bc * bc
                        )
                        % 192
                        for br in range(8)
                        for bc in range(8)
                    )
                    full = bytes(
                        blocks[(r // 8) * 8 + (c // 8)]
                        for r in range(64)
                        for c in range(64)
                    )
                    out.append((d + 800000, encode_bmp_gray(full, 64, 64)))
                    out.append(
                        (d + 900000, encode_jpeg_gray_blocks(blocks, 8, 8))
                    )
            yield _pd.DataFrame(out, columns=["media_id", "content"])

    return docs.mapInPandas(gen, "media_id long, content binary")


def _perceptual_video(spark, sf_dir):
    """Synthetic-AVI frame for the video perceptual tier: genuine RIFF
    containers whose '00dc' frames are RAW 16x16 grayscale rasters
    derived from (doc_id, frame) arithmetic.  doc_id % 20 == 0 plants
    a RE-RENDER (every frame brightness +32, last frame trimmed,
    media_id += 600000): all bytes and frame shas differ, but the
    frame aHashes match on n-1 of n frames -- perceptual frame-set
    Jaccard (n-1)/n >= 2/3."""
    from ..operators.multimodal import encode_avi

    ensure_session_conf(spark)
    docs = _docs(spark, sf_dir).select("doc_id")

    def gen(batches):
        import pandas as _pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 3 + d % 3
                frames = [
                    bytes(
                        (
                            (1 + d % 191)
                            * (16 * r + c + 3 + 5 * f + d // 191)
                            + (d % 7 + 2) * r * r
                            + (d % 11 + 1) * c * c
                        )
                        % 192
                        for r in range(16)
                        for c in range(16)
                    )
                    for f in range(n)
                ]
                rows.append((d, encode_avi(frames, width=16, height=16)))
                if d % 20 == 0:
                    trimmed = [bytes(p + 32 for p in fr) for fr in frames[:-1]]
                    rows.append(
                        (d + 600000, encode_avi(trimmed, width=16, height=16))
                    )
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return docs.mapInPandas(gen, "media_id long, content binary")


def _q_video_perceptual_dup(spark, sf_dir):
    """Video near-dup by perceptual frame-set Jaccard
    (multimodal.video_perceptual_pairs): real container walk -> raw
    raster frames -> per-frame aHash -> rare-hash candidates -> set
    overlap.  The planted brightness-shifted trimmed re-renders
    surface at jaccard (n-1)/n; frame shas and bytes share nothing."""
    from ..operators.multimodal import video_perceptual_pairs

    return video_perceptual_pairs(_perceptual_video(spark, sf_dir))


def _q_media_ahash(spark, sf_dir):
    """Perceptual average-hash (multimodal.image_ahash) over the
    synthetic-BMP frame: the green row certifies decoder='bmp' -- the
    REAL stdlib decode path, orientation-normalized bottom-up rows and
    all -- with the four hash bands integer-exact against the oracle's
    arithmetic derivation."""
    from ..operators.multimodal import image_ahash

    return image_ahash(_perceptual_media(spark, sf_dir))


def _q_media_perceptual_dup(spark, sf_dir):
    """Perceptual near-dup pairs (multimodal.media_perceptual_dup_pairs):
    band-LSH candidates (pigeonhole-complete for hamming <= 3) +
    xor/bit_count verify.  The planted brightness-shifted re-encodes
    surface at hamming 0; the byte tier misses them by construction
    (tests/test_extensions pins that miss)."""
    from ..operators.multimodal import media_perceptual_dup_pairs

    return media_perceptual_dup_pairs(_perceptual_media(spark, sf_dir))


def _q_media_features(spark, sf_dir):
    """Multimodal decode, oracle-checked on the REAL decoder path:
    each document becomes an IHDR-valid synthetic PNG -- the 8-byte
    PNG signature, a spec-layout IHDR chunk whose width/height derive
    from doc_id (8-bit RGB, zero CRC placeholder: the header parser
    does not verify CRC and DuckDB cannot compute PNG's CRC-32), and
    the text bytes as opaque payload.  image_features' pure-stdlib
    IHDR parser (multimodal._decode_image) reads the dims back, so the
    green row certifies decoder='ihdr', not the deterministic fake;
    the oracle reconstructs the identical blob byte for byte.

    Digest column: the operator's sha256 is over raw bytes, which this
    DuckDB (1.0) cannot hash (sha256 is VARCHAR-only), so the
    registered query certifies blob identity as sha256 over the
    lowercase hex encoding -- computed independently on both sides
    from the full content bytes, so it still pins every byte."""
    docs = _docs(spark, sf_dir)
    # 89 PNG \r \n 1a \n | len=13 | "IHDR"
    png_prefix = bytes.fromhex("89504e470d0a1a0a0000000d49484452")
    # bit depth 08, color type 02 (RGB), compression/filter/interlace
    # 00, then 4 zero CRC bytes
    ihdr_tail = bytes.fromhex("080200000000000000")
    be32 = lambda c: F.unhex(F.lpad(F.hex(c.cast("long")), 8, "0"))  # noqa: E731
    width = (F.col("doc_id") % 192 + 64).cast("long")
    height = ((F.col("doc_id") * 7) % 192 + 64).cast("long")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(
            F.lit(png_prefix),
            be32(width),
            be32(height),
            F.lit(ihdr_tail),
            F.encode(F.col("text"), "utf-8"),
        ).alias("content"),
    )
    # two readers (hex digest + IHDR feature extraction) over the same
    # synthetic-PNG projection: scoped-cached so the documents scan and
    # blob construction run once, not once per subtree
    from ..functions.caching import scoped_cache

    media = scoped_cache(media)
    hex_digest = media.select(
        "media_id",
        F.sha2(F.lower(F.hex(F.col("content"))), 256).alias("sha256_hex"),
    )
    return (
        image_features(media)
        .drop("sha256")
        .join(hex_digest, on="media_id")
        .select("media_id", "sha256_hex", "n_bytes", "width", "height", "decoder")
    )


def _q_media_video_frames(spark, sf_dir):
    """Video frame-sampling plumbing, oracle-checked: documents' text
    bytes as opaque video blobs, every 10th 1024-byte 'frame' (up to 8)
    hashed via Arrow mapInPandas; the corpus is ASCII so the DuckDB
    twin states the same slicing over VARCHAR."""
    from ..operators.multimodal import sample_video_frames

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    return sample_video_frames(media)


def _q_media_video_frames_riff(spark, sf_dir):
    """Real-CONTAINER video path: each document's text bytes packed as
    a GENUINE minimal RIFF-AVI (LIST hdrl/avih + movi '00dc' chunks,
    64-byte frames, max 8, doc-derived header dims) in one distributed
    mapInPandas stage, then decoded back by the pure-stdlib RIFF walker
    -- same move as the IHDR image and binlog-binary paths: real bytes,
    real parser, no driver-side collect anywhere.  The oracle restates
    the frame slicing + header dims directly over the ASCII text."""
    import pandas as _pd

    from ..operators.multimodal import encode_avi, video_frames_riff

    ensure_session_conf(spark)
    docs = _docs(spark, sf_dir)

    def _enc(batches):
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("utf-8")
                n = min(max(len(b) // 64, 1), 8)
                frames = [b[i * 64 : (i + 1) * 64] for i in range(n)]
                rows.append(
                    (
                        int(did),
                        "video",
                        encode_avi(
                            frames,
                            width=64 + int(did) % 192,
                            height=48 + int(did) % 100,
                        ),
                    )
                )
            yield _pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    media = docs.select("doc_id", "text").mapInPandas(
        _enc,
        "media_id long, kind string, content binary",
    )
    return video_frames_riff(media)


def _q_media_audio_features(spark, sf_dir):
    """Real audio decode, oracle-checked: PCM16 WAV files synthesized
    per document (parameters derived from doc_id), decoded back by the
    stdlib-wave path of audio_features.  The DuckDB twin recomputes the
    expected features from the same doc_id derivation WITHOUT decoding
    -- so the check proves decode inverts encode.  Constant-amplitude
    signal makes rms exactly amp/32768 (power-of-two division, IEEE
    exact in both engines)."""
    import io
    import struct
    import wave

    docs = _docs(spark, sf_dir).select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                ch = 1 + did % 2
                sr = (8000, 16000, 44100)[did % 3]
                n = 400 + (did % 50) * 8
                amp = 1000 + (did % 20) * 500
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(ch)
                    w.setsampwidth(2)
                    w.setframerate(sr)
                    w.writeframes(struct.pack(f"<{n * ch}h", *([amp] * (n * ch))))
                rows.append((did, "audio", buf.getvalue()))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    import pandas as pd

    media = docs.mapInPandas(
        synth, schema="media_id long, kind string, content binary"
    )
    return audio_features(media).select(
        "media_id",
        "channels",
        "sample_rate",
        "n_samples",
        "duration_s",
        "rms",
        "decoder",
    )


def _q_hard_negatives(spark, sf_dir):
    """Contrastive triplet mining (similarity.hard_negative_pairs):
    positives and margin-gapped hard negatives picked from the graded
    brute-force top-k candidate frame."""
    ensure_session_conf(spark)
    from ..operators.similarity import hard_negative_pairs

    return hard_negative_pairs(load_table(spark, sf_dir, "embeddings"))


def _q_media_arrow_digest(spark, sf_dir):
    """mapInArrow blob digests over the derived media frame
    (multimodal.arrow_blob_digest): md5 hex + byte length straight off
    Arrow buffers, no pandas materialization."""
    ensure_session_conf(spark)
    from ..operators.multimodal import arrow_blob_digest

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.when(F.col("doc_id") % 490 < 10, F.lit("shared-blob")).otherwise(
                F.col("text")
            ),
            "utf-8",
        ).alias("content"),
    )
    return arrow_blob_digest(media)


def _q_embedding_drift(spark, sf_dir):
    """Per-label centroid drift vs the corpus mean
    (similarity.embedding_label_drift): decimal-exact per-dim sums,
    12-dp-rounded cosine terms."""
    ensure_session_conf(spark)
    from ..operators.similarity import embedding_label_drift

    return embedding_label_drift(load_table(spark, sf_dir, "embeddings"))


def _q_bitext_margin(spark, sf_dir):
    """Margin-based bitext mining between two label segments
    (similarity.bitext_margin_pairs): ratio-margin criterion over
    cross-segment cosines, top-1 target per source -- the parallel-
    corpus mining step of a multilingual training pipeline."""
    ensure_session_conf(spark)
    from ..operators.similarity import bitext_margin_pairs

    return bitext_margin_pairs(
        load_table(spark, sf_dir, "embeddings"), src_label=0, dst_label=1
    )


def _q_knn_label_audit(spark, sf_dir):
    """kNN label-noise audit (similarity.knn_label_audit): per-vector
    majority-of-neighbors label vs the stored label -- the re-annotation
    queue of an embedding-labeled corpus."""
    ensure_session_conf(spark)
    from ..operators.similarity import knn_label_audit

    return knn_label_audit(load_table(spark, sf_dir, "embeddings"))


def _ivf_index(spark, sf_dir, incremental: bool = False):
    """The persisted IVF index (``index/``, one directory per inverted
    list) and its frozen centroid frame (``cents/``), stored once per
    embeddings table.  ``incremental`` builds the base from 80% of the
    corpus and appends the remaining 20% against the frozen centroids
    (layout.append_ivf_index)."""
    import os

    from ..functions.layout import append_ivf_index, write_ivf_index
    from ..operators.similarity import assign_centroids

    def build(d):
        emb = load_table(spark, sf_dir, "embeddings")
        index = os.path.join(d, "index")
        if incremental:
            # the quantizer derives from the FULL corpus and freezes;
            # the stored rows split 80/20 between base build and append
            cents, _ = assign_centroids(emb)
            cents = spark.createDataFrame(cents.collect(), schema=cents.schema)
            write_ivf_index(emb.filter(F.col("vec_id") % 5 != 0), index, cents=cents)
            append_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), index, cents)
        else:
            cents = write_ivf_index(emb, index)
        cents.write.parquet(os.path.join(d, "cents"))

    kind = "ivf_index_inc" if incremental else "ivf_index"
    d = materialized(spark, kind, build, sf_dir)
    # the tiny frozen centroid frame, read back so repeat probes skip
    # the build
    cents = read_stored_parquet(spark, os.path.join(d, "cents"))
    return os.path.join(d, "index"), cents


def _q_ivf_probe_pruned(spark, sf_dir):
    """IVF probe over a PERSISTED centroid-partitioned index
    (functions/layout.write_ivf_index + ivf_probe_pruned, r7 verdict
    item 4): the index builds once per process into the fixture store
    (one parquet directory per inverted list), and the probe's literal
    centroid filter partition-prunes the scan to the probed lists --
    result-identical to ann_cosine_topk_ivf by contract, so they share
    the oracle."""
    ensure_session_conf(spark)
    from ..functions.layout import ivf_probe_pruned

    emb = load_table(spark, sf_dir, "embeddings")
    d, cents = _ivf_index(spark, sf_dir)
    return ivf_probe_pruned(
        spark, d, cents, emb.filter(F.col("vec_id") < 32), k=5, n_probe=4
    )


def _q_ivf_probe_incremental(spark, sf_dir):
    """Incremental-index invariant (layout.append_ivf_index): build
    the IVF layout from 80% of the corpus, append the remaining 20%
    against the FROZEN centroids, probe -- the result equals the
    full-build probe (shared oracle), because assignment is
    query-independent and centroid-frozen.  Index freshness without a
    rebuild."""
    ensure_session_conf(spark)
    from ..functions.layout import ivf_probe_pruned

    emb = load_table(spark, sf_dir, "embeddings")
    d, cents = _ivf_index(spark, sf_dir, incremental=True)
    return ivf_probe_pruned(
        spark, d, cents, emb.filter(F.col("vec_id") < 32), k=5, n_probe=4
    )


def _q_knn_audit_bucketed(spark, sf_dir):
    """kNN label-noise audit on the SCALE path
    (similarity.knn_label_audit with candidates= from
    similarity.hyperplane_candidates): neighbor candidates are LSH
    same-bucket pairs (4 planes x 2 OR-tables), cosines JVM-side array
    folds, top-k a window WITHIN candidates -- the no-driver-collect
    tier the r7 verdict asked to make callable.  Same vote tail as the
    exact audit."""
    ensure_session_conf(spark)
    from ..operators.similarity import hyperplane_candidates, knn_label_audit

    emb = load_table(spark, sf_dir, "embeddings")
    cand = hyperplane_candidates(emb, n_planes=4, n_tables=2)
    return knn_label_audit(emb, candidates=cand)


def _q_bitext_margin_bucketed(spark, sf_dir):
    """Margin-based bitext mining on the SCALE path
    (similarity.bitext_margin_pairs with candidates=): cross-segment
    candidate pairs from shared hyperplane buckets (4 planes x 2
    OR-tables), per-side kNN statistics as windows within candidates,
    margin algebra unchanged -- no driver collect anywhere."""
    ensure_session_conf(spark)
    from ..operators.similarity import (
        bitext_margin_pairs,
        hyperplane_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cand = hyperplane_candidates(emb, n_planes=4, n_tables=2).select(
        F.col("a_id").alias("src_id"), F.col("b_id").alias("dst_id")
    )
    return bitext_margin_pairs(
        emb, src_label=0, dst_label=1, candidates=cand
    )


def _q_ivf_list_balance(spark, sf_dir):
    """IVF index health: per-centroid posting-list sizes and load
    factor (n / mean) from the verified k-means assignment -- the
    report that says whether n_probe queries will hit balanced lists
    or one hot centroid (the ANN twin of the join planner's skew
    ladder)."""
    ensure_session_conf(spark)
    from ..operators.similarity import kmeans_assignments

    asg = kmeans_assignments(load_table(spark, sf_dir, "embeddings"))
    per = asg.groupBy("centroid_id").agg(F.count("*").alias("n_vectors"))
    tot = F.sum("n_vectors").over(Window.partitionBy())
    cnt = F.count("*").over(Window.partitionBy())
    return per.select(
        "centroid_id",
        "n_vectors",
        F.round(F.col("n_vectors") / tot, 6).alias("share"),
        F.round(F.col("n_vectors") * cnt / tot, 6).alias("load_factor"),
    )


def _q_audio_perceptual_dup(spark, sf_dir):
    """Gain/resample-invariant audio near-dup
    (multimodal.audio_perceptual_pairs): PCM16 clips synthesized per
    doc as 16 constant-amplitude windows (level = a doc-and-window
    integer mix, SQL-expressible); docs with doc_id%17==4 get a
    re-mastered copy at HALF GAIN and 80 samples/window instead of
    100 -- bytes and sha totally different, energy contour identical.
    The Spark side REALLY decodes (stdlib wave) and hashes the
    contour; the DuckDB twin recomputes the hash from the amplitude
    arithmetic without ever building a WAV -- the check proves
    decode + hash inverts encode, the media_ahash discipline."""
    import io
    import struct
    import wave

    import pandas as _pd

    from ..operators.multimodal import audio_perceptual_pairs

    ensure_session_conf(spark)
    docs = _docs(spark, sf_dir).select("doc_id")

    def synth(batches):
        def clip(did: int, div: int, per: int) -> bytes:
            samples = []
            for w in range(16):
                # two coprime moduli: a single-mod mix collapses to
                # doc_id mod 97 and every ~97th doc shares the whole
                # contour (measured 1778 pairs); the pair keeps the
                # class space at 97*89 >> corpus
                lvl = (
                    ((did + 1) * (w + 3)) % 97
                    + ((did + 11) * (w + 5)) % 89
                ) % 8
                samples.extend([(500 + 400 * lvl) // div] * per)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wv:
                wv.setnchannels(1)
                wv.setsampwidth(2)
                wv.setframerate(16000)
                wv.writeframes(struct.pack(f"<{len(samples)}h", *samples))
            return buf.getvalue()

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rows.append((did, "audio", clip(did, 1, 100)))
                if did % 17 == 4:
                    rows.append((did + 900000, "audio", clip(did, 2, 80)))
            yield _pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    media = docs.mapInPandas(
        synth, schema="media_id long, kind string, content binary"
    )
    return audio_perceptual_pairs(media)


def _q_pq_distortion(spark, sf_dir):
    """PQ distortion census (similarity.pq_distortion): per (subspace,
    code) exact-decimal reconstruction error -- the acceptance gate
    for a PQ memory budget."""
    ensure_session_conf(spark)
    from ..operators.similarity import pq_distortion

    return pq_distortion(
        load_table(spark, sf_dir, "embeddings"),
        model=_pq_model_frames(spark, sf_dir),
    )


__all__ = [_n for _n in list(globals()) if not _n.startswith('__') and _n != '_shared']
