"""Unit tests backing every rows-only key's documented claim
(SURVEY.md §2 note: un-oracled keys must record why AND be tested here).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from correlationapi_spark.registry import load_registry

from .conftest import SF_SMOKE

REGISTRY = load_registry()


def test_approx_count_distinct_error_bound(spark):
    approx = {
        r.l_returnflag: r.approx_parts
        for r in REGISTRY["q_agg_approx_distinct"].fn(spark, SF_SMOKE).collect()
    }
    exact = {
        r.l_returnflag: r.n_parts
        for r in REGISTRY["q_agg_distinct"].fn(spark, SF_SMOKE).collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) / n < 0.05, (flag, approx[flag], n)


def test_approx_percentile_bracketed(spark):
    from correlationapi_spark.io import load_tables

    li = load_tables(spark, SF_SMOKE)["lineitem"]
    brackets = {
        r.l_returnflag: (r.lo, r.hi)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", 0.45).alias("lo"),
            F.percentile("l_extendedprice", 0.55).alias("hi"),
        )
        .collect()
    }
    for r in REGISTRY["q_agg_approx_percentile"].fn(spark, SF_SMOKE).collect():
        lo, hi = brackets[r.l_returnflag]
        assert lo <= r.approx_median <= hi


def test_minhash_lsh_recall_vs_exact(spark):
    exact = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_dedup_ngram"].fn(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_dedup_near"].fn(spark, SF_SMOKE).collect()
    }
    assert exact, "fixture should contain near-duplicates"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.6, recall  # measured 1.0 at both sf0.001/sf0.01


def test_simhash_stable_and_discriminative(spark):
    sig1 = {r.doc_id: r.simhash for r in REGISTRY["q_dedup_simhash"].fn(spark, SF_SMOKE).collect()}
    sig2 = {r.doc_id: r.simhash for r in REGISTRY["q_dedup_simhash"].fn(spark, SF_SMOKE).collect()}
    assert sig1 == sig2  # deterministic across runs

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = [
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_dedup_ngram"].fn(spark, SF_SMOKE).collect()
    ]
    near_h = [hamming(sig1[a], sig1[b]) for a, b in near]
    ids = sorted(sig1)[:60]
    rand_h = [hamming(sig1[a], sig1[b]) for a in ids[:30] for b in ids[30:]]
    assert sum(near_h) / len(near_h) < sum(rand_h) / len(rand_h)


def test_embed_lsh_precision_and_recall_vs_exact(spark):
    """q_dedup_embed_lsh composes LSH candidate buckets with the SAME τ=0.4
    cosine threshold as the exact key: every reported pair must also be an
    exact pair (refine → perfect precision), and recall stays useful."""
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in REGISTRY["q_dedup_embed"].fn(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in REGISTRY["q_dedup_embed_lsh"].fn(spark, SF_SMOKE).collect()
    }
    assert exact, "fixture should contain cosine near-dup pairs"
    assert set(lsh) <= set(exact)  # exact refine ⇒ no false positives
    recall = len(set(lsh) & set(exact)) / len(exact)
    assert recall >= 0.6, recall
    for pair, cos in lsh.items():
        assert abs(cos - exact[pair]) < 1e-4  # 1−d²/2 IS the exact cosine


def test_sim_pairs_lsh_precision_and_recall_vs_exact(spark):
    """q_sim_pairs_lsh is the declared sub-quadratic twin of q_sim_pairs:
    same τ=0.35 contract, exact-cosine refine ⇒ no false positives, and
    recall vs the exact all-pairs output stays useful."""
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in REGISTRY["q_sim_pairs"].fn(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in REGISTRY["q_sim_pairs_lsh"].fn(spark, SF_SMOKE).collect()
    }
    assert exact, "fixture should contain cosine pairs above tau"
    assert set(lsh) <= set(exact)  # exact refine ⇒ no false positives
    recall = len(set(lsh) & set(exact)) / len(exact)
    assert recall >= 0.6, recall
    for pair, cos in lsh.items():
        assert abs(cos - exact[pair]) < 1e-4


def test_lsh_topk_recall_vs_exact(spark):
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in REGISTRY["q_sim_topk"].fn(spark, SF_SMOKE).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in REGISTRY["q_sim_topk_lsh"].fn(spark, SF_SMOKE).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.6


def test_spark_hashes_pinned(spark):
    """xxhash64/crc32/hash have no oracle; pin one known row so silent
    algorithm changes (or nondeterminism) fail loudly."""
    row1 = (
        REGISTRY["q_fn_hash_spark"]
        .fn(spark, SF_SMOKE)
        .filter(F.col("doc_id") == 0)
        .collect()[0]
    )
    row2 = (
        REGISTRY["q_fn_hash_spark"]
        .fn(spark, SF_SMOKE)
        .filter(F.col("doc_id") == 0)
        .collect()[0]
    )
    assert row1 == row2
    assert len(row1.text_sha1) == 40


def test_multimodal_values_pinned(spark):
    import hashlib

    from correlationapi_spark.llm.multimodal import (
        AVI_VARIANTS,
        GIF_VARIANTS,
        JPEG_VARIANTS,
        PNG_VARIANTS,
        WAV_VARIANTS,
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_png_pixels,
        decode_wav,
        parse_avi,
        parse_gif,
    )

    rows = {
        r.doc_id: r
        for r in REGISTRY["q_multimodal_meta"].fn(spark, SF_SMOKE).collect()
    }
    from correlationapi_spark.io import load_tables

    docs = {r.doc_id: r for r in load_tables(spark, SF_SMOKE)["documents"].collect()}
    assert len(rows) == len(docs)
    saw_png = saw_gif = saw_wav = saw_avi = saw_fake = saw_jpeg = False
    for did, r in list(rows.items())[:60]:
        raw = docs[did].text.encode()
        if did % 10 == 0:  # complete PNG: real IHDR + real pixel decode
            saw_png = True
            png = PNG_VARIANTS[did % 3]
            w, h, _, pixels = decode_png_pixels(png)
            assert r.n_bytes == len(png)
            assert r.head_hex == png[:8].hex()
            assert (r.width, r.height, r.decoder) == (w, h, "png-ihdr")
            assert (w, h) == (6 + 2 * (did % 3), 5 + 3 * (did % 3))
            assert r.mime == "image/png"
            # pixel-level stats only a genuine inflate+unfilter yields
            assert r.px_sha256 == hashlib.sha256(pixels).hexdigest()
            assert abs(r.px_mean - sum(pixels) / len(pixels)) < 1e-9
        elif did % 10 == 5:  # complete multi-frame GIF, real LSD decode
            saw_gif = True
            gif = GIF_VARIANTS[did % 3]
            sw, sh, _ = parse_gif(gif)
            assert r.n_bytes == len(gif)
            assert r.head_hex == gif[:8].hex()
            assert (r.width, r.height, r.decoder) == (sw, sh, "gif-lsd")
            assert r.mime == "image/gif"
            # round 6: real LZW pixel decode — the fixtures are solid
            # color-0 frames, so the RGB stream is exactly
            # 3*w*h*n_frames zero bytes (recomputed independently here)
            _, _, nf, pixels = decode_gif_pixels(gif)
            assert pixels == bytes(3 * sw * sh * nf)
            assert r.px_sha256 == hashlib.sha256(pixels).hexdigest()
            assert r.px_mean == 0.0
        elif did % 10 == 3:  # complete AVI: real container demux
            saw_avi = True
            avi = AVI_VARIANTS[did % 3]
            vw, vh, _us, _frames = parse_avi(avi)
            assert r.n_bytes == len(avi)
            assert (r.width, r.height, r.decoder) == (vw, vh, "avi-riff")
            assert (vw, vh) == (160 + 32 * (did % 3), 120 + 24 * (did % 3))
            assert r.mime == "video/x-msvideo"
            assert r.px_sha256 is None and r.rms is None
        elif did % 10 == 7:  # complete PCM WAV: real RIFF + sample decode
            saw_wav = True
            wav = WAV_VARIANTS[did % 3]
            rate, _nch, samples, off = decode_wav(wav)
            assert r.n_bytes == len(wav)
            assert (r.width, r.height) == (None, None)
            assert r.decoder == "wav-pcm" and r.mime == "audio/wav"
            assert (r.sample_rate, r.n_samples) == (rate, len(samples))
            want_rms = (
                sum(s * s for s in samples) / len(samples)
            ) ** 0.5
            assert r.rms == pytest.approx(want_rms, abs=1e-5)
            assert r.px_sha256 == hashlib.sha256(
                wav[off : off + 2 * len(samples)]
            ).hexdigest()
        elif did % 10 == 9:  # round 7: complete baseline JPEG, real
            saw_jpeg = True  # Huffman+IDCT pixel decode
            jpg = JPEG_VARIANTS[did % 3]
            w, h, nch, pixels = decode_jpeg_pixels(jpg)
            assert r.n_bytes == len(jpg)
            assert r.head_hex == jpg[:8].hex()
            assert (r.width, r.height, r.decoder) == (w, h, "jpeg-sof")
            assert (w, h) == ((16, 12, 20)[did % 3], (8, 6, 12)[did % 3])
            assert r.mime == "image/jpeg"
            # the meta row carries REAL pixel stats for every JPEG
            # variant — including the PROGRESSIVE (SOF2) one (r11
            # verdict item 5: dims + pixel stats through
            # q_multimodal_meta, not just the decoder roundtrip)
            assert r.px_sha256 == hashlib.sha256(pixels).hexdigest()
            assert r.px_mean == pytest.approx(
                sum(pixels) / len(pixels), abs=1e-9
            )
            seed = (5, 1, 63)[did % 3]
            if did % 3 == 2:  # the 4:4:4 color variant: YCbCr roundtrip
                # is lossy (conversion rounding) but tightly bounded
                from correlationapi_spark.llm.multimodal import (
                    _jpeg_rgb_gradient,
                )

                assert nch == 3
                rgb = _jpeg_rgb_gradient(w, h, seed)
                flat = [v for row in rgb for p in row for v in p]
                assert max(
                    abs(a - b) for a, b in zip(pixels, flat)
                ) <= 4
            elif did % 3 == 1:  # round 8: the 4:2:0 SUBSAMPLED color
                # variant — chroma box-downsample + nearest upsample on
                # a wrap-free gradient, bound derived in
                # test_jpeg_subsampled_roundtrip
                from correlationapi_spark.llm.multimodal import (
                    _jpeg_rgb_gradient,
                )

                assert nch == 3
                rgb = _jpeg_rgb_gradient(w, h, seed)
                flat = [v for row in rgb for p in row for v in p]
                assert max(
                    abs(a - b) for a, b in zip(pixels, flat)
                ) <= 12
            else:
                # grayscale roundtrips EXACTLY through the all-ones
                # quant table — recomputed independently here
                assert nch == 1
                assert pixels == bytes(
                    (7 * x + 3 * y + seed) % 256
                    for y in range(h)
                    for x in range(w)
                )
            assert r.px_sha256 == hashlib.sha256(pixels).hexdigest()
            assert abs(r.px_mean - sum(pixels) / len(pixels)) < 1e-9
        else:
            saw_fake = True
            assert r.n_bytes == len(raw)
            assert r.head_hex == raw[:8].hex()
            assert 64 <= r.width < 256 and 64 <= r.height < 256
            assert r.decoder == "fake"
            assert r.mime == "application/x-fixture-text"
            assert r.sample_rate is None and r.rms is None
    assert saw_png and saw_gif and saw_wav and saw_avi and saw_fake
    assert saw_jpeg


# The canonical 1x1 transparent PNG (public standard bytes) — a complete,
# genuinely valid PNG file, decoded for real by the stdlib IHDR parser.
_PNG_1X1 = __import__("base64").b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8"
    "z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
)


def _jpeg_640x480() -> bytes:
    # a genuine minimal JPEG header stream: SOI, APP0/JFIF, then SOF0
    # (len 17: precision 8, height 480, width 640, 3 components)
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
        + b"\x03" + bytes(9)
    )


def test_image_header_decode_real_bytes(spark):
    """decode_image parses REAL image headers (no codec library): the 1x1
    PNG above, constructed PNG/JPEG/GIF headers, and corrupt inputs hit
    their documented paths — end-to-end through mapInPandas too."""
    from correlationapi_spark.llm.multimodal import (
        _META_OUT_SCHEMA,
        decode_image,
        make_extract_meta,
    )

    assert decode_image(_PNG_1X1) == (1, 1, "png-ihdr")
    big = (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00"
    )
    assert decode_image(big) == (640, 480, "png-ihdr")
    jpeg = _jpeg_640x480()
    assert decode_image(jpeg) == (640, 480, "jpeg-sof")
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + bytes(3)
    assert decode_image(gif) == (320, 200, "gif-lsd")

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + b"NOPE" + b"\x00" * 8)
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0\x00\x04\x00\x00")  # no SOF ever
    with _pytest.raises(ValueError):
        decode_image(b"GIF87a\x01")  # truncated screen descriptor

    # the same parse through the actual Spark plumbing (Arrow round-trips
    # the binary payload; the worker's by-value decoder instance must
    # agree with the driver-side one)
    df = spark.createDataFrame(
        [(0, (_PNG_1X1, "image/png", "mem://m/0", len(_PNG_1X1))),
         (1, (big, "image/png", "mem://m/1", len(big))),
         (2, (jpeg, "image/jpeg", "mem://m/2", len(jpeg))),
         (3, (gif, "image/gif", "mem://m/3", len(gif)))],
        "doc_id long, media struct<data:binary,mime:string,uri:string,n_bytes:long>",
    )
    rows = {r.doc_id: r for r in
            df.mapInPandas(make_extract_meta(), schema=_META_OUT_SCHEMA).collect()}
    assert (rows[0].width, rows[0].height, rows[0].decoder) == (1, 1, "png-ihdr")
    assert (rows[1].width, rows[1].height, rows[1].decoder) == (640, 480, "png-ihdr")
    assert (rows[2].width, rows[2].height, rows[2].decoder) == (640, 480, "jpeg-sof")
    assert (rows[3].width, rows[3].height, rows[3].decoder) == (320, 200, "gif-lsd")


def test_gif_lookalike_text_is_not_sniffed(spark):
    """Review finding r4: 'GIF89a' is printable ASCII, so a TEXT payload
    can start with it (a doc about the GIF format). The worker routes on
    the envelope mime — non-image payloads must take the fake path, and
    a too-short lookalike must not raise. Direct decode_image WITH an
    image mime still parses it as a GIF (payload says image, magic
    agrees)."""
    from correlationapi_spark.llm.multimodal import (
        _META_OUT_SCHEMA,
        decode_image,
        make_extract_meta,
    )

    lookalike = b"GIF89a is a file format from 1989"
    short = b"GIF87a"
    df = spark.createDataFrame(
        [(0, (lookalike, "application/x-fixture-text", "mem://t/0", len(lookalike))),
         (1, (short, "application/x-fixture-text", "mem://t/1", len(short)))],
        "doc_id long, media struct<data:binary,mime:string,uri:string,n_bytes:long>",
    )
    rows = {r.doc_id: r for r in
            df.mapInPandas(make_extract_meta(), schema=_META_OUT_SCHEMA).collect()}
    assert rows[0].decoder == "fake" and rows[1].decoder == "fake"
    # magic-based parse still available when the caller asserts image/*
    assert decode_image(lookalike, "image/gif")[2] == "gif-lsd"
    assert decode_image(lookalike)[2] == "gif-lsd"  # no mime = trust magic


def test_multimodal_frames_pinned(spark):
    """Frame sampling is a pure function of the payload bytes: recompute
    everything in plain Python and require exact agreement — REAL GIF
    demux values (true offsets, dimensions, per-frame delays, byte-span
    hashes on the genuine fixture bytes) for the image/gif envelopes,
    chunk hashes for the text payloads (the mapInPandas expansion is the
    part under test)."""
    import hashlib

    rows = REGISTRY["q_multimodal_frames"].fn(spark, SF_SMOKE).collect()
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.multimodal import (
        _MAX_SAMPLES,
        AVI_VARIANTS,
        GIF_VARIANTS,
        JPEG_VARIANTS,
        PNG_VARIANTS,
        WAV_VARIANTS,
        decode_image,
        decode_jpeg_pixels,
        decode_png_pixels,
        decode_wav,
        parse_avi,
        parse_gif,
    )

    docs = {
        r.doc_id: (
            GIF_VARIANTS[r.doc_id % 3] if r.doc_id % 10 == 5
            else PNG_VARIANTS[r.doc_id % 3] if r.doc_id % 10 == 0
            else WAV_VARIANTS[r.doc_id % 3] if r.doc_id % 10 == 7
            else AVI_VARIANTS[r.doc_id % 3] if r.doc_id % 10 == 3
            else JPEG_VARIANTS[r.doc_id % 3] if r.doc_id % 10 == 9
            else r.text.encode()
        )
        for r in load_tables(spark, SF_SMOKE)["documents"].collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)  # every doc sampled
    # round 7: text payloads emit REAL pack_chunks_layout chunks — the
    # independent recomputation is the GLOBAL running-sum layout over the
    # text subset in doc_id order (ids unique, so the (doc_id, n_tok)
    # total order degenerates to doc_id)
    _CAP = 512
    text_layout: dict[int, tuple[int, list[str]]] = {}
    _off = 0
    for did in sorted(docs):
        if did % 10 in (0, 3, 5, 7, 9):
            continue
        toks = docs[did].decode().split(" ")
        text_layout[did] = (_off, toks)
        _off += len(toks)
    saw_gif = saw_chunk = saw_png = saw_wav = saw_avi = saw_jpeg = False
    for did in list(docs)[:40]:
        data = docs[did]
        got = {r.frame_idx: r for r in by_doc[did]}
        if did % 10 == 0:  # real pixel decode on the genuine PNG bytes
            saw_png = True
            w, h, _, pixels = decode_png_pixels(data)
            (r,) = got.values()
            assert r.kind == "png-frame" and r.n_frames == 1
            assert (r.frame_w, r.frame_h, r.delay_cs) == (w, h, None)
            # frame_off = first IDAT chunk header; frame_sha256 hashes
            # the UNFILTERED pixel bytes, not any span of the file
            assert data[r.frame_off + 4 : r.frame_off + 8] == b"IDAT"
            assert r.frame_sha256 == hashlib.sha256(pixels).hexdigest()
        elif did % 10 == 5:  # real demux on the genuine GIF bytes
            saw_gif = True
            _, _, frames = parse_gif(data)
            n = len(frames)
            assert n == 2 + (did % 3)  # variant k has 2+k frames
            stride = max(1, n // _MAX_SAMPLES)
            assert set(got) == set(range(0, n, stride))
            for idx, r in got.items():
                f = frames[idx]
                assert r.kind == "gif-frame"
                assert (r.frame_off, r.frame_w, r.frame_h, r.delay_cs) == (
                    f["off"], f["w"], f["h"], f["delay"]
                )
                assert r.frame_sha256 == hashlib.sha256(
                    data[f["off"]:f["end"]]
                ).hexdigest()
                assert r.n_frames == n
        elif did % 10 == 3:  # real AVI demux: true offsets + JPEG dims
            saw_avi = True
            vw, vh, us, frames = parse_avi(data)
            n = len(frames)
            stride = max(1, n // _MAX_SAMPLES)
            assert set(got) == set(range(0, n, stride))
            for idx, r in got.items():
                f = frames[idx]
                payload = data[f["off"]:f["off"] + f["size"]]
                fw, fh, dec = decode_image(payload, "image/jpeg")
                assert dec == "jpeg-sof" and (fw, fh) == (vw, vh)
                assert r.kind == "avi-frame" and r.n_frames == n
                assert (r.frame_off, r.frame_w, r.frame_h) == (
                    f["off"], fw, fh
                )
                assert r.delay_cs == us // 10_000
                assert r.frame_sha256 == hashlib.sha256(payload).hexdigest()
        elif did % 10 == 7:  # real windowed RMS on decoded PCM samples
            saw_wav = True
            rate, _nch, samples, data_off = decode_wav(data)
            win = max(1, rate // 10)
            n = max(1, -(-len(samples) // win))
            stride = max(1, n // _MAX_SAMPLES)
            assert set(got) == set(range(0, n, stride))
            for idx, r in got.items():
                seg = samples[idx * win:(idx + 1) * win]
                assert r.kind == "pcm-window" and r.n_frames == n
                assert r.frame_off == data_off + idx * win * 2
                assert r.frame_sha256 == hashlib.sha256(
                    data[r.frame_off:r.frame_off + 2 * len(seg)]
                ).hexdigest()
                want_rms = (sum(s * s for s in seg) / len(seg)) ** 0.5
                assert abs(r.rms - want_rms) < 1e-5
                assert r.frame_w is None and r.delay_cs is None
        elif did % 10 == 9:  # round 7: real baseline JPEG entropy decode
            saw_jpeg = True
            w, h, _, pixels = decode_jpeg_pixels(data)
            (r,) = got.values()
            assert r.kind == "jpeg-frame" and r.n_frames == 1
            assert (r.frame_w, r.frame_h, r.delay_cs) == (w, h, None)
            assert data[r.frame_off : r.frame_off + 2] == b"\xff\xda"
            assert r.frame_sha256 == hashlib.sha256(pixels).hexdigest()
        else:  # round 7: layout-derived 512-token chunks, not a stub
            saw_chunk = True
            off, toks = text_layout[did]
            n_tok = len(toks)
            first, last = off // _CAP, (off + n_tok - 1) // _CAP
            n = last - first + 1
            stride = max(1, n // _MAX_SAMPLES)
            assert set(got) == set(range(0, n, stride)), did
            for rel, r in got.items():
                chunk = first + rel
                s = max(0, chunk * _CAP - off)
                e = min(n_tok, (chunk + 1) * _CAP - off)
                span = " ".join(toks[s:e])
                assert r.kind == "text-chunk" and r.n_frames == n
                assert r.frame_off == s
                assert r.frame_sha256 == hashlib.sha256(
                    span.encode()
                ).hexdigest()
                assert r.frame_w is None and r.delay_cs is None
                assert r.rms is None
    assert saw_gif and saw_chunk and saw_png and saw_wav and saw_avi
    assert saw_jpeg


def test_png_builder_and_decode_roundtrip():
    """build_png emits a COMPLETE, VALID RGB8 PNG: the pixel decoder
    recovers EXACTLY the generator's gradient (independently recomputed
    here), all five filter types are present in the stream, the file is
    genuinely multi-IDAT, and corruption (flipped CRC byte, truncation,
    bad filter, bad inflated length) raises rather than emitting
    garbage."""
    import zlib

    import pytest as _pytest

    from correlationapi_spark.llm.multimodal import (
        PNG_VARIANTS,
        build_png,
        decode_png_pixels,
    )

    for k, png in enumerate(PNG_VARIANTS):
        w, h, ch, pixels = decode_png_pixels(png)
        assert (w, h, ch) == (6 + 2 * k, 5 + 3 * k, 3)
        seed = 11 * k + 1
        want = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                (7 * x + 3 * y + seed) % 256,
                (5 * x + 11 * y + 2 * seed) % 256,
                (13 * x + 17 * y + 3 * seed) % 256,
            )
        )
        assert pixels == want  # unfilter is exact, not approximate
        assert h >= 5  # every variant exercises filters 0..4
        assert png.count(b"IDAT") >= 2  # multi-IDAT concatenation real

    # filter-type coverage: the raw inflated stream's per-row filter ids
    png = build_png(8, 10, 42)
    idat = bytearray()
    pos = 8
    while pos + 12 <= len(png):
        clen = int.from_bytes(png[pos : pos + 4], "big")
        if png[pos + 4 : pos + 8] == b"IDAT":
            idat += png[pos + 8 : pos + 8 + clen]
        pos += 12 + clen
    stream = zlib.decompress(bytes(idat))
    stride = 1 + 8 * 3
    assert {stream[y * stride] for y in range(10)} == {0, 1, 2, 3, 4}

    # corruption surfaces as ValueError, never silent garbage
    bad_crc = bytearray(png)
    bad_crc[-5] ^= 0xFF  # last byte of IEND's CRC
    with _pytest.raises(ValueError):
        decode_png_pixels(bytes(bad_crc))
    with _pytest.raises(ValueError):
        decode_png_pixels(png[: len(png) // 2])
    with _pytest.raises(ValueError):
        decode_png_pixels(b"\x89PNG\r\n\x1a\njunk")


def test_gif_builder_and_demux_roundtrip():
    """build_gif emits a COMPLETE, VALID GIF89a: the demuxer recovers
    exactly the requested frame count/dimensions/delays, every frame's
    LZW stream decodes (minimal reference decoder below) to width*height
    pixels of color 0, and structural corruption raises."""
    import pytest as _pytest

    from correlationapi_spark.llm.multimodal import build_gif, parse_gif

    def lzw_decode(stream: bytes, min_code: int) -> list[int]:
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        width = min_code + 1
        table = {i: [i] for i in range(1 << min_code)}
        next_code = eoi + 1
        out: list[int] = []
        prev = None
        bits = nbits = pos = 0
        while True:
            while nbits < width:
                if pos >= len(stream):
                    return out
                bits |= stream[pos] << nbits
                pos += 1
                nbits += 8
            c = bits & ((1 << width) - 1)
            bits >>= width
            nbits -= width
            if c == eoi:
                return out
            if c == clear:
                table = {i: [i] for i in range(1 << min_code)}
                next_code, width, prev = eoi + 1, min_code + 1, None
                continue
            if c in table:
                entry = table[c]
            elif c == next_code and prev:
                entry = prev + [prev[0]]
            else:
                raise ValueError("invalid LZW code")
            out += entry
            if prev is not None:
                table[next_code] = prev + [entry[0]]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry

    gif = build_gif(n_frames=3, width=5, height=4, base_delay=7)
    sw, sh, frames = parse_gif(gif)
    assert (sw, sh) == (5, 4) and len(frames) == 3
    assert [f["delay"] for f in frames] == [7, 8, 9]
    assert gif[:6] == b"GIF89a" and gif[-1] == 0x3B
    for f in frames:
        assert (f["w"], f["h"]) == (5, 4)
        p = f["off"] + 10  # image descriptor is 10 bytes (no local table)
        min_code = gif[p]
        p += 1
        stream = bytearray()
        while gif[p] != 0:
            n = gif[p]
            stream += gif[p + 1 : p + 1 + n]
            p += 1 + n
        assert lzw_decode(bytes(stream), min_code) == [0] * (5 * 4)
        assert p + 1 == f["end"]  # span covers descriptor..terminator

    with _pytest.raises(ValueError):
        parse_gif(b"GIF89a\x05\x00\x04\x00\x00\x00\x00")  # no frames/trailer
    with _pytest.raises(ValueError):
        parse_gif(gif[:-2])  # trailer cut off mid image data
    with _pytest.raises(ValueError):
        parse_gif(b"NOTAGIF" + bytes(20))


def test_spearman_matches_mllib(spark):
    """Cross-check the explicit average-rank Spearman against
    ml.stat.Correlation (same definition, different machinery)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    from correlationapi_spark.io import load_tables

    li = load_tables(spark, SF_SMOKE)["lineitem"].select("l_quantity", "l_extendedprice")
    vec = VectorAssembler(
        inputCols=["l_quantity", "l_extendedprice"], outputCol="v"
    ).transform(li)
    m = Correlation.corr(vec, "v", method="spearman").collect()[0][0]
    ours = REGISTRY["q_corr_spearman"].fn(spark, SF_SMOKE).collect()[0].spearman_qty_price
    assert abs(m.toArray()[0][1] - ours) < 1e-4


def test_ngram_matches_mllib(spark):
    from pyspark.ml.feature import NGram

    from correlationapi_spark.io import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"].select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    ml = (
        NGram(n=2, inputCol="ts", outputCol="grams")
        .transform(docs)
        .select(F.explode("grams").alias("bigram"))
        .groupBy("bigram")
        .count()
        .orderBy(F.desc("count"), "bigram")
        .limit(20)
    )
    ml_rows = [(r.bigram, r["count"]) for r in ml.collect()]
    ours = [
        (r.bigram, r.n) for r in REGISTRY["q_text_ngram"].fn(spark, SF_SMOKE).collect()
    ]
    assert ml_rows == ours


def test_split_stable_deterministic_and_balanced(spark):
    """The split must be a pure function of the key (stable across runs
    and any repartitioning) with fractions near 80/10/10."""
    from correlationapi_spark.io import load_tables
    from pyspark.sql import functions as F2

    counts1 = {r.split: r.n_docs for r in REGISTRY["q_split_stable"].fn(spark, SF_SMOKE).collect()}
    counts2 = {r.split: r.n_docs for r in REGISTRY["q_split_stable"].fn(spark, SF_SMOKE).collect()}
    assert counts1 == counts2
    total = sum(counts1.values())
    assert total == load_tables(spark, SF_SMOKE)["documents"].count()
    assert 0.7 <= counts1["train"] / total <= 0.9
    assert 0.05 <= counts1["val"] / total <= 0.15
    assert 0.05 <= counts1["test"] / total <= 0.15

    # membership (not just counts) survives a repartition: the per-doc
    # assignment depends only on doc_id
    docs = load_tables(spark, SF_SMOKE)["documents"]
    bucket = F2.pmod(F2.xxhash64(F2.col("doc_id").cast("string")), F2.lit(1000))
    a = {r.doc_id: r.b for r in docs.select("doc_id", bucket.alias("b")).collect()}
    b = {r.doc_id: r.b for r in docs.repartition(7).select("doc_id", bucket.alias("b")).collect()}
    assert a == b


def test_hll_merge_estimate_within_bounds(spark):
    from correlationapi_spark.io import load_tables
    import pyspark.sql.functions as F

    out = {
        r.n_regionkey: r.approx_customers
        for r in REGISTRY["q_agg_hll_merge"].fn(spark, SF_SMOKE).collect()
    }
    t = load_tables(spark, SF_SMOKE)
    exact = {
        r.n_regionkey: r.n
        for r in t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    assert set(out) == set(exact)
    for k, est in out.items():
        # default lgConfigK=12 → ~1.6% relative standard error; allow 5%
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


def test_freq_items_error_bounds(spark):
    """Certifies the Misra-Gries guarantees (llm/text.py freq_items)
    against exact token counts at smoke scale:
    lower-bound, undercount <= floor(N/(k+1)), recall of every token
    with true count above the bound, and an exact n_total."""
    from pyspark.sql import functions as F

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.text import FREQ_K, freq_items

    docs = load_tables(spark, SF_SMOKE)["documents"]
    exact = {
        r.token: r.cnt
        for r in docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    n_total = sum(exact.values())
    bound = n_total // (FREQ_K + 1)

    rows = freq_items(docs, "text", FREQ_K).collect()
    assert rows, "no candidates emitted"
    assert all(r.n_total == n_total for r in rows)
    assert all(r.err_bound == bound for r in rows)
    got = {r.token: r.approx_count for r in rows}
    for tok, approx in got.items():
        assert tok in exact
        assert approx <= exact[tok], tok          # lower bound
        assert exact[tok] - approx <= bound, tok  # certified undercount
    for tok, cnt in exact.items():                # recall guarantee
        if cnt > bound:
            assert tok in got, (tok, cnt, bound)

    # the declared key: top-50 by approx count, deterministic tie-break
    out = REGISTRY["q_agg_freq_items"].fn(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 50
    pairs = [(-r.approx_count, r.token) for r in out]
    assert pairs == sorted(pairs)


def test_sim_topk_ivf_recall_and_exact_scores(spark):
    """IVF returns EXACT cosines (the refine step recomputes them) with
    approximate recall: every (probe, neighbor) it returns must carry
    the same score the brute-force key computes, and recall of the
    exact top-5 must stay useful at fixture scale."""
    exact_rows = REGISTRY["q_sim_topk"].fn(spark, SF_SMOKE).collect()
    ivf_rows = REGISTRY["q_sim_topk_ivf"].fn(spark, SF_SMOKE).collect()
    exact_scores = {(r.probe_id, r.neighbor_id): r.cosine for r in exact_rows}
    ivf_pairs = {(r.probe_id, r.neighbor_id) for r in ivf_rows}
    # exactness: any IVF hit that IS in the exact top-k carries the
    # identical rounded cosine
    for r in ivf_rows:
        key = (r.probe_id, r.neighbor_id)
        if key in exact_scores:
            assert r.cosine == exact_scores[key], key
    recall = len(ivf_pairs & set(exact_scores)) / len(exact_scores)
    assert recall >= 0.6, recall
    # shape contract matches the exact key (drop-in substitute)
    assert {r.probe_id for r in ivf_rows} == {r.probe_id for r in exact_rows}
    for r in ivf_rows:
        assert 1 <= r.rn <= 5


def test_wav_builder_and_decode_roundtrip():
    """build_wav emits a COMPLETE, VALID RIFF/WAVE PCM16 file: the
    decoder recovers EXACTLY the generator's sine samples (independently
    recomputed), honors chunk walking (an inserted unknown chunk is
    skipped, odd-size chunks are word-aligned), and corruption or
    unsupported encodings raise rather than emitting garbage."""
    import math
    import struct

    import pytest as _pytest

    from correlationapi_spark.llm.multimodal import (
        WAV_VARIANTS,
        build_wav,
        decode_wav,
    )

    for k, wav in enumerate(WAV_VARIANTS):
        rate, nch, samples, off = decode_wav(wav)
        n, r, f, a = 800 + 400 * k, 8000 + 4000 * k, 440.0 * (k + 1), 0.5 + 0.2 * k
        assert (rate, nch, len(samples)) == (r, 1, n)
        want = [
            int(round(a * 32767.0 * math.sin(2.0 * math.pi * f * i / r)))
            for i in range(n)
        ]
        assert list(samples) == want  # sample decode is exact
        assert wav[off - 8 : off - 4] == b"data"

    # chunk walking: an unknown odd-length chunk between fmt and data
    # must be skipped with word alignment
    wav = build_wav(100, 8000, 100.0, 0.9)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    patched = wav[:fmt_end] + extra + wav[fmt_end:]
    patched = (
        b"RIFF"
        + (len(patched) - 8).to_bytes(4, "little")
        + patched[8:]
    )
    rate, _, samples, _ = decode_wav(patched)
    assert rate == 8000 and len(samples) == 100

    with _pytest.raises(ValueError):
        decode_wav(b"RIFX" + wav[4:])  # wrong magic
    with _pytest.raises(ValueError):
        decode_wav(wav[: len(wav) // 2])  # truncated data chunk
    # unsupported encoding: 8-bit PCM
    bad = bytearray(wav)
    bad[12 + 8 + 14 : 12 + 8 + 16] = struct.pack("<H", 8)
    with _pytest.raises(ValueError):
        decode_wav(bytes(bad))


def _lzw_encode(indices, min_code):
    """Independent GIF-LZW reference ENCODER (early-change width
    convention, 12-bit cap) — exists only to adversarially test the
    engine decoder across dictionary-growth regimes."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    dict_ = {(i,): i for i in range(1 << min_code)}
    next_code = eoi + 1
    codes = [(clear, width)]
    w = ()
    for k in indices:
        wk = w + (k,)
        if wk in dict_:
            w = wk
            continue
        codes.append((dict_[w], width))
        if next_code < 4096:
            dict_[wk] = next_code
            next_code += 1
            # encoder is one entry AHEAD of the decoder at read time,
            # so it bumps width one code later (early-change pairing)
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        w = (k,)
    if w:
        codes.append((dict_[w], width))
    codes.append((eoi, width))
    bits = nbits = 0
    out = bytearray()
    for c, wd in codes:
        bits |= c << nbits
        nbits += wd
        while nbits >= 8:
            out.append(bits & 0xFF)
            bits >>= 8
            nbits -= 8
    if nbits:
        out.append(bits & 0xFF)
    return bytes(out)


def test_gif_lzw_decoder_roundtrip_with_growth():
    """The engine LZW decoder must invert an independent reference
    encoder EXACTLY on streams that exercise every regime: dictionary
    growth across several width bumps, heavy repetition (the KwKwK
    case), multi-clear streams, and the corrupt-code error path."""
    import random

    from correlationapi_spark.llm.multimodal import make_decode_gif_pixels

    # reach the decoder's inner lzw via a crafted single-frame GIF below;
    # first, pure stream-level roundtrips through a tiny shim frame
    decode_gif = make_decode_gif_pixels()

    def decode_stream(indices, min_code, w, h, n_colors):
        # wrap the encoded stream in a minimal single-frame GIF whose
        # color table maps index i -> (i, i, i)
        stream = _lzw_encode(indices, min_code)
        ct_bits = max(1, (n_colors - 1).bit_length())
        ct_size = 2 ** ct_bits
        gif = bytearray()
        gif += b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        gif += bytes([0x80 | (ct_bits - 1), 0x00, 0x00])
        for i in range(ct_size):
            gif += bytes([i, i, i])
        gif += b"\x2c" + b"\x00" * 4 + w.to_bytes(2, "little")
        gif += h.to_bytes(2, "little") + b"\x00"
        gif += bytes([min_code])
        for off in range(0, len(stream), 255):
            chunk = stream[off : off + 255]
            gif += bytes([len(chunk)]) + chunk
        gif += b"\x00\x3b"
        _, _, nf, pixels = decode_gif(bytes(gif))
        assert nf == 1
        return [pixels[3 * i] for i in range(w * h)]  # gray = index

    rng = random.Random(99)
    # 4096 pixels of 16-color noise: dictionary grows through width
    # 5 -> 9+, plus long runs to force KwKwK
    idx = [rng.randint(0, 15) for _ in range(3000)] + [7] * 1000 + [
        rng.randint(0, 15) for _ in range(96)
    ]
    assert decode_stream(idx, 4, 64, 64, 16) == idx
    # 2-color stripes at min_code 2 (the build_gif regime, but with a
    # REAL growing dictionary instead of clear-per-pixel)
    idx2 = [i % 2 for i in range(900)]
    assert decode_stream(idx2, 2, 30, 30, 4) == idx2

    # sanity: the 1x1 degenerate frame decodes
    assert decode_stream([9], 4, 1, 1, 16) == [9]
    # short pixel stream (4 decoded pixels for a 4x4 frame) must raise
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_stream([0, 1, 2, 3], 4, 4, 4, 16)


def test_avi_builder_and_demux_roundtrip():
    """build_avi emits a COMPLETE, VALID RIFF/AVI: the demuxer recovers
    the declared dimensions/rate/frame-count, every frame's byte span
    holds a genuine JPEG header with the same dimensions, odd-size
    frames stay word-aligned, and corruption raises."""
    import pytest as _pytest

    from correlationapi_spark.llm.multimodal import (
        AVI_VARIANTS,
        build_avi,
        decode_image,
        parse_avi,
    )

    for k, avi in enumerate(AVI_VARIANTS):
        w, h, us, frames = parse_avi(avi)
        assert (w, h) == (160 + 32 * k, 120 + 24 * k)
        assert us == 1_000_000 // (10 + 5 * k)
        assert len(frames) == 3 + k
        payloads = set()
        for f in frames:
            payload = avi[f["off"] : f["off"] + f["size"]]
            assert decode_image(payload, "image/jpeg") == (w, h, "jpeg-sof")
            payloads.add(payload)
        assert len(payloads) == len(frames)  # per-frame distinct bytes

    # word alignment: build_jpeg_header+tag is odd-length, so every
    # frame chunk carries a pad byte the demuxer must skip — 5 frames
    # would desync immediately if padding were mishandled
    avi = build_avi(5, 64, 48, 25)
    _, _, _, frames = parse_avi(avi)
    assert len(frames) == 5

    with _pytest.raises(ValueError):
        parse_avi(b"RIFF\x00\x00\x00\x00WAVE")  # not an AVI
    with _pytest.raises(ValueError):
        parse_avi(avi[: len(avi) // 2])  # truncated chunk tree
    # declared-vs-actual frame count mismatch must surface
    bad = bytearray(avi)
    # avih payload starts after RIFF(12) + 'LIST'+len+'hdrl'(12) +
    # 'avih'+len(8); dwTotalFrames is at payload offset 16
    off = 12 + 12 + 8 + 16
    bad[off:off + 4] = (99).to_bytes(4, "little")
    with _pytest.raises(ValueError):
        parse_avi(bytes(bad))


def test_corrupt_media_is_quarantined_not_fatal(spark):
    """Review r06: a structurally-corrupt payload inside a mapInPandas
    task used to raise ValueError and kill the whole job. Both workers
    must instead FLAG the row (decoder/kind = 'corrupt') and keep
    going — one bad row in a 100 TB corpus must never abort the decode
    fleet."""
    from correlationapi_spark.llm.multimodal import (
        _FRAMES_OUT_SCHEMA,
        _META_OUT_SCHEMA,
        WAV_VARIANTS,
        make_extract_meta,
        make_sample_frames,
    )

    wav = WAV_VARIANTS[0]
    bad_wav = wav[: len(wav) // 2]             # truncated data chunk
    bad_avi = b"RIFF\x10\x00\x00\x00AVI " + b"\x00" * 8  # no avih
    bad_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + b"NOPE" + b"\x00" * 8
    rows = [
        (0, (bad_wav, "audio/wav", "mem://c/0", len(bad_wav))),
        (1, (bad_avi, "video/x-msvideo", "mem://c/1", len(bad_avi))),
        (2, (bad_png, "image/png", "mem://c/2", len(bad_png))),
        (3, (wav, "audio/wav", "mem://c/3", len(wav))),  # healthy sibling
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media struct<data:binary,mime:string,uri:string,n_bytes:long>",
    )
    meta = {r.doc_id: r for r in
            df.mapInPandas(make_extract_meta(), schema=_META_OUT_SCHEMA).collect()}
    assert meta[0].decoder == "corrupt" and meta[0].rms is None
    assert meta[1].decoder == "corrupt"
    assert meta[2].decoder == "corrupt" and meta[2].px_sha256 is None
    assert meta[3].decoder == "wav-pcm" and meta[3].rms is not None

    frames = df.mapInPandas(make_sample_frames(), schema=_FRAMES_OUT_SCHEMA)
    by_doc = {}
    for r in frames.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for bad in (0, 1):
        (r,) = by_doc[bad]
        assert r.kind == "corrupt" and r.n_frames == 0
    assert all(r.kind == "pcm-window" for r in by_doc[3])


def test_quarantine_edge_payloads_round7(spark):
    """ADVICE r6 regressions: (a) a structurally VALID WAV whose data
    chunk is empty (decode_wav accepts it, 0 samples) used to raise
    ZeroDivisionError in sample_frames' RMS — which escaped the
    ValueError-only quarantine and killed the job; it must now emit one
    pcm-window row with rms=None. (b) a CRC-consistent PNG whose IDAT
    payload is not zlib data used to raise zlib.error — same escape;
    it must now be flagged 'corrupt'."""
    import zlib

    from correlationapi_spark.llm.multimodal import (
        _FRAMES_OUT_SCHEMA,
        _META_OUT_SCHEMA,
        build_wav,
        make_extract_meta,
        make_sample_frames,
    )

    empty_wav = build_wav(0, 8000, 440.0, 0.5)  # valid RIFF, 0 samples

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            len(payload).to_bytes(4, "big") + ctype + payload
            + zlib.crc32(ctype + payload).to_bytes(4, "big")
        )

    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(
        [8, 2, 0, 0, 0]
    )
    bad_deflate_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"this is not a zlib stream")
        + chunk(b"IEND", b"")
    )

    rows = [
        (0, (empty_wav, "audio/wav", "mem://c/0", len(empty_wav))),
        (1, (bad_deflate_png, "image/png", "mem://c/1", len(bad_deflate_png))),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media struct<data:binary,mime:string,uri:string,n_bytes:long>",
    )
    frames = {}
    for r in df.mapInPandas(
        make_sample_frames(), schema=_FRAMES_OUT_SCHEMA
    ).collect():
        frames.setdefault(r.doc_id, []).append(r)
    (wav_row,) = frames[0]
    assert wav_row.kind == "pcm-window" and wav_row.rms is None
    (png_row,) = frames[1]
    assert png_row.kind == "corrupt" and png_row.n_frames == 0

    meta = {r.doc_id: r for r in df.mapInPandas(
        make_extract_meta(), schema=_META_OUT_SCHEMA
    ).collect()}
    # extract_meta's contract for a parseable header with an undecodable
    # body: keep the header decode (png-ihdr) and NULL the pixel stats.
    # The point of the fix is that the JOB SURVIVED (zlib.error used to
    # escape the quarantine and kill it).
    assert meta[1].decoder == "png-ihdr" and meta[1].px_sha256 is None
    assert meta[1].px_mean is None


def test_jpeg_builder_and_decode_roundtrip():
    """build_jpeg emits a COMPLETE, VALID baseline-sequential JFIF: the
    decoder (which reads quant AND Huffman tables from the stream)
    recovers the generator's gradient EXACTLY for grayscale (all-ones
    quant table), within a tight bound for 4:4:4 color (YCbCr
    conversion rounding only), and corruption / unsupported shapes
    raise ValueError rather than emitting garbage."""
    import pytest as _pytest

    from correlationapi_spark.llm.multimodal import (
        _jpeg_rgb_gradient,
        build_jpeg,
        decode_jpeg_pixels,
    )

    # grayscale: exact roundtrip, including non-block-aligned dims
    for (W, H, seed) in [(16, 8, 5), (10, 14, 34), (23, 9, 63)]:
        w, h, ch, px = decode_jpeg_pixels(build_jpeg(W, H, seed))
        assert (w, h, ch) == (W, H, 1)
        assert px == bytes(
            (7 * x + 3 * y + seed) % 256 for y in range(H) for x in range(W)
        )

    # color 4:4:4: decode != source only through the rounded YCbCr
    # conversions; every channel within 4 LSB of the source gradient
    for (W, H, seed) in [(16, 8, 11), (10, 14, 40)]:
        w, h, ch, px = decode_jpeg_pixels(build_jpeg(W, H, seed, color=True))
        assert (w, h, ch) == (W, H, 3)
        flat = [
            v for row in _jpeg_rgb_gradient(W, H, seed) for p in row for v in p
        ]
        assert len(px) == len(flat)
        assert max(abs(a - b) for a, b in zip(px, flat)) <= 4

    # determinism: same args -> same bytes -> same pixels
    assert build_jpeg(16, 8, 5) == build_jpeg(16, 8, 5)

    # drift canary (review r07): the frames route re-walks the marker
    # stream to locate SOS (the decoder computes but discards the
    # offset) — pin that the independently-walked offset lands on a
    # real SOS marker for every fixture, so the two walks can't
    # silently desynchronize
    from correlationapi_spark.llm.multimodal import JPEG_VARIANTS

    for jpg in JPEG_VARIANTS:
        p = 2
        sos = -1
        while p + 4 <= len(jpg):
            if jpg[p] != 0xFF:
                break
            m = jpg[p + 1]
            if m == 0xFF:
                p += 1
                continue
            if m == 0xDA:
                sos = p
                break
            p += 2 + int.from_bytes(jpg[p + 2 : p + 4], "big")
        assert sos > 0 and jpg[sos : sos + 2] == b"\xff\xda"

    # corruption / unsupported shapes surface as ValueError
    good = build_jpeg(16, 8, 5)
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(good[: len(good) // 2])  # truncated scan
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(b"\xff\xd8junk")  # no marker structure
    progressive = bytearray(good)
    sof_at = good.find(b"\xff\xc0")
    progressive[sof_at + 1] = 0xC2  # SOF2: progressive
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(bytes(progressive))
    subsampled = bytearray(good)
    # SOF0 payload: len(2) precision(1) h(2) w(2) nc(1) then id,samp,tq
    subsampled[sof_at + 2 + 2 + 5 + 1 + 1] = 0x22  # 2x2 sampling
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(bytes(subsampled))


def test_decoder_resource_guards_round7():
    """Hostile-input guards (round-7 review): a corrupt SOF/IHDR can
    declare 65535²-pixel dims, and a tiny IDAT can be a decompression
    bomb — either would OOM the worker BELOW the entropy-decode checks,
    and MemoryError escapes the ValueError quarantine. Both decoders
    must refuse loudly instead."""
    import zlib

    import pytest as _pytest

    from correlationapi_spark.llm.multimodal import (
        build_jpeg,
        decode_jpeg_pixels,
        decode_png_pixels,
    )

    good = build_jpeg(16, 8, 5)
    huge = bytearray(good)
    at = good.find(b"\xff\xc0")
    huge[at + 5 : at + 7] = (60000).to_bytes(2, "big")
    huge[at + 7 : at + 9] = (60000).to_bytes(2, "big")
    with _pytest.raises(ValueError, match="decode cap"):
        decode_jpeg_pixels(bytes(huge))
    zero = bytearray(good)
    zero[at + 5 : at + 7] = (0).to_bytes(2, "big")
    with _pytest.raises(ValueError, match="zero dimension"):
        decode_jpeg_pixels(bytes(zero))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            len(payload).to_bytes(4, "big") + ctype + payload
            + zlib.crc32(ctype + payload).to_bytes(4, "big")
        )

    ihdr = (10).to_bytes(4, "big") + (10).to_bytes(4, "big") + bytes(
        [8, 2, 0, 0, 0]
    )
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000, 9))
        + chunk(b"IEND", b"")
    )
    # the 10 MB inflate is CAPPED at expected+1 bytes, then refused —
    # never materialized
    with _pytest.raises(ValueError, match="inflated length mismatch"):
        decode_png_pixels(bomb)
    big_ihdr = (1 << 15).to_bytes(4, "big") * 2 + bytes([8, 2, 0, 0, 0])
    big = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", big_ihdr)
        + chunk(b"IDAT", zlib.compress(b"x"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="decode cap"):
        decode_png_pixels(big)

    # GIF: the LZW output cap fires before a hostile stream inflates
    # past the frame size (~2700x worst-case amplification)
    from correlationapi_spark.llm.multimodal import build_gif, decode_gif_pixels

    gif = build_gif(1, 120, 120, 1)  # one 14400-pixel frame
    frames = __import__(
        "correlationapi_spark.llm.multimodal", fromlist=["parse_gif"]
    ).parse_gif(gif)[2]
    at = frames[0]["off"]  # image descriptor
    bad = bytearray(gif)
    # shrink the declared frame to 1x1: the (previously valid) LZW
    # stream now emits 14400 pixels against a 1-pixel frame — the
    # amplification cap must refuse before materializing them
    bad[at + 5 : at + 9] = (1).to_bytes(2, "little") * 2
    with _pytest.raises(ValueError, match="exceeds frame size"):
        decode_gif_pixels(bytes(bad))


def test_jpeg_truncated_segments_quarantine():
    """Review r07 regression: truncated-but-marker-valid SOF0/SOS
    segments raised IndexError, which escapes the ValueError-only
    quarantine and kills the decode fleet. All must raise ValueError."""
    import pytest as _pytest

    from correlationapi_spark.llm.multimodal import decode_jpeg_pixels

    for bad in (
        b"\xff\xd8\xff\xc0\x00\x02\xff\xd9",                # empty SOF0
        b"\xff\xd8\xff\xda\x00\x02\xff\xd9",                # empty SOS
        b"\xff\xd8\xff\xc0\x00\x05\x08\x00\x10\xff\xd9",    # SOF0 cut short
    ):
        with _pytest.raises(ValueError):
            decode_jpeg_pixels(bad)


def test_nearest_centroid_assign_np_parity(spark):
    """The numpy scale twin (round 8 — 31x the expression path at
    1M x 256, tools/assign_bench.py) must agree with the oracle-checked
    expression path on the fixture corpus: identical (vec_id, cell)
    assignments, cosines equal to within a 6-dp rounding boundary.
    Matmul accumulation order differs from the sequential fold, so the
    contract is argmax identity on margin-separated data plus 1e-6
    cosine agreement — not bit equality."""
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        corpus_view,
        nearest_centroid_assign,
        nearest_centroid_assign_np,
    )

    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    corpus = corpus_view(emb, "vec_id", "embedding")
    ids = list(range(8))
    expr_rows = {
        r.vec_id: r for r in nearest_centroid_assign(corpus, ids).collect()
    }
    np_rows = {
        r.vec_id: r for r in nearest_centroid_assign_np(corpus, ids).collect()
    }
    assert set(expr_rows) == set(np_rows)
    assert len(expr_rows) > 0
    for vid, er in expr_rows.items():
        nr = np_rows[vid]
        assert er.cell == nr.cell, f"cell mismatch for vec {vid}"
        assert abs(er.cosine - nr.cosine) <= 1e-6, f"cosine drift vec {vid}"


def test_jpeg_subsampled_roundtrip():
    """Round 8: 4:2:0 and 4:2:2 baseline JPEG — the layouts real
    camera/web JPEGs ship — encode AND decode for real (generic
    h×v-factor MCU interleave, per-component plane dims, box-average
    chroma downsample in the encoder, nearest upsample in the decoder).
    The wrap-free gradient keeps chroma locally linear, so the
    subsample/upsample error is tightly bounded; a broken MCU walk or
    plane indexing would blow these bounds by an order of magnitude.
    The pre-round-8 layouts stay byte-identical (the gray/444 pins in
    test_multimodal_meta_real_decoders cover that)."""
    from correlationapi_spark.llm.multimodal import (
        _jpeg_rgb_gradient,
        build_jpeg,
        make_decode_jpeg_pixels,
    )

    dec = make_decode_jpeg_pixels()
    for sub, bound in (("420", 12), ("422", 8)):
        for (w, h, seed) in ((10, 6, 1), (8, 8, 2), (9, 5, 0)):
            data = build_jpeg(w, h, seed, color=True, subsampling=sub)
            dw, dh, nch, px = dec(data)
            assert (dw, dh, nch) == (w, h, 3)
            flat = [
                v
                for row in _jpeg_rgb_gradient(w, h, seed)
                for p in row
                for v in p
            ]
            worst = max(abs(a - b) for a, b in zip(px, flat))
            assert worst <= bound, (sub, w, h, worst)
    # sampling factors are validated, not assumed: a hostile SOF
    # declaring >10 blocks per MCU quarantines as ValueError
    import pytest as _pytest

    hostile = bytearray(build_jpeg(8, 8, 1, color=True, subsampling="420"))
    i = bytes(hostile).find(b"\xff\xc0")
    # component 0's sampling byte: SOF payload starts at i+4; byte
    # layout: precision(1) h(2) w(2) nc(1) then [id, samp, tq] triples
    hostile[i + 4 + 6 + 1] = 0x44  # 4x4 luma + 1x1 + 1x1 = 18 blocks
    with _pytest.raises(ValueError, match="blocks per MCU"):
        dec(bytes(hostile))


def test_jpeg_restart_intervals_roundtrip():
    """Round 8: DRI/RSTn support — real encoders emit restart markers so
    a corrupt segment loses one interval, not the image. The encoder
    byte-aligns + emits cycling RST0..7 + resets DC predictors every N
    MCUs; the decoder verifies marker order and resets its predictors.
    Grayscale roundtrips stay EXACT (all-ones quant) at every interval;
    an out-of-order RST quarantines as ValueError."""
    from correlationapi_spark.llm.multimodal import (
        build_jpeg,
        make_decode_jpeg_pixels,
    )

    dec = make_decode_jpeg_pixels()
    for (w, h, seed, ri) in ((16, 8, 5, 1), (20, 12, 7, 3), (24, 24, 9, 2)):
        dw, dh, nch, px = dec(build_jpeg(w, h, seed, restart_interval=ri))
        assert (dw, dh, nch) == (w, h, 1)
        assert px == bytes(
            (7 * x + 3 * y + seed) % 256 for y in range(h) for x in range(w)
        ), (w, h, ri)
    # 4:2:0 + restarts compose (multi-block MCUs between markers)
    dw, dh, nch, px = dec(
        build_jpeg(10, 6, 1, color=True, subsampling="420", restart_interval=2)
    )
    assert (dw, dh, nch) == (10, 6, 3)

    import pytest as _pytest

    data = bytearray(build_jpeg(24, 24, 9, restart_interval=1))
    i = bytes(data).find(b"\xff\xd0")
    data[i + 1] = 0xD5  # out-of-order restart marker
    with _pytest.raises(ValueError, match="RST"):
        dec(bytes(data))


def test_jpeg_progressive_roundtrip():
    """Round 8: PROGRESSIVE JPEG (SOF2, T.81 Annex G) — the format most
    web JPEGs actually ship — encode AND decode for real: interleaved
    DC first scan with successive approximation, DC refinement bits,
    per-component AC scans over two spectral bands with EOB-run coding,
    and AC refinement (newly-significant ±1 codes + buffered correction
    bits). Grayscale roundtrips EXACTLY; color decodes PIXEL-IDENTICAL
    to the sequential encoding of the same source (the coefficient
    pipeline is lossless vs baseline), at every subsampling and with
    restart intervals across scans."""
    from correlationapi_spark.llm.multimodal import (
        build_jpeg,
        build_jpeg_progressive,
        make_decode_jpeg_pixels,
    )

    dec = make_decode_jpeg_pixels()
    for (w, h, seed) in ((16, 8, 5), (10, 14, 34), (24, 24, 9), (9, 5, 0)):
        dw, dh, nch, px = dec(build_jpeg_progressive(w, h, seed))
        assert (dw, dh, nch) == (w, h, 1)
        assert px == bytes(
            (7 * x + 3 * y + seed) % 256 for y in range(h) for x in range(w)
        ), (w, h, seed)
    # color at every subsampling: pixel-identical to the sequential twin
    for kw in (
        dict(color=True),
        dict(color=True, subsampling="420"),
        dict(color=True, subsampling="422"),
    ):
        assert dec(build_jpeg_progressive(16, 8, 5, **kw)) == dec(
            build_jpeg(16, 8, 5, **kw)
        ), kw
    # restart intervals apply per scan
    for ri in (1, 3):
        dw, dh, nch, px = dec(
            build_jpeg_progressive(24, 24, 9, restart_interval=ri)
        )
        assert px == bytes(
            (7 * x + 3 * y + 9) % 256 for y in range(24) for x in range(24)
        ), ri


def test_pack_bestfit_contract(spark):
    """The FFD packing contract (rows-only key): every non-empty doc
    packed exactly once, no bin over capacity, at most ONE bin per
    shard under half-full (the classic first-fit guarantee — two such
    bins would have fit together), and the total bin count within the
    sharded-FFD bound of the ceil(total/C) lower bound."""
    import math

    from correlationapi_spark.llm.text import (
        _BESTFIT_SHARDS,
        _PACK_CAPACITY,
        _toks,
    )
    from correlationapi_spark.io import load_tables
    from pyspark.sql import functions as F

    bins = REGISTRY["q_pack_bestfit"].fn(spark, SF_SMOKE).toPandas()
    t = load_tables(spark, SF_SMOKE)
    docs = (
        t["documents"]
        .select(
            F.least(F.size(_toks()), F.lit(_PACK_CAPACITY)).alias("n_tok")
        )
        .filter(F.col("n_tok") > 0)
        .toPandas()
    )
    # conservation: every doc in exactly one bin, every token accounted
    assert bins["n_docs"].sum() == len(docs)
    assert bins["fill_tokens"].sum() == docs["n_tok"].sum()
    # capacity: no bin overflows
    assert (bins["fill_tokens"] <= _PACK_CAPACITY).all()
    assert (bins["fill_tokens"] > 0).all()
    # first-fit guarantee per shard: at most one bin under half-full
    shard = bins["bin_id"] // 1_000_000_000
    for s, grp in bins.groupby(shard):
        under = (grp["fill_tokens"] < _PACK_CAPACITY / 2).sum()
        assert under <= 1, (s, under)
    # bound: lower = ceil(total/C); upper = per-shard FFD can waste at
    # most one under-half bin each vs the dense packing
    lower = math.ceil(docs["n_tok"].sum() / _PACK_CAPACITY)
    assert lower <= len(bins) <= 2 * lower + _BESTFIT_SHARDS


def test_quantile_merge_rank_error_bounds(spark):
    """q_agg_quantile_merge: each merged-sketch percentile, re-ranked
    against the EXACT per-region balance distribution, must sit within
    KLL k=200's certified normalized rank error (~1.65%; allow 3% for
    the merge level)."""
    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables

    out = {
        r.n_regionkey: r
        for r in REGISTRY["q_agg_quantile_merge"].fn(spark, SF_SMOKE).collect()
    }
    t = load_tables(spark, SF_SMOKE)
    joined = t["customer"].join(
        t["nation"], F.col("c_nationkey") == F.col("n_nationkey")
    )
    exact = {
        r.n_regionkey: (r.n, sorted(r.vals))
        for r in joined.groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n"),
            F.collect_list("c_acctbal").alias("vals"),
        )
        .collect()
    }
    assert set(out) == set(exact)
    import bisect

    for k, row in out.items():
        n, vals = exact[k]
        assert row.n_customers == n
        for p, est in ((0.5, row.p50_acctbal), (0.9, row.p90_acctbal),
                       (0.99, row.p99_acctbal)):
            # empirical rank of the estimate (cents-rounded like the key)
            rank = bisect.bisect_right(
                [round(v * 100) for v in vals], round(est * 100)
            ) / n
            assert abs(rank - p) < 0.03, (k, p, est, rank)


def test_embed_pca_matches_numpy_full_pca(spark):
    """q_embed_pca: the distributed Gram-partial spectrum must match a
    full-precision numpy PCA computed on the collected fixture — same
    covariance convention (population, E[xxᵀ] − μμᵀ), eigenvalues
    descending, ratios of the total variance."""
    import numpy as np

    from correlationapi_spark.io import load_tables

    out = REGISTRY["q_embed_pca"].fn(spark, SF_SMOKE).toPandas()
    assert len(out) == 8
    rows = (
        load_tables(spark, SF_SMOKE)["embeddings"]
        .select("embedding")
        .collect()
    )
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    x = x[~np.isnan(x).any(axis=1)]
    cov = (x.T @ x) / len(x) - np.outer(x.mean(0), x.mean(0))
    ev = np.linalg.eigh(cov)[0][::-1]
    assert np.allclose(out.eigenvalue.values, ev[:8], rtol=1e-6, atol=1e-9)
    total = ev.sum()
    assert np.allclose(out.explained_var.values, ev[:8] / total, atol=1e-6)
    # ratios are cumulative and the spectrum is descending
    assert (np.diff(out.cum_explained_var.values) > 0).all()
    assert (np.diff(out.eigenvalue.values) <= 1e-12).all()


def test_theta_sets_error_bounds(spark):
    """q_agg_theta_sets: every set-op estimate must sit within 5% of
    the exact distinct-count set algebra (theta default lgK=12 is in
    exact mode at fixture cardinalities, but the bound is what the key
    promises at scale)."""
    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables

    out = REGISTRY["q_agg_theta_sets"].fn(spark, SF_SMOKE).collect()[0]
    t = load_tables(spark, SF_SMOKE)
    x = t["orders"].select(
        "o_custkey",
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .alias("early"),
    )
    early = {
        r.o_custkey for r in x.filter("early").select("o_custkey")
        .distinct().collect()
    }
    late = {
        r.o_custkey for r in x.filter("NOT early").select("o_custkey")
        .distinct().collect()
    }
    exact = {
        "est_early": len(early),
        "est_late": len(late),
        "est_union": len(early | late),
        "est_retained": len(early & late),
        "est_churned": len(early - late),
        "est_acquired": len(late - early),
    }
    for k, v in exact.items():
        est = getattr(out, k)
        assert abs(est - v) <= max(1, 0.05 * v), (k, est, v)


def test_ts_holt_matches_python_replay(spark):
    """q_ts_holt: the JVM-side fold must reproduce a driver-side Python
    replay of the Holt recursion (alpha=0.3, beta=0.1, l0=y0,
    b0=y1-y0) on the same day-ordered series, to float precision."""
    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables

    out = {
        r.event_type: r
        for r in REGISTRY["q_ts_holt"].fn(spark, SF_SMOKE).collect()
    }
    t = load_tables(spark, SF_SMOKE)
    daily = (
        t["events"]
        .select(
            F.col("event_type").alias("g"),
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("m"),
        )
        .groupBy("g", "d")
        .agg(F.sum("m").alias("y"))
        .orderBy("g", "d")
        .collect()
    )
    series: dict[str, list[float]] = {}
    for r in daily:
        series.setdefault(r.g, []).append(r.y / 1000000.0)
    a, b = 0.3, 0.1
    for g, ys in series.items():
        lv, tr = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            lv_new = a * y + (1 - a) * (lv + tr)
            tr = b * (lv_new - lv) + (1 - b) * tr
            lv = lv_new
        assert abs(out[g].level - round(lv, 6)) < 1e-6, g
        assert abs(out[g].trend - round(tr, 6)) < 1e-6, g
        assert abs(out[g].forecast_1 - round(lv + tr, 6)) < 1e-6, g
        assert out[g].n_periods == len(ys)


def test_holt_linear_degenerate_group(spark):
    """A single-period group has no trend seed: NULL outputs, not an
    error or a fabricated zero trend."""
    from correlationapi_spark.operators.stats import holt_linear

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 5.0), ("b", 2, 7.0)],
        "grp string, t long, y double",
    )
    rows = {r.grp: r for r in holt_linear(df).collect()}
    assert rows["a"].level is None and rows["a"].forecast_1 is None
    assert rows["b"].level is not None and rows["b"].n_periods == 2


def test_ts_holtwinters_matches_python_replay(spark):
    """q_ts_holtwinters: the JVM-side circular-buffer fold must
    reproduce a driver-side Python replay of the additive Holt-Winters
    recursion (alpha=0.3, beta=0.1, gamma=0.2, m=7, two-season seed)
    on the same day-ordered series, to float precision."""
    import pyspark.sql.functions as F

    from correlationapi_spark.io import load_tables

    out = {
        r.event_type: r
        for r in REGISTRY["q_ts_holtwinters"].fn(spark, SF_SMOKE).collect()
    }
    t = load_tables(spark, SF_SMOKE)
    daily = (
        t["events"]
        .select(
            F.col("event_type").alias("g"),
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 1000000, 0).cast("long").alias("m"),
        )
        .groupBy("g", "d")
        .agg(F.sum("m").alias("y"))
        .orderBy("g", "d")
        .collect()
    )
    series: dict[str, list[float]] = {}
    for r in daily:
        series.setdefault(r.g, []).append(r.y / 1000000.0)
    a, b, g_, m = 0.3, 0.1, 0.2, 7
    for grp, ys in series.items():
        assert len(ys) >= 2 * m, grp
        m1 = sum(ys[:m]) / m
        m2 = sum(ys[m:2 * m]) / m
        lv, tr = m1, (m2 - m1) / m
        s = [y - m1 for y in ys[:m]]
        i = m
        for y in ys[m:]:
            slot = i % m
            sold = s[slot]
            lv_new = a * (y - sold) + (1 - a) * (lv + tr)
            tr = b * (lv_new - lv) + (1 - b) * tr
            s[slot] = g_ * (y - lv_new) + (1 - g_) * sold
            lv = lv_new
            i += 1
        s_next = s[i % m]
        assert abs(out[grp].level - round(lv, 6)) < 1e-6, grp
        assert abs(out[grp].trend - round(tr, 6)) < 1e-6, grp
        assert abs(out[grp].season_next - round(s_next, 6)) < 1e-6, grp
        assert abs(out[grp].forecast_1 - round(lv + tr + s_next, 6)) < 1e-6, grp
        assert out[grp].n_periods == len(ys)


def test_holt_winters_degenerate_group(spark):
    """Groups shorter than two seasons (2m) have no seed: NULLs, not
    an error or fabricated state."""
    from correlationapi_spark.operators.stats import holt_winters_additive

    df = spark.createDataFrame(
        [("a", float(i), float(i)) for i in range(1, 11)],
        "grp string, t double, y double",
    ).selectExpr("grp", "cast(t as long) t", "y")
    rows = {r.grp: r for r in holt_winters_additive(df, m=7).collect()}
    assert rows["a"].level is None and rows["a"].forecast_1 is None
    assert rows["a"].n_periods == 10


def test_multimodal_phash_pinned(spark):
    """q_multimodal_phash: real-decode perceptual hashes — identical
    payloads collide (the dedup contract), every image doc gets a
    64-bit code, and the PNG variant codes are pinned (regression
    against decoder or grid drift)."""
    df = REGISTRY["q_multimodal_phash"].fn(spark, SF_SMOKE)
    rows = df.collect()
    assert rows and all(r.mime.startswith("image/") for r in rows)
    by_variant: dict[tuple, set] = {}
    for r in rows:
        assert r.dhash is not None and len(r.dhash) == 16, r
        assert r.ahash is not None and len(r.ahash) == 16, r
        # doc_id % 3 picks the fixture variant inside each mime class:
        # same (mime, variant) => same payload => same hashes
        by_variant.setdefault((r.mime, r.doc_id % 3), set()).add(
            (r.dhash, r.ahash)
        )
    for k, hs in by_variant.items():
        assert len(hs) == 1, (k, hs)
    png0 = by_variant[("image/png", 0)].pop()
    assert png0[0] == "6d6d6d6d6d6d6d6d", png0
    # determinism across a second evaluation
    again = {
        (r.doc_id, r.dhash, r.ahash)
        for r in REGISTRY["q_multimodal_phash"].fn(spark, SF_SMOKE).collect()
    }
    assert again == {(r.doc_id, r.dhash, r.ahash) for r in rows}


def test_compress_ratio_matches_local_zlib(spark):
    """q_text_compress_ratio's documented determinism pin: the
    distributed zlib byte counts equal a driver-side zlib.compress at
    the same pinned level 6, doc for doc, and the ratio orders
    repetitive docs below diverse ones."""
    import zlib

    from correlationapi_spark.io import load_tables

    out = {
        r.doc_id: r
        for r in REGISTRY["q_text_compress_ratio"].fn(spark, SF_SMOKE).collect()
    }
    docs = load_tables(spark, SF_SMOKE)["documents"].collect()
    assert len(out) == len(docs) > 0
    for d in docs:
        raw = d.text.encode("utf-8")
        r = out[d.doc_id]
        assert r.n_bytes == len(raw)
        assert r.n_compressed == len(zlib.compress(raw, 6))
        assert r.compress_ratio == round(r.n_compressed / r.n_bytes, 4)
    # redundancy signal sanity: a pure repetition compresses much harder
    # than the same tokens shuffled with distinct ones
    rep = spark.createDataFrame(
        [(1, "spam " * 400), (2, " ".join(f"w{i}" for i in range(400)))],
        "doc_id bigint, text string",
    )
    from correlationapi_spark.llm.text import compress_ratio

    rr = {r.doc_id: r.compress_ratio for r in compress_ratio(rep).collect()}
    assert rr[1] < rr[2] / 3, rr


def test_audio_spectral_recovers_generator_frequency(spark):
    """q_multimodal_audio_spectral's documented pin: the WAV fixtures
    are sines at 440·(k+1) Hz (build_wav), so the FFT peak must land
    within one bin and the zero-crossing rate within one crossing of
    the analytic 2f/rate; rms of a ±amp sine is amp/√2."""
    rows = (
        REGISTRY["q_multimodal_audio_spectral"].fn(spark, SF_SMOKE).collect()
    )
    assert rows
    import math

    for r in rows:
        k = {8000: 0, 12000: 1, 16000: 2}[r.rate]
        f = 440.0 * (k + 1)
        amp = 0.5 + 0.2 * k
        bin_hz = r.rate / r.n_samples
        assert abs(r.peak_hz - f) <= bin_hz, (r, f)
        assert abs(r.zcr - 2.0 * f / r.rate) <= 2.0 / r.n_samples + 1e-9, (
            r, f,
        )
        assert abs(r.rms - amp / math.sqrt(2.0)) < 0.01, (r, amp)
        # a pure tone concentrates the spectrum: centroid near the peak
        assert abs(r.centroid_hz - f) < 0.35 * f, r


def test_pq_encode_replays_exactly(spark):
    """q_embed_pq's documented pin: bit-exact python replay — same
    trained codebook (the deterministic numpy Lloyd over the
    vec_id-ordered sample), same sequential double fold over the
    subvector squared differences, same (dist, cid) lexicographic
    argmin, same fixed-order error assembly, same 6-bit packing. Also
    pins WHY the codebook is trained (round 13): its mean
    reconstruction error must beat the old first-PQ_K-rows sampled
    codebook's."""
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        PQ_BITS,
        PQ_K,
        PQ_M,
        PQ_SUB_D,
        PQ_TRAIN_N,
        _pq_train_local,
    )

    out = {
        r.vec_id: r
        for r in REGISTRY["q_embed_pq"].fn(spark, SF_SMOKE).collect()
    }
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_tables(spark, SF_SMOKE)["embeddings"].collect()
    }
    assert set(out) == set(emb)
    sample = [emb[i] for i in sorted(emb)[:PQ_TRAIN_N]]
    books = _pq_train_local(sample)
    book = {
        (s, cid): books[s][cid]
        for s in range(PQ_M)
        for cid in range(PQ_K)
    }
    sampled_book = {
        (s, cid): emb[cid][s * PQ_SUB_D:(s + 1) * PQ_SUB_D]
        for s in range(PQ_M)
        for cid in range(min(PQ_K, len(emb)))
    }

    def seq_l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    sampled_total = 0.0
    for vec_id, v in emb.items():
        cids, errs = [], []
        for s in range(PQ_M):
            sub = v[s * PQ_SUB_D:(s + 1) * PQ_SUB_D]
            d, cid = min(
                (seq_l2(sub, book[(s, c)]), c) for c in range(PQ_K)
            )
            cids.append(cid)
            errs.append(d)
            sampled_total += min(
                seq_l2(sub, sampled_book[(s, c)])
                for c in range(min(PQ_K, len(emb)))
            )
        code = sum(c << (PQ_BITS * i) for i, c in enumerate(cids))
        err = errs[0]
        for e in errs[1:]:
            err = err + e
        err = round(err, 6)
        r = out[vec_id]
        assert r.pq_code == code, (vec_id, r.pq_code, code)
        assert r.recon_err == err, (vec_id, r.recon_err, err)
    # training earns its keep: mean recon error beats the old
    # first-PQ_K-rows sampled codebook on the same corpus
    trained_mean = sum(r.recon_err for r in out.values()) / len(out)
    sampled_mean = sampled_total / len(emb)
    assert trained_mean < sampled_mean, (trained_mean, sampled_mean)


def test_pq_adc_recall_vs_exact(spark):
    """q_sim_topk_pq's documented pin (round 15 — residual codes +
    exact refine, r14 verdict item 1): (a) the TRAINING replays — the
    stored residual book equals a pure-python Lloyd over the
    vec_id-ordered residual sample taken against the STORED anchors;
    (b) the stored codes replay — every persisted pq_code equals the
    python argmin-encode of v − anchor[cell] against the stored book;
    (c) the declared key's refined answers replay bit-exactly — ADC
    candidates via the t1/T2/T3 residual decomposition, top-25 by
    (adc, vec_id), exact seq-fold L2 re-rank, 6dp rounding; (d)
    recall@5 against the exact L2 top-5 clears 0.60 on the five
    fixture probes — measured 0.92 with residual + refine=5k vs 0.36
    for the unrefined raw-code probe of rounds 13–14 (the fixture's
    neighbor gaps sit below 48-bit quantization error, so the refine
    stage is what moves recall; the residual encode is what cuts
    recon error, 0.289 vs 0.321 raw)."""
    import os

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        PQ_BITS,
        PQ_K,
        PQ_M,
        PQ_SUB_D,
        PQ_TRAIN_N,
        StoreIO,
        _pq_anchor_table,
        _pq_anchors_read,
        _pq_lut3_one,
        _pq_meta_read,
        _pq_store_for,
        _pq_t2_for_anchor,
        _pq_train_local,
        _seq_l2,
    )
    from correlationapi_spark.storeio import pointer_require

    out = REGISTRY["q_sim_topk_pq"].fn(spark, SF_SMOKE).collect()
    assert out
    by_probe: dict[int, list] = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert set(by_probe) == {0, 1, 2, 3, 4}
    assert all(len(v) == 5 for v in by_probe.values())
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_tables(spark, SF_SMOKE)["embeddings"].collect()
    }
    path = _pq_store_for(spark, SF_SMOKE)
    objs = pointer_require(StoreIO(path, spark), path)["objects"]
    meta = _pq_meta_read(spark, path, objs)
    assert meta["residual"] is True
    books = meta["books"]
    anchors = _pq_anchors_read(spark, path, objs)
    atable, n_slots = _pq_anchor_table(anchors)
    crows = spark.read.parquet(
        os.path.join(path, objs["corpus"])
    ).select("vec_id", "cell", "pq_code").collect()
    cellof = {r.vec_id: int(r.cell) for r in crows}
    codeof = {r.vec_id: int(r.pq_code) for r in crows}
    assert set(cellof) == set(emb)

    # (a) training replay: residual sample in vec_id order (fixture is
    # <= 4*PQ_TRAIN_N rows, so the hash cut keeps everything)
    sample = []
    for vid in sorted(emb)[:PQ_TRAIN_N]:
        a = atable[cellof[vid]]
        sample.append([x - y for x, y in zip(emb[vid], a)])
    assert _pq_train_local(sample) == books

    # (b) code replay for EVERY stored row: argmin-encode the residual
    for vid in emb:
        a = atable[cellof[vid]]
        resid = [x - y for x, y in zip(emb[vid], a)]
        code = 0
        for s in range(PQ_M):
            sub = resid[s * PQ_SUB_D:(s + 1) * PQ_SUB_D]
            _, cid = min(
                (_seq_l2(sub, books[s][c]), c) for c in range(PQ_K)
            )
            code |= cid << (PQ_BITS * s)
        assert codeof[vid] == code, (vid, codeof[vid], code)

    # (c) full refined-answer replay for probe 0: residual ADC
    # decomposition -> top-25 candidates -> exact seq-fold L2 top-5
    t2 = [_pq_t2_for_anchor(atable[c], books) for c in range(n_slots)]
    pv = emb[0]
    lut3 = _pq_lut3_one(pv, books)
    t1 = [_seq_l2(pv, atable[c]) for c in range(n_slots)]
    adc = {}
    for vid in emb:
        if vid == 0:
            continue
        cc, code = cellof[vid], codeof[vid]
        acc = t1[cc]
        for s in range(PQ_M):
            j = (code >> (PQ_BITS * s)) & (PQ_K - 1)
            acc = acc + (t2[cc][s][j] + lut3[s][j])
        adc[vid] = acc
    cand = sorted(adc, key=lambda v: (adc[v], v))[:25]
    want = sorted(
        (round(_seq_l2(pv, emb[v]), 6), v) for v in cand
    )[:5]
    got = sorted((r.l2, r.vec_id) for r in by_probe[0])
    assert got == want, (got, want)

    # (d) recall@5 vs exact L2 over all five probes
    hits = total = 0
    for pid, rows in by_probe.items():
        exact5 = sorted(
            (_seq_l2(emb[pid], v), vid)
            for vid, v in emb.items() if vid != pid
        )[:5]
        hits += len({vid for _, vid in exact5} & {r.vec_id for r in rows})
        total += 5
    assert hits / total >= 0.60, (hits, total)


def _pq_attached_store(spark, tmp_path, base_pred=None):
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        corpus_view,
        ivf_index,
        ivf_write,
        pq_attach,
    )

    emb = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    )
    path = str(tmp_path / "pqidx")
    sub = emb if base_pred is None else emb.filter(base_pred)
    a, c = ivf_index(sub, n_cells=8)
    ivf_write(a, c, path)
    pq_attach(spark, path)
    return path, emb


def test_pq_stored_probe_after_append_matches_fresh_encode(spark, tmp_path):
    """r13 verdict item 2's done-criterion, carried to residual codes
    (round 15): after an append into a PQ-attached store, the STORED
    codes must equal a fresh residual encode of the full live corpus
    with the SAME stored book and STORED anchors — i.e. the append
    encoded its delta with the persisted state (no retrain, no anchor
    recompute; the pqanchors object is carried by name), and the code
    column rides in the corpus row write so no crash ordering can
    desynchronize codes from corpus. Appended rows probe AND answer
    through the stored codes."""
    from correlationapi_spark.llm.similarity import (
        StoreIO,
        _pq_anchors_read,
        _pq_codes,
        _pq_meta_read,
        ivf_append,
        ivf_live,
        pq_probe_stored,
    )
    from correlationapi_spark.storeio import pointer_require

    path, emb = _pq_attached_store(
        spark, tmp_path, F.col("vec_id") % 5 != 0
    )
    objs0 = pointer_require(StoreIO(path, spark), path)["objects"]
    ivf_append(spark, path, emb.filter(F.col("vec_id") % 5 == 0))

    objs = pointer_require(StoreIO(path, spark), path)["objects"]
    # the append is additive: book and anchors carried by name
    assert objs["pqbooks"] == objs0["pqbooks"]
    assert objs["pqanchors"] == objs0["pqanchors"]

    live = ivf_live(spark, path)[0]
    assert live.filter(F.col("pq_code").isNull()).count() == 0
    assert live.count() == emb.count()

    meta = _pq_meta_read(spark, path, objs)
    assert meta["residual"] is True
    anchors = _pq_anchors_read(spark, path, objs)
    stored_codes = {
        r.vec_id: r.pq_code
        for r in live.select("vec_id", "pq_code").collect()
    }
    fresh = {
        r.vec_id: r.pq_code
        for r in _pq_codes(
            live.drop("pq_code"), meta["books"], anchors=anchors
        ).select("vec_id", "pq_code").collect()
    }
    assert stored_codes == fresh

    stored = pq_probe_stored(spark, path, [0, 1, 2], k=5).collect()
    assert len(stored) == 15
    # probe 0 is an appended row (0 % 5 == 0): the delta provably
    # probes AND answers through the stored codes
    assert any(r.probe_id == 0 for r in stored)
    answered = {
        r.vec_id
        for r in pq_probe_stored(
            spark, path, list(range(1, 10)), k=9
        ).collect()
    }
    assert answered & {
        v for v in range(0, emb.count(), 5)
    }, "appended rows never answer stored probes"


def test_pq_probe_batches_beyond_cap(spark, tmp_path, monkeypatch):
    """advice r13: probe sets beyond _PQ_MAX_PROBES are scored in
    batches instead of refused. Pin with the cap shrunk to 2 so five
    probes exercise three real batches on both the stored and the
    ad-hoc engines, and the answers equal the unbatched run."""
    import correlationapi_spark.llm.similarity as sim
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        pq_adc_topk,
        pq_probe_stored,
    )

    path, _ = _pq_attached_store(spark, tmp_path)
    want_stored = sorted(
        map(
            tuple,
            pq_probe_stored(spark, path, list(range(5)), k=3).collect(),
        )
    )
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    want_adhoc = sorted(
        map(tuple, pq_adc_topk(emb, F.col("vec_id") < 5, 3).collect())
    )
    monkeypatch.setattr(sim, "_PQ_MAX_PROBES", 2)
    got_stored = sorted(
        map(
            tuple,
            pq_probe_stored(spark, path, list(range(5)), k=3).collect(),
        )
    )
    got_adhoc = sorted(
        map(tuple, pq_adc_topk(emb, F.col("vec_id") < 5, 3).collect())
    )
    assert got_stored == want_stored
    assert got_adhoc == want_adhoc
    # ivfpq's batched probe path too
    want_iv = sorted(
        map(
            tuple,
            pq_probe_stored(
                spark, path, list(range(5)), k=3, n_probe=4
            ).collect(),
        )
    )
    monkeypatch.setattr(sim, "_PQ_MAX_PROBES", 1024)
    assert want_iv == sorted(
        map(
            tuple,
            pq_probe_stored(
                spark, path, list(range(5)), k=3, n_probe=4
            ).collect(),
        )
    )


def test_pq_refine_driver_matches_join(spark, tmp_path, monkeypatch):
    """Round-16 replay pin (r15 verdict item 5): below the pushdown
    cap the exact refine runs DRIVER-SIDE (collected candidate vectors
    + the pure-python _seq_l2 fold); above it, as the distributed
    broadcast join whose L2 is an F.aggregate/zip_with fold. The two
    branches must be BIT-equal — same l2 doubles, same ranks — because
    the python fold replays the JVM fold's float sequence exactly.
    Pin by running the same refine probe with the cap at its default
    (driver branch) and forced to 0 (join branch), on both the
    full-scan and the cell-pruned (n_probe) shapes."""
    import correlationapi_spark.llm.similarity as sim
    from correlationapi_spark.llm.similarity import pq_probe_stored

    path, _ = _pq_attached_store(spark, tmp_path)

    def runs(**kw):
        driver = pq_probe_stored(
            spark, path, list(range(5)), k=3, refine=10, **kw
        ).collect()
        monkeypatch.setattr(sim, "_PQ_REFINE_PUSHDOWN_IDS", 0)
        join = pq_probe_stored(
            spark, path, list(range(5)), k=3, refine=10, **kw
        ).collect()
        monkeypatch.setattr(sim, "_PQ_REFINE_PUSHDOWN_IDS", 65536)
        return driver, join

    for kw in ({}, {"n_probe": 4}):
        driver, join = runs(**kw)
        assert len(driver) == len(join) > 0, kw
        # bit-equality: identical (probe_id, vec_id, l2, rank) tuples,
        # l2 compared as exact doubles
        assert sorted(map(tuple, driver)) == sorted(map(tuple, join)), kw


def test_pq_attachment_survives_maintenance(spark, tmp_path):
    """The PQ attachment's maintenance contract: delete+compact carry
    the code column through the live rewrite (same book), recluster
    re-stamps cells and re-encodes with the STORED book (codes are
    cell-independent, so probe answers persist), and a REBUILD drops
    PQ (new corpus, book must retrain — pq_probe_stored refuses until
    re-attached)."""
    from correlationapi_spark.llm.similarity import (
        StoreIO,
        _pq_books_read,
        ivf_compact,
        ivf_delete,
        ivf_index,
        ivf_live,
        ivf_recluster,
        ivf_write,
        pq_probe_stored,
    )
    from correlationapi_spark.storeio import pointer_require

    path, emb = _pq_attached_store(spark, tmp_path)
    objs0 = pointer_require(StoreIO(path, spark), path)["objects"]
    books0 = _pq_books_read(spark, path, objs0)

    assert ivf_delete(spark, path, [7, 8]) == 2
    ivf_compact(spark, path)
    live = ivf_live(spark, path)[0]
    assert "pq_code" in live.columns
    assert live.filter(F.col("pq_code").isNull()).count() == 0
    objs1 = pointer_require(StoreIO(path, spark), path)["objects"]
    assert objs1["pqbooks"] == objs0["pqbooks"]  # book carried by name
    assert _pq_books_read(spark, path, objs1) == books0

    assert ivf_recluster(spark, path, threshold=0.0)["reclustered"]
    live = ivf_live(spark, path)[0]
    assert live.filter(F.col("pq_code").isNull()).count() == 0
    got = pq_probe_stored(spark, path, [0], k=3).collect()
    assert len(got) == 3 and all(r.vec_id not in (7, 8) for r in got)

    # rebuild drops PQ: the new corpus is new data
    a, c = ivf_index(emb, n_cells=8)
    ivf_write(a, c, path)
    objs2 = pointer_require(StoreIO(path, spark), path)["objects"]
    assert "pqbooks" not in objs2
    assert "pq_code" not in ivf_live(spark, path)[0].columns
    with pytest.raises(ValueError, match="pq_attach"):
        pq_probe_stored(spark, path, [0], k=3)


def test_markov_stationary_is_fixed_point(spark):
    """q_event_markov_stationary's documented pin: π is a probability
    vector and a fixed point of the transition operator (πP plus the
    uniform dangling redistribution) to iteration tolerance."""
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.operators.analytics import transition_matrix

    rows = REGISTRY["q_event_markov_stationary"].fn(spark, SF_SMOKE).collect()
    pi = {r.state: r.pi for r in rows}
    assert abs(sum(pi.values()) - 1.0) < 1e-4
    assert all(v >= 0 for v in pi.values())
    tmr = (
        transition_matrix(
            load_tables(spark, SF_SMOKE)["events"],
            "user_id", "event_type", "ts", "event_id",
        )
        .select("prev_type", "next_type", "p_next")
        .collect()
    )
    sources = {r.prev_type for r in tmr}
    dmass = sum(v for s, v in pi.items() if s not in sources)
    n = len(pi)
    for state in pi:
        flow = sum(
            pi[r.prev_type] * r.p_next
            for r in tmr if r.next_type == state
        )
        # 6-dp rounded π re-checked through one application of P: the
        # residual bound is tolerance + rounding amplification
        assert abs(flow + dmass / n - pi[state]) < 5e-4, state


def test_ivfpq_candidates_subset_and_consistent(spark):
    """q_sim_topk_ivfpq's documented pin (round 15 — residual +
    refine): (a) every fused answer comes from one of the probe's own
    n_probe=6 nearest cells (pruning is real); (b) every refined score
    equals the exact sequential-fold L2 to 6dp (the refine stage is
    exact, not approximate); (c) per-probe answer count is k; (d) the
    LIMIT invariant — with refine = the whole candidate pool, the
    fused engine returns EXACTLY the exact-L2 top-5 restricted to the
    probed cells, i.e. the only approximation left is the cell
    pruning itself (this is what the round-15 candidate-depth fix
    guarantees: the per-batch ADC partial top-k keeps refine-many
    rows, so the refine stage sees every candidate)."""
    import os

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        StoreIO,
        _pq_store_for,
        _seq_l2,
        pq_probe_stored,
    )
    from correlationapi_spark.storeio import pointer_require

    fused = REGISTRY["q_sim_topk_ivfpq"].fn(spark, SF_SMOKE).collect()
    assert fused
    by_probe: dict[int, list] = {}
    for r in fused:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert set(by_probe) == {0, 1, 2, 3, 4}
    assert all(len(v) == 5 for v in by_probe.values())

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_tables(spark, SF_SMOKE)["embeddings"].collect()
    }
    path = _pq_store_for(spark, SF_SMOKE)
    objs = pointer_require(StoreIO(path, spark), path)["objects"]
    cellof = {
        r.vec_id: int(r.cell)
        for r in spark.read.parquet(
            os.path.join(path, objs["corpus"])
        ).select("vec_id", "cell").collect()
    }
    cents = [
        (int(r.cell), [float(x) for x in r.cv])
        for r in spark.read.parquet(
            os.path.join(path, objs["centroids"])
        ).collect()
    ]

    def probed_cells(pid):
        pv = emb[pid]
        return {
            c for _, c in sorted(
                (_seq_l2(pv, cv), c) for c, cv in cents
            )[:6]
        }

    for pid, rows in by_probe.items():
        cells = probed_cells(pid)
        for r in rows:
            assert cellof[r.vec_id] in cells, r          # (a)
            assert r.l2 == round(_seq_l2(emb[pid], emb[r.vec_id]), 6), r

    # (d) refine = whole pool -> exact top-5 within the probed cells
    full = pq_probe_stored(
        spark, path, [0, 1], k=5, n_probe=6, refine=len(emb)
    ).collect()
    byf: dict[int, list] = {}
    for r in full:
        byf.setdefault(r.probe_id, []).append((r.l2, r.vec_id))
    for pid in (0, 1):
        cells = probed_cells(pid)
        want = sorted(
            (round(_seq_l2(emb[pid], v), 6), vid)
            for vid, v in emb.items()
            if vid != pid and cellof[vid] in cells
        )[:5]
        assert sorted(byf[pid]) == want, pid


def test_resize_matches_local_replay(spark):
    """q_multimodal_resize's documented pin: driver-side replay of the
    same decoders + integer nearest-neighbor grid reproduces every
    thumbnail sha byte-exactly, and identical payloads (the 3 fixture
    variants per format) collapse to identical thumbnails."""
    import hashlib

    from correlationapi_spark.llm.multimodal import (
        THUMB_H,
        THUMB_W,
        make_decode_gif_pixels,
        make_decode_jpeg_pixels,
        make_decode_png_pixels,
        with_media_column,
    )
    from correlationapi_spark.io import load_tables

    rows = REGISTRY["q_multimodal_resize"].fn(spark, SF_SMOKE).collect()
    assert rows and all(r.thumb_sha256 for r in rows)
    media = {
        r.doc_id: (bytes(r.media.data), r.media.mime)
        for r in with_media_column(load_tables(spark, SF_SMOKE)["documents"])
        .filter(
            F.col("media.mime").isin("image/png", "image/gif", "image/jpeg")
        )
        .collect()
    }
    dec = {
        "image/png": make_decode_png_pixels(),
        "image/jpeg": make_decode_jpeg_pixels(),
    }
    gif = make_decode_gif_pixels()

    def replay(data, mime):
        if mime == "image/gif":
            w, h, _n, px = gif(data)
            ch = 3
            px = px[: w * h * 3]
        else:
            w, h, ch, px = dec[mime](data)
        out = bytearray()
        for r in range(THUMB_H):
            y = min(h - 1, r * h // THUMB_H)
            for c in range(THUMB_W):
                x = min(w - 1, c * w // THUMB_W)
                if ch >= 3:
                    o = (y * w + x) * ch
                    out += bytes(
                        (px[o] & 0xFF, px[o + 1] & 0xFF, px[o + 2] & 0xFF)
                    )
                else:
                    v = px[(y * w + x) * ch] & 0xFF
                    out += bytes((v, v, v))
        return w, h, hashlib.sha256(bytes(out)).hexdigest()

    sha_by_payload: dict[bytes, str] = {}
    for r in rows:
        data, mime = media[r.doc_id]
        w, h, sha = replay(data, mime)
        assert (r.src_w, r.src_h) == (w, h), r.doc_id
        assert r.thumb_sha256 == sha, r.doc_id
        prev = sha_by_payload.setdefault(data, r.thumb_sha256)
        assert prev == r.thumb_sha256  # identical payload => identical thumb


def test_image_dedup_clusters_match_payloads(spark):
    """q_dedup_image's documented pin: thumbnail clusters are a
    COARSENING of payload-byte equality — identical payloads always
    share a cluster (never split), clusters may merge payloads whose
    decoded 8x8 pixels coincide (that is the normalized-dedup point:
    re-encodes collapse), and the survivor is the min doc_id of its
    cluster."""
    from correlationapi_spark.llm.multimodal import with_media_column
    from correlationapi_spark.io import load_tables

    clusters = {
        r.thumb_sha256: r
        for r in REGISTRY["q_dedup_image"].fn(spark, SF_SMOKE).collect()
    }
    assert clusters
    media = [
        (r.doc_id, bytes(r.media.data))
        for r in with_media_column(load_tables(spark, SF_SMOKE)["documents"])
        .filter(
            F.col("media.mime").isin("image/png", "image/gif", "image/jpeg")
        )
        .collect()
    ]
    by_payload: dict[bytes, list[int]] = {}
    for doc_id, data in media:
        by_payload.setdefault(data, []).append(doc_id)
    # recompute each doc's thumb via the engine itself (one pass) to
    # map payload classes -> clusters
    thumbs = {
        r.doc_id: r.thumb_sha256
        for r in REGISTRY["q_multimodal_resize"].fn(spark, SF_SMOKE).collect()
    }
    # (a) identical payloads never split across clusters
    for ids in by_payload.values():
        assert len({thumbs[i] for i in ids}) == 1, ids
    # (b) every cluster's count and survivor match the thumb classes
    by_thumb: dict[str, list[int]] = {}
    for doc_id, sha in thumbs.items():
        by_thumb.setdefault(sha, []).append(doc_id)
    expected = {
        sha: (min(ids), len(ids))
        for sha, ids in by_thumb.items() if len(ids) > 1
    }
    got = {
        sha: (r.keep_id, r.n_copies) for sha, r in clusters.items()
    }
    assert got == expected
    # (c) the coarsening is genuine on this fixture: at least one
    # cluster spans > 1 payload class (re-encode collapse observed)
    assert any(
        len({bytes(data) for d, data in media if thumbs[d] == sha}) > 1
        for sha in clusters
    )


def test_kcore_is_maximal_and_consistent(spark):
    """q_graph_kcore's documented pin: (a) every core node has >= k
    neighbors INSIDE the core; (b) the core is a fixed point (one more
    peel removes nothing); (c) peeled nodes genuinely fail the bound
    when restricted to the core (maximality direction)."""
    from correlationapi_spark.io import load_tables

    K = 3
    core = {
        r.node: r.core_degree
        for r in REGISTRY["q_graph_kcore"].fn(spark, SF_SMOKE).collect()
    }
    assert core
    li = (
        load_tables(spark, SF_SMOKE)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    from collections import defaultdict

    orders = defaultdict(set)
    for r in li:
        orders[r.l_orderkey].add(r.l_partkey)
    adj = defaultdict(set)
    for parts in orders.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1:]:
                adj[u].add(v)
                adj[v].add(u)
    # (a) + (b): in-core degree >= K and matches the reported degree
    for node, d in core.items():
        in_core = {n for n in adj[node] if n in core}
        assert len(in_core) >= K, node
        assert len(in_core) == d, (node, d, len(in_core))
    # (c) reference peel: iterating locally reproduces the same core
    ref = {n for n, ns in adj.items() if ns}
    changed = True
    while changed:
        weak = {n for n in ref if len(adj[n] & ref) < K}
        changed = bool(weak)
        ref -= weak
    assert ref == set(core)


def test_ivf_append_equals_same_quantizer_rebuild(spark, tmp_path):
    """q_sim_index_append's documented pin: appending a delta to a
    persisted IVF index must equal assigning (base ∪ delta) with the
    SAME quantizer in one shot — incremental maintenance promises "no
    retrain", not "same as retrained" — and the append must not touch
    any existing base cell file."""
    import os

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        corpus_view,
        ivf_append,
        ivf_assign,
        ivf_imbalance,
        ivf_index,
        ivf_probe,
        ivf_read,
        ivf_resolve,
        ivf_write,
    )

    emb = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    )
    base, delta = (
        emb.filter(F.col("vec_id") % 5 != 0),
        emb.filter(F.col("vec_id") % 5 == 0),
    )
    path = str(tmp_path / "ivf")
    assigned, cents = ivf_index(base, n_cells=16)
    ivf_write(assigned, cents, path)

    # snapshot base data files (path, size, mtime) before the append —
    # resolved through the layout pointer (round 14: the corpus object
    # is version-named, not a fixed subdirectory)
    def files():
        out = {}
        for root, _, names in os.walk(ivf_resolve(spark, path)["corpus"]):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = files()
    ivf_append(spark, path, delta)
    after = files()
    # every base file survives byte-identical; the appended rows are
    # new files in the delta object, none in the base
    assert after == before, "base corpus object touched by the append"
    assert _object_files(ivf_resolve(spark, path)["delta"])

    # append-then-probe == probing the IN-MEMORY one-shot union of the
    # base assignment and the delta assigned against the same frozen
    # centroids — the persisted write/append/read-back layout is the
    # thing under test, never a second run of itself (review r10: the
    # earlier comparator re-ran the same pipeline, a determinism
    # tautology)
    corpus, cents2 = ivf_read(spark, path)

    def probes_of(c):
        return c.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("na").alias("pna"),
        )

    got = sorted(
        tuple(r)
        for r in ivf_probe(corpus, cents2, probes_of(corpus), 5, n_probe=6).collect()
    )

    union = assigned.select("vec_id", "v", "na", "_vn2", "cell").unionByName(
        ivf_assign(cents, delta)
    )
    want = sorted(
        tuple(r)
        for r in ivf_probe(union, cents, probes_of(union), 5, n_probe=6).collect()
    )
    assert got == want

    # and the union really contains the delta: probe id 0 (a delta row,
    # 0 % 5 == 0) answers alongside the base probes 1-4
    assert {r[0] for r in got} == {0, 1, 2, 3, 4}

    # append-only contract: re-appending already-indexed ids is refused
    with pytest.raises(ValueError, match="append-only"):
        ivf_append(spark, path, delta)

    # drift gauge: one row, sane fields, no recluster at this balance
    g = ivf_imbalance(spark, path).collect()[0]
    assert g.n_vectors == emb.filter(
        F.col("vec_id").isNotNull()
    ).count()
    assert g.n_cells <= 16 and g.imbalance >= 1.0


def _build_small_index(spark, path, pred=None):
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        corpus_view,
        ivf_index,
        ivf_write,
    )

    emb = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    )
    if pred is not None:
        emb = emb.filter(pred)
    assigned, cents = ivf_index(emb, n_cells=8)
    ivf_write(assigned, cents, path)
    return emb


def test_ivf_delete_probe_excludes_and_append_readmits(spark, tmp_path):
    """r10 verdict item 7's pinned property: delete→probe excludes the
    ids (as neighbors AND from the gauge), append-after-delete
    re-admits them with exactly one live row per id, and compact
    physically reclaims the tombstoned bytes."""
    import os

    from correlationapi_spark.llm.similarity import (
        _tombstones,
        ivf_append,
        ivf_compact,
        ivf_delete,
        ivf_imbalance,
        ivf_live,
        ivf_probe,
    )

    path = str(tmp_path / "ivf")
    emb = _build_small_index(spark, path)
    n_all = emb.count()

    def probe(ids, k=5):
        corpus, cents = ivf_live(spark, path)
        probes = corpus.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("na").alias("pna"),
        )
        return ivf_probe(corpus, cents, probes, k, n_probe=8).collect()

    # pick victims that provably ANSWER probes today (fixed ids are
    # not guaranteed to crack anyone's top-k in a random corpus)
    probers = list(range(1, 10))
    res0 = probe(probers, k=9)
    victims = sorted(
        {r.neighbor_id for r in res0 if r.neighbor_id >= 10}
    )[:2]
    assert len(victims) == 2
    va, vb = victims

    deleted = ivf_delete(spark, path, victims)
    assert deleted == 2
    res = probe(probers, k=9)
    assert all(r.neighbor_id not in victims for r in res)
    assert not probe([va])  # a deleted id no longer probes either
    assert ivf_imbalance(spark, path).collect()[0].n_vectors == n_all - 2

    # absent / already-deleted ids are no-ops, not errors
    assert ivf_delete(spark, path, [va, 999999]) == 0

    # re-admit va via append: clash check passes, dead rows purged
    readd = emb.filter(F.col("vec_id") == va)
    ivf_append(spark, path, readd)
    corpus = ivf_live(spark, path)[0]
    assert corpus.filter(F.col("vec_id") == va).count() == 1
    assert any(r.neighbor_id == va for r in probe(probers, k=9))
    # vb stays deleted — the re-admit is per-id, not a mask reset
    assert corpus.filter(F.col("vec_id") == vb).count() == 0

    # re-appending the now-live va is refused again
    with pytest.raises(ValueError, match="append-only"):
        ivf_append(spark, path, readd)

    # compact: bytes for vb are physically gone, tombstones cleared,
    # and the live answer set is unchanged
    before = probe(probers, k=9)
    stats = ivf_compact(spark, path)
    assert stats["n_vectors"] == n_all - 1
    from correlationapi_spark.llm.similarity import ivf_resolve

    raw = spark.read.parquet(ivf_resolve(spark, path)["corpus"])
    assert raw.filter(F.col("vec_id") == vb).count() == 0
    assert _tombstones(spark, path) is None
    assert sorted(map(tuple, probe(probers, k=9))) == sorted(
        map(tuple, before)
    )


def test_ivf_delete_absent_id_then_append_survives(spark, tmp_path):
    """advice r11 (high): a delete of a never-indexed id must not
    persist a tombstone — the id is absent from the Bloom sidecar, so
    a later append would take the zero-suspect fast path, leave the
    stale tombstone masking the fresh vector, and the next compact
    would physically drop it (silent data loss). Pinned end-to-end:
    delete absent → append it → it answers probes → survives compact.
    Also pins the healing path for pre-r12 layouts whose tombstone
    sets already contain never-indexed ids."""
    import os

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        _tombstones,
        corpus_view,
        ivf_append,
        ivf_compact,
        ivf_delete,
        ivf_live,
        ivf_probe,
    )

    path = str(tmp_path / "ivf")
    # hold id 3 out of the initial build so it is genuinely never
    # indexed, then delete/append it
    _build_small_index(spark, path, F.col("vec_id") != 3)
    full = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    )

    def probe(ids, k=5):
        corpus, cents = ivf_live(spark, path)
        probes = corpus.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("na").alias("pna"),
        )
        return ivf_probe(corpus, cents, probes, k, n_probe=8).collect()

    # delete of a never-indexed id: no-op AND no tombstone persisted
    assert ivf_delete(spark, path, [3]) == 0
    assert _tombstones(spark, path) is None

    # append it: the id must answer probes (self-neighbor at least)
    ivf_append(spark, path, full.filter(F.col("vec_id") == 3))
    assert ivf_live(spark, path)[0].filter(
        F.col("vec_id") == 3
    ).count() == 1
    assert probe([3])

    # and it SURVIVES compact (pre-fix: compact deleted the fresh row)
    ivf_compact(spark, path)
    assert ivf_live(spark, path)[0].filter(
        F.col("vec_id") == 3
    ).count() == 1
    assert probe([3])

    # healing path: a pre-r12 layout may carry a stale tombstone for a
    # never-indexed id — simulate one (injected as a tombstones object
    # plus a pointer bump, the way ivf_delete would create it), then
    # append that id: the re-admit check rides the tombstone set
    # directly (not the Bloom screen), so the stale tombstone is
    # cleared by the re-admit compaction and the vector lives
    from correlationapi_spark.storeio import (
        StoreIO,
        object_dir,
        pointer_read,
        pointer_write,
    )

    io = StoreIO(path, spark)
    lay = pointer_read(io, path)
    tname = object_dir("tombstones", lay["version"] + 1)
    spark.createDataFrame([(7_000_000,)], "vec_id long").write.mode(
        "append"
    ).parquet(os.path.join(path, tname))
    pointer_write(io, path, {
        "version": lay["version"] + 1,
        "objects": {**lay["objects"], "tombstones": tname},
        "retired": [],
    })
    dim = len(ivf_live(spark, path)[0].select("v").first().v)
    ghost = spark.createDataFrame(
        [(7_000_000, [1.0] + [0.0] * (dim - 1))],
        "vec_id long, v array<double>",
    )
    ivf_append(spark, path, ghost)
    live = ivf_live(spark, path)[0]
    assert live.filter(F.col("vec_id") == 7_000_000).count() == 1
    tomb = _tombstones(spark, path)
    assert tomb is None or tomb.filter(
        F.col("vec_id") == 7_000_000
    ).count() == 0
    ivf_compact(spark, path)
    assert ivf_live(spark, path)[0].filter(
        F.col("vec_id") == 7_000_000
    ).count() == 1


def test_ivf_compact_to_zero_keeps_index_readable(spark, tmp_path):
    """advice r11 (medium): tombstoning every vector then compacting
    used to delete every cell= directory, leaving corpus/ with zero
    parquet files — UNABLE_TO_INFER_SCHEMA on every read surface while
    the _ivf_index marker still vouched for the layout. The purge now
    writes a zero-row schema-bearing sentinel; reads stay green and a
    later append lands in the partitioned delta object beside it."""
    import os

    from correlationapi_spark.llm.similarity import (
        ivf_append,
        ivf_compact,
        ivf_delete,
        ivf_imbalance,
        ivf_is_index,
        ivf_live,
        ivf_probe,
    )

    path = str(tmp_path / "ivf")
    emb = _build_small_index(spark, path, F.col("vec_id") < 40)
    all_ids = [r.vec_id for r in ivf_live(spark, path)[0].select(
        "vec_id"
    ).collect()]
    assert ivf_delete(spark, path, all_ids) == len(all_ids)
    stats = ivf_compact(spark, path)
    assert stats["n_vectors"] == 0

    # every read surface stays green on the empty index
    corpus, cents = ivf_live(spark, path)
    assert corpus.count() == 0
    assert set(corpus.columns) >= {"vec_id", "v", "na", "_vn2", "cell"}
    assert ivf_is_index(spark, path)
    g = ivf_imbalance(spark, path).collect()[0]
    assert g.n_vectors in (0, None)

    # appending into the emptied index resumes the partitioned layout
    ivf_append(spark, path, emb.select("vec_id", "v"))
    corpus, cents = ivf_live(spark, path)
    assert corpus.count() == len(all_ids)
    # the rows land in the delta object, partitioned; the sentinel
    # stays alone in the base, never next to cell= dirs
    from correlationapi_spark.llm.similarity import ivf_resolve

    objs = ivf_resolve(spark, path)
    assert not [f for f in os.listdir(objs["delta"])
                if f.startswith("part-")]
    assert not [f for f in os.listdir(objs["corpus"])
                if f.startswith("cell=")]
    probes = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("na").alias("pna"),
    )
    assert ivf_probe(corpus, cents, probes, 3, n_probe=8).count() > 0


def test_ivf_bloom_no_false_negatives_and_low_fp(spark):
    """The O(delta) append guard's safety property: every indexed id IS
    Bloom-positive (a false negative would let a duplicate through
    without even reaching the exact fallback), and the false-positive
    rate on disjoint ids stays near the designed ~7e-4 (false
    positives only cost the exact-check fallback, never correctness)."""
    from correlationapi_spark.llm.similarity import (
        _bloom_build,
        _bloom_m,
        _bloom_screen_and_build,
        _bloom_suspects,
    )

    ids = spark.range(0, 2000).select(F.col("id").alias("vec_id"))
    m = _bloom_m(2000)
    bits = _bloom_build(ids, m)

    members = _bloom_suspects(spark, ids, m, bits)
    assert members.count() == 2000  # zero false negatives

    fresh = spark.range(100000, 120000).select(F.col("id").alias("vec_id"))
    fp = _bloom_suspects(spark, fresh, m, bits).count()
    assert fp <= 60, f"Bloom FP rate too high: {fp}/20000"

    # the fused screen+build (round 13, the append hot path) must agree
    # with BOTH reference helpers: same suspect set against the member
    # bitmap, and a bit-identical bitmap for the scanned ids. Round 16:
    # the fused pass also carries the exact row count and duplicate-id
    # sample (the hash repartition puts every dup in one partition).
    fused_sus, fused_bits, fused_n, fused_rows, fused_dups = (
        _bloom_screen_and_build(spark, ids, m, bits)
    )
    assert fused_sus.count() == 2000
    assert fused_n == 2000  # the piggybacked count agrees with the rows
    assert fused_bits == bits  # same ids -> same bitmap, byte-exact
    assert fused_rows == 2000  # exact row count rides the partials
    assert fused_dups == []  # distinct ids -> no dup sample
    fresh_sus, fresh_bits, fresh_n, fresh_rows, fresh_dups = (
        _bloom_screen_and_build(spark, fresh, m, bits)
    )
    assert fresh_sus.count() == fp  # identical screen verdicts
    assert fresh_n == fp  # count rides the partials, no extra job
    assert fresh_bits == _bloom_build(fresh, m)
    assert fresh_rows == 20000 and fresh_dups == []
    # duplicate ids are found EXACTLY, across input partitions: two
    # copies of the same id laid out in different input partitions
    # must still meet in one hash partition and be reported
    dup_ids = ids.unionByName(
        spark.range(0, 3).select(F.col("id").alias("vec_id"))
    ).repartition(7)
    _, dbits, _, drows, ddups = _bloom_screen_and_build(
        spark, dup_ids, m, bits
    )
    assert drows == 2003
    assert ddups == [0, 1, 2]
    assert dbits == bits  # dups add no new bit positions


def test_pq_train_local_determinism_and_small_sample():
    """The PQ codebook trainer's edge contract (round 13): (a) two
    runs on the same sample produce bit-identical books (the replay
    pins depend on this); (b) a sample SMALLER than PQ_K still yields
    a full PQ_M x PQ_K book via cycled init; (c) an empty sample
    refuses with a clear error instead of a numpy shape crash."""
    import pytest as _pytest

    from correlationapi_spark.llm.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUB_D,
        _pq_train_local,
    )

    sample = [
        [((i * 37 + j * 11) % 97) / 97.0 for j in range(PQ_M * PQ_SUB_D)]
        for i in range(PQ_K + 5)
    ]
    b1 = _pq_train_local(sample)
    b2 = _pq_train_local(sample)
    assert b1 == b2  # bit-identical, not approx
    assert len(b1) == PQ_M and all(len(bs) == PQ_K for bs in b1)
    assert all(len(c) == PQ_SUB_D for bs in b1 for c in bs)

    tiny = _pq_train_local(sample[:3])
    assert len(tiny) == PQ_M and all(len(bs) == PQ_K for bs in tiny)

    with _pytest.raises(ValueError, match="at least one sample"):
        _pq_train_local([])


def test_ivf_mutation_lock_single_writer(spark, tmp_path):
    """advice r10: the check-then-write critical section takes a lock —
    a second writer fails fast instead of racing the clash check."""
    import os

    from correlationapi_spark.llm.similarity import (
        _IVF_LOCK,
        ivf_append,
        ivf_delete,
    )

    path = str(tmp_path / "ivf")
    emb = _build_small_index(spark, path, F.col("vec_id") % 5 != 0)

    lock = os.path.join(path, _IVF_LOCK)
    open(lock, "w").close()  # a writer is (or died) in flight
    delta = emb.sparkSession.read.parquet(
        os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    with pytest.raises(ValueError, match="mutation is in flight"):
        ivf_delete(spark, path, [1])
    from correlationapi_spark.llm.similarity import corpus_view

    with pytest.raises(ValueError, match="mutation is in flight"):
        ivf_append(
            spark, path,
            corpus_view(delta, "vec_id", "embedding").filter(
                F.col("vec_id") % 5 == 0
            ),
        )
    os.remove(lock)  # the documented recovery
    ivf_delete(spark, path, [1])
    # and the lock never outlives a successful mutation
    assert not os.path.exists(lock)


def test_ivf_append_migrates_pre_sidecar_layout(spark, tmp_path):
    """A store whose id-Bloom sidecar (state.bin) is absent still
    appends — exact full-scan clash check once, sidecar rebuilt on the
    way out, and the rebuilt Bloom refuses a duplicate append."""
    import os

    from correlationapi_spark.llm.similarity import (
        _IDSTATE_FILE,
        _idstate_read,
        corpus_view,
        ivf_append,
        ivf_is_index,
        ivf_live,
        ivf_resolve,
    )
    from correlationapi_spark.io import load_tables

    path = str(tmp_path / "ivf")
    emb = _build_small_index(spark, path, F.col("vec_id") % 5 != 0)
    idstate = ivf_resolve(spark, path)["idstate"]
    for n in os.listdir(idstate):  # state.bin + its checksum sibling
        if _IDSTATE_FILE in n:
            os.remove(os.path.join(idstate, n))
    assert _idstate_read(spark, path) is None

    delta = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    ).filter(F.col("vec_id") % 5 == 0)
    ivf_append(spark, path, delta)
    assert _idstate_read(spark, path) is not None
    assert ivf_is_index(spark, path)
    n = ivf_live(spark, path)[0].count()
    assert n == emb.count() + delta.count()
    # and the rebuilt Bloom works: duplicate append refused
    with pytest.raises(ValueError, match="append-only"):
        ivf_append(spark, path, delta)


def test_ivf_append_retry_after_sidecar_crash(spark, tmp_path):
    """review r11: the sidecar is written BEFORE the corpus rows, so
    the only crash window leaves a Bloom that is a superset of the
    corpus (benign). Simulate that exact state — idstate already
    contains the delta ids, corpus does not — and the RETRY must
    succeed (suspects all fall to the exact live check, which clears
    them) and leave exactly one row per delta id. The old corpus-first
    order made the same retry silently duplicate every id."""
    import numpy as np

    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        _bloom_build,
        _idstate_read,
        _idstate_write,
        corpus_view,
        ivf_append,
        ivf_live,
    )

    path = str(tmp_path / "ivf")
    _build_small_index(spark, path, F.col("vec_id") % 5 != 0)
    delta = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    ).filter(F.col("vec_id") % 5 == 0)
    n_delta = delta.count()

    # forge the post-crash sidecar: Bloom ∪= delta, n += delta — the
    # state ivf_append leaves if killed between idstate and corpus
    st = _idstate_read(spark, path)
    m = int(st.m)
    bits = (
        np.frombuffer(bytes(st.bits), dtype=np.uint8)
        | np.frombuffer(
            _bloom_build(delta.select("vec_id"), m), dtype=np.uint8
        )
    ).tobytes()
    _idstate_write(spark, path, None, m, int(st.n) + n_delta, bits)

    ivf_append(spark, path, delta)  # the retry — must NOT raise
    live = ivf_live(spark, path)[0]
    dup = (
        live.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    assert live.filter(F.col("vec_id") % 5 == 0).count() == n_delta
    # and a SECOND retry is now a genuine duplicate -> refused
    with pytest.raises(ValueError, match="append-only"):
        ivf_append(spark, path, delta)


def test_ivf_bloom_resizes_past_design_capacity(spark, tmp_path):
    """The append-path Bloom rebuild branch (n·16 > m): a tiny index
    starts at the 8192-bit floor (512-id capacity); appending past
    that must grow the filter right-sized, keep zero false negatives
    (duplicate appends still refused), and leave the index answering
    probes. This is the amortized-O(corpus)-per-doubling path that
    keeps the FP rate within ~2× design for the filter's life."""
    from correlationapi_spark.llm.similarity import (
        _idstate_read,
        ivf_append,
        ivf_index,
        ivf_live,
        ivf_write,
    )

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 17 + 1).cast("double"),
                (F.col("id") % 5 + 1).cast("double"),
                F.lit(1.0),
            ).alias("v"),
        )

    path = str(tmp_path / "ivf")
    assigned, cents = ivf_index(vecs(0, 300), n_cells=4)
    ivf_write(assigned, cents, path)
    st = _idstate_read(spark, path)
    assert int(st.m) == 8192 and int(st.n) == 300  # floor-sized

    ivf_append(spark, path, vecs(300, 700))  # n=700 > 8192/16=512
    st2 = _idstate_read(spark, path)
    assert int(st2.n) == 700
    assert int(st2.m) == 16384, "filter must have rebuilt right-sized"

    # zero false negatives across BOTH generations of the filter
    with pytest.raises(ValueError, match="append-only"):
        ivf_append(spark, path, vecs(0, 10))       # pre-resize ids
    with pytest.raises(ValueError, match="append-only"):
        ivf_append(spark, path, vecs(690, 700))    # post-resize ids
    assert ivf_live(spark, path)[0].count() == 700


def _synthetic_index(spark, tmp_path, n_base=240, n_delta=600, n_cells=6):
    """A persisted index whose appends drifted: spread base corpus,
    then a tight off-distribution cluster appended — the maintenance
    scenario ivf_imbalance's gauge exists for."""
    import numpy as np

    from correlationapi_spark.llm.similarity import (
        ivf_append,
        ivf_index,
        ivf_write,
    )

    rng = np.random.RandomState(7)
    d = 8
    base = rng.normal(size=(n_base, d))
    u = rng.normal(size=d)
    u /= np.linalg.norm(u)
    delta = u[None, :] * 5.0 + rng.normal(scale=0.15, size=(n_delta, d))

    def mkdf(vs, start):
        return spark.createDataFrame(
            [(start + i, [float(x) for x in v]) for i, v in enumerate(vs)],
            "vec_id long, v array<double>",
        )

    path = str(tmp_path / "ivf")
    a, c = ivf_index(mkdf(base, 0), n_cells=n_cells)
    ivf_write(a, c, path)
    ivf_append(spark, path, mkdf(delta, 10000))
    return path


def _probe_recall(spark, path, n_probe=1, k=5):
    from correlationapi_spark.llm.similarity import (
        ivf_live,
        ivf_probe,
        topk_neighbors_exact,
    )

    corpus, cents = ivf_live(spark, path)
    probe_ids = list(range(10000, 10010)) + list(range(0, 5))
    probes = corpus.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("na").alias("pna"),
    )
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in ivf_probe(corpus, cents, probes, k, n_probe=n_probe).collect()
    }
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in topk_neighbors_exact(
            corpus, F.col("vec_id").isin(probe_ids), k
        ).collect()
    }
    return len(approx & exact) / len(exact)


def test_ivf_recluster_improves_recall_and_preserves_ids(spark, tmp_path):
    """r11 verdict item 4: the recluster act behind the imbalance
    gauge. On a drifted-append corpus: the gauge trips, recluster
    re-trains + rebuilds, the live id set is byte-preserved, probe
    recall at fixed n_probe improves IN DISTRIBUTION (mean +0.05 over
    measured retrains — a single retrain is one draw from the parallel
    KMeans optimum distribution, so the assertion is
    no-catastrophic-regression, not strict improvement; post-recluster
    IMBALANCE may stay high because the data itself is skewed and
    KMeans correctly gives the dense cluster a large cell), tombstones
    are gone (recluster implies compact), and below the threshold it
    is a no-op."""
    from correlationapi_spark.llm.similarity import (
        _tombstones,
        ivf_delete,
        ivf_imbalance,
        ivf_is_index,
        ivf_live,
        ivf_recluster,
    )

    path = _synthetic_index(spark, tmp_path)
    g = ivf_imbalance(spark, path).collect()[0]
    assert bool(g.recluster) and g.imbalance > 3.0

    # a couple of tombstoned ids to prove recluster-implies-compact
    assert ivf_delete(spark, path, [0, 1]) == 2
    ids_before = {
        r.vec_id for r in ivf_live(spark, path)[0].select("vec_id").collect()
    }
    recall_before = _probe_recall(spark, path)

    stats = ivf_recluster(spark, path, threshold=3.0)
    assert stats["reclustered"] is True
    assert stats["n_cells"] == 6
    assert stats["imbalance_before"] > 3.0

    ids_after = {
        r.vec_id for r in ivf_live(spark, path)[0].select("vec_id").collect()
    }
    assert ids_after == ids_before  # nothing lost, nothing resurrected
    assert _tombstones(spark, path) is None
    assert ivf_is_index(spark, path)
    recall_after = _probe_recall(spark, path)
    # Wobble-honest margins (round 12): the retrain's parallel KMeans
    # merges partial centroid sums in task-completion order, so the
    # SAME seed lands in different local optima run-to-run; on this
    # 838-vector fixture the post-recluster recall@n_probe=1 measured
    # {0.831, 0.908, 0.923, 0.923, 0.938, 0.954} over 6 driver-style
    # runs against the deterministic 0.8615 before (mean +0.05, 5/6
    # improved, worst draw -0.031 — the one-in-six that flaked the
    # round-12 suite when this pinned a single draw with
    # `>= recall_before` and `>= 0.9`). A single retrain is a SAMPLE
    # of the optimum distribution: assert no catastrophic placement
    # regression, not strict single-draw improvement.
    assert recall_after >= recall_before - 0.05
    assert recall_after >= 0.8

    # below threshold (or rather: same threshold, already acted) the
    # next call may or may not trip on data skew — force-path and
    # no-op path are both explicit:
    assert ivf_recluster(spark, path, threshold=1e9)["reclustered"] is False
    forced = ivf_recluster(spark, path, threshold=0.0)
    assert forced["reclustered"] is True


def _crash_at(stage):
    class Boom(Exception):
        pass

    def hook(s):
        if s == stage:
            raise Boom(str(s))

    hook.Boom = Boom
    return hook


def _ivf_reader_snapshot(spark, path, k=3):
    """One full lock-free reader pass resolved from ONE pointer read:
    live ids, the corpus↔centroid pairing check (every stored cell id
    must exist in the centroid table — the old protocol's torn window
    could pair the new corpus with the old centroids), and a probe.
    Raises if any surface is inconsistent; returns the live id set."""
    from correlationapi_spark.llm.similarity import ivf_live, ivf_probe

    corpus, cents = ivf_live(spark, path)
    cells = {r.cell for r in corpus.select("cell").distinct().collect()}
    known = {r.cell for r in cents.select("cell").collect()}
    assert cells <= known, f"corpus cells {cells - known} missing centroids"
    probes = corpus.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("na").alias("pna"),
    )
    assert ivf_probe(corpus, cents, probes, k, n_probe=2).count() > 0
    return {r.vec_id for r in corpus.select("vec_id").collect()}


def test_ivf_recluster_pointer_swap_crash_windows(spark, tmp_path):
    """r13 verdict item 1, re-pinned on the pointer protocol: the
    publish has exactly two crash points — "staged" (new version
    objects written, pointer not swapped) and "swapped" (pointer
    renamed, old objects retired-but-present). Before the swap readers
    are fully on vN; after it fully on vN+1; a crash anywhere leaves
    garbage, never a torn store, and recovery IS garbage collection
    (ivf_recover or any mutation's preamble)."""
    import os

    from correlationapi_spark.llm.similarity import (
        ivf_compact,
        ivf_is_index,
        ivf_live,
        ivf_recluster,
        ivf_recover,
        ivf_resolve,
    )

    path = _synthetic_index(
        spark, tmp_path, n_base=60, n_delta=150, n_cells=4
    )
    ids = {
        r.vec_id for r in ivf_live(spark, path)[0].select("vec_id").collect()
    }
    old = ivf_resolve(spark, path)

    # 1) crash after staging, BEFORE the pointer swap: readers are on
    #    vN (same physical objects, same ids), the index stays
    #    certified, and the orphan vN+1 objects are on disk until GC
    hook = _crash_at("staged")
    with pytest.raises(hook.Boom):
        ivf_recluster(spark, path, threshold=0.0, _crash=hook)
    assert ivf_is_index(spark, path)
    assert ivf_resolve(spark, path) == old  # pointer untouched
    assert _ivf_reader_snapshot(spark, path) == ids
    orphans = [
        n for n in os.listdir(path)
        if n.startswith(("corpus-v", "centroids-v", "idstate-v"))
        and os.path.join(path, n) not in old.values()
    ]
    assert orphans, "staged objects should exist at this crash point"
    assert ivf_recover(spark, path) is True   # reclaims the orphans
    for n in orphans:
        assert not os.path.exists(os.path.join(path, n))
    assert ivf_recover(spark, path) is False  # idempotent
    assert _ivf_reader_snapshot(spark, path) == ids

    # 2) crash right after the swap: readers are fully on vN+1; the
    #    retired vN objects stay on disk (reader grace) until recover
    #    or the next mutation's preamble reclaims them
    hook = _crash_at("swapped")
    with pytest.raises(hook.Boom):
        ivf_recluster(spark, path, threshold=0.0, _crash=hook)
    assert ivf_is_index(spark, path)
    new = ivf_resolve(spark, path)
    assert new != old
    assert _ivf_reader_snapshot(spark, path) == ids  # ids preserved
    for d in old.values():  # grace: previous version still on disk
        assert os.path.exists(d)
    assert ivf_recover(spark, path) is True
    for d in old.values():
        assert not os.path.exists(d)

    # 3) the next MUTATION's preamble reclaims a crashed stage on its
    #    own — no recover call needed. The compact's OWN swap retires
    #    the pre-compact version (reader grace), so immediately after
    #    it the only non-live dirs are exactly the pointer's retired
    #    list — the crashed stage is gone
    from correlationapi_spark.storeio import StoreIO, pointer_read

    hook = _crash_at("staged")
    with pytest.raises(hook.Boom):
        ivf_recluster(spark, path, threshold=0.0, _crash=hook)
    ivf_compact(spark, path)
    lay = pointer_read(StoreIO(path, spark), path)
    live = set(ivf_resolve(spark, path).values())
    leftovers = {
        n for n in os.listdir(path)
        if n.startswith(("corpus-v", "centroids-v", "idstate-v"))
        and os.path.join(path, n) not in live
    }
    assert leftovers <= set(lay["retired"])  # grace-pending only
    assert ivf_recover(spark, path) is True  # and they reclaim
    assert _ivf_reader_snapshot(spark, path) == ids


def test_ivf_racing_reader_never_sees_torn_store(spark, tmp_path):
    """The reader-consistency property the journaled-rename protocol
    could NOT give (its own docstring documented the window: a reader
    racing the two-rename swap could see corpus/ absent or the new
    corpus under the old centroids): a reader hammering the store
    WHILE a recluster publishes must never error and must see the full
    id set on every pass. Deterministic half: _ivf_reader_snapshot at
    both crash hooks (test above). This half races a real thread
    through the whole publish."""
    import threading

    from correlationapi_spark.llm.similarity import ivf_live, ivf_recluster

    path = _synthetic_index(
        spark, tmp_path, n_base=60, n_delta=150, n_cells=4
    )
    n = ivf_live(spark, path)[0].count()
    stop = threading.Event()
    errors: list = []
    counts: list = []

    def hammer():
        while not stop.is_set():
            try:
                counts.append(ivf_live(spark, path)[0].count())
            except Exception as e:  # noqa: BLE001 — the assertion IS "no error"
                errors.append(repr(e))
                return

    t = threading.Thread(target=hammer, daemon=True)
    t.start()
    try:
        ivf_recluster(spark, path, threshold=0.0)
    finally:
        stop.set()
        t.join(timeout=120)
    assert errors == []
    assert counts, "reader thread never completed a pass"
    assert set(counts) == {n}


def test_ivf_append_assigns_with_published_centroids(spark, tmp_path):
    """The append must assign against the centroids that are LIVE at
    append time — under the pointer protocol that is simply whatever
    the pointer names inside the lock (review r12's stale-quantizer
    hazard is structurally gone: an uncommitted recluster never
    publishes centroids, a committed one swapped them atomically).
    Pinned on both sides of a crash: after a crash at "staged" the
    append assigns with the OLD (still-live) centroids and the orphan
    stage is GC'd by the append's own preamble; after a completed
    recluster it assigns with the NEW ones."""
    import os

    import numpy as np

    from correlationapi_spark.llm.similarity import (
        ivf_append,
        ivf_assign,
        ivf_is_index,
        ivf_read,
        ivf_recluster,
        ivf_resolve,
    )

    path = _synthetic_index(spark, tmp_path, n_base=60, n_delta=150, n_cells=4)
    old = ivf_resolve(spark, path)

    hook = _crash_at("staged")
    with pytest.raises(hook.Boom):
        ivf_recluster(spark, path, threshold=0.0, _crash=hook)

    rng = np.random.RandomState(11)

    def mkdelta(start, n=40):
        return spark.createDataFrame(
            [
                (start + i, [float(x) for x in v])
                for i, v in enumerate(rng.normal(size=(n, 8)))
            ],
            "vec_id long, v array<double>",
        )

    def stored_vs_assigned(lo):
        corpus, cents = ivf_read(spark, path)
        stored = {
            (r.vec_id, r.cell)
            for r in corpus.filter(F.col("vec_id") >= lo)
            .filter(F.col("vec_id") < lo + 1000)
            .select("vec_id", "cell")
            .collect()
        }
        want = {
            (r.vec_id, r.cell)
            for r in ivf_assign(
                cents, corpus.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 1000)
                ).select("vec_id", "v")
            ).select("vec_id", "cell").collect()
        }
        return stored, want

    delta = mkdelta(20000)
    ivf_append(spark, path, delta)  # preamble GCs the crashed stage
    assert ivf_is_index(spark, path)
    assert ivf_resolve(spark, path)["centroids"] == old["centroids"]
    stored, want = stored_vs_assigned(20000)
    assert stored == want and len(stored) == 40
    orphans = [
        n for n in os.listdir(path)
        if n.startswith(("corpus-v", "centroids-v", "idstate-v"))
        and os.path.join(path, n) not in ivf_resolve(spark, path).values()
    ]
    assert orphans == []

    # after a COMPLETED recluster the new centroids are the live ones
    assert ivf_recluster(spark, path, threshold=0.0)["reclustered"]
    assert ivf_resolve(spark, path)["centroids"] != old["centroids"]
    ivf_append(spark, path, mkdelta(21000))
    stored, want = stored_vs_assigned(21000)
    assert stored == want and len(stored) == 40


def test_ivf_append_resize_after_compact_to_zero(spark, tmp_path):
    """review r12: the empty-corpus sentinel was dropped BEFORE the
    Bloom capacity-resize branch re-read the corpus id column, so the
    first large append into an emptied index died with
    UNABLE_TO_INFER_SCHEMA and left the corpus file-less (the exact
    unreadable state the sentinel exists to prevent). 520 ids push
    n*16 past the 8192-bit floor, forcing the resize read."""
    import numpy as np

    from correlationapi_spark.llm.similarity import (
        _idstate_read,
        ivf_append,
        ivf_compact,
        ivf_delete,
        ivf_is_index,
        ivf_live,
        ivf_probe,
    )

    path = _synthetic_index(spark, tmp_path, n_base=12, n_delta=8, n_cells=2)
    all_ids = [
        r.vec_id for r in ivf_live(spark, path)[0].select("vec_id").collect()
    ]
    assert ivf_delete(spark, path, all_ids) == len(all_ids)
    stats = ivf_compact(spark, path)
    assert stats["n_vectors"] == 0  # emptied: corpus holds the sentinel

    rng = np.random.RandomState(13)
    n_new = 520
    delta = spark.createDataFrame(
        [
            (30000 + i, [float(x) for x in v])
            for i, v in enumerate(rng.normal(size=(n_new, 8)))
        ],
        "vec_id long, v array<double>",
    )
    ivf_append(spark, path, delta)  # crosses 8192-bit Bloom capacity
    assert ivf_is_index(spark, path)
    st = _idstate_read(spark, path)
    assert int(st.n) == n_new and int(st.m) > 8192  # resized, right count
    corpus, cents = ivf_live(spark, path)
    assert corpus.count() == n_new
    probes = corpus.filter(F.col("vec_id") == 30000).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("na").alias("pna"),
    )
    top = ivf_probe(corpus, cents, probes, 3, n_probe=2)
    assert top.count() == 3  # the re-populated index answers probes


def test_ivf_append_refuses_intra_delta_duplicate_ids(spark, tmp_path):
    """round 12: ivf_assign keeps every row (the old window argmin
    silently collapsed same-id rows — masking the caller's bug), so
    ivf_append must refuse a delta that carries the same NEW id twice;
    letting both land would duplicate the vector exactly as the
    append-only contract forbids. The refusal runs before any write,
    so the index is untouched."""
    from correlationapi_spark.llm.similarity import (
        ivf_append,
        ivf_is_index,
        ivf_live,
    )

    path = _synthetic_index(spark, tmp_path, n_base=12, n_delta=8, n_cells=2)
    n_before = ivf_live(spark, path)[0].count()
    dup_delta = spark.createDataFrame(
        [
            (40000, [1.0] * 8),
            (40000, [2.0] * 8),  # same new id, different vector
            (40001, [3.0] * 8),
        ],
        "vec_id long, v array<double>",
    )
    with pytest.raises(ValueError, match="duplicate vec_ids"):
        ivf_append(spark, path, dup_delta)
    assert ivf_is_index(spark, path)  # still certified
    assert ivf_live(spark, path)[0].count() == n_before  # nothing landed
    # a clean retry with the duplicate resolved succeeds
    ok_delta = spark.createDataFrame(
        [(40000, [1.0] * 8), (40001, [3.0] * 8)],
        "vec_id long, v array<double>",
    )
    ivf_append(spark, path, ok_delta)
    assert ivf_live(spark, path)[0].count() == n_before + 2


def test_ivf_recluster_crash_never_resurrects_deleted_ids(spark, tmp_path):
    """Deleted ids must not answer at ANY crash point of the publish.
    Before the swap the old corpus is live and its tombstones are
    still in the pointer (the old protocol's hazard — dropping the
    mask before the corpus swap — cannot be expressed anymore: the
    tombstones entry leaves the pointer in the SAME atomic swap that
    installs the live-view-built corpus). After the swap the victims
    are physically absent."""
    from correlationapi_spark.llm.similarity import (
        _tombstones,
        ivf_delete,
        ivf_live,
        ivf_recluster,
        ivf_recover,
    )

    path = _synthetic_index(spark, tmp_path, n_base=60, n_delta=150, n_cells=4)
    victims = [10000, 10001, 10002]
    assert ivf_delete(spark, path, victims) == 3

    # crash BEFORE the swap: old corpus live, mask still in force
    hook = _crash_at("staged")
    with pytest.raises(hook.Boom):
        ivf_recluster(spark, path, threshold=0.0, _crash=hook)
    seen = _ivf_reader_snapshot(spark, path)
    assert not (seen & set(victims))
    assert _tombstones(spark, path) is not None  # mask intact
    assert ivf_recover(spark, path) is True

    # crash AFTER the swap: victims physically gone, tombstones entry
    # retired by the same pointer write (recluster implies compact)
    hook = _crash_at("swapped")
    with pytest.raises(hook.Boom):
        ivf_recluster(spark, path, threshold=0.0, _crash=hook)
    seen = _ivf_reader_snapshot(spark, path)
    assert not (seen & set(victims))
    assert _tombstones(spark, path) is None


def test_ivf_rebuild_supersedes_crashed_recluster_stage(spark, tmp_path):
    """A rebuild over a path carrying a crashed recluster stage must
    GC the orphans and publish its own version — nothing of the
    crashed stage can ever surface (under the old protocol the stale
    pre-rebuild stage could be rolled forward OVER the fresh rebuild
    by the next mutation's recover hook; under the pointer protocol
    the orphans are unreferenced by construction)."""
    import os

    import numpy as np

    from correlationapi_spark.llm.similarity import (
        ivf_compact,
        ivf_index,
        ivf_live,
        ivf_recluster,
        ivf_recover,
        ivf_resolve,
        ivf_write,
    )

    path = _synthetic_index(spark, tmp_path, n_base=60, n_delta=150, n_cells=4)
    hook = _crash_at("staged")
    with pytest.raises(hook.Boom):
        ivf_recluster(spark, path, threshold=0.0, _crash=hook)

    # rebuild over the still-certified path with EXTRA vectors — its
    # data source is external, so it supersedes the crashed stage
    rng = np.random.RandomState(23)
    extra = spark.createDataFrame(
        [
            (40000 + i, [float(x) for x in v])
            for i, v in enumerate(rng.normal(size=(50, 8)))
        ],
        "vec_id long, v array<double>",
    )
    union = (
        ivf_live(spark, path)[0].select("vec_id", "v")
        .unionByName(extra).localCheckpoint(eager=True)
    )
    want_ids = {r.vec_id for r in union.select("vec_id").collect()}
    a, c = ivf_index(union, n_cells=4)
    ivf_write(a, c, path)

    assert {
        r.vec_id
        for r in ivf_live(spark, path)[0].select("vec_id").collect()
    } == want_ids
    # compact's preamble GCs everything unreferenced (the crashed
    # stage included); its own swap retires the pre-compact version
    # (reader grace), which an explicit recover then reclaims — after
    # that only the live version's objects remain
    ivf_compact(spark, path)
    ivf_recover(spark, path)
    live_dirs = set(ivf_resolve(spark, path).values())
    leftovers = [
        nm for nm in os.listdir(path)
        if nm.startswith(("corpus-v", "centroids-v", "idstate-v"))
        and os.path.join(path, nm) not in live_dirs
    ]
    assert leftovers == []
    got = {
        r.vec_id
        for r in ivf_live(spark, path)[0].select("vec_id").collect()
    }
    assert got == want_ids


def test_ivf_reader_grace_survives_rapid_mutations(spark, tmp_path):
    """r14 verdict item 4's done-criterion, end-to-end on the real
    store: a reader that resolved version N keeps N's files on disk
    through TWO immediate successive destructive mutations — each
    retirement is wall-clock-stamped and the preamble GC skips
    retirees younger than GC_GRACE_SECONDS, so back-to-back compacts
    can no longer expire a slow reader's corpus within seconds. The
    explicit ivf_recover surface (contract: caller asserts no reader
    is in flight) still reclaims NOW."""
    import os

    from correlationapi_spark.llm.similarity import (
        ivf_compact,
        ivf_delete,
        ivf_live,
        ivf_recover,
        ivf_resolve,
    )

    path = _synthetic_index(spark, tmp_path, n_base=60, n_delta=40,
                            n_cells=4)
    # a deleted BASE id makes the first compact below swap the base
    # object (a compact of appended ids only carries it by name)
    assert ivf_delete(spark, path, [0]) == 1
    # a slow reader resolves the pointer ONCE...
    reader = ivf_resolve(spark, path)
    reader_corpus = reader["corpus"]

    def reader_rows():
        return spark.read.parquet(reader_corpus).unionByName(
            spark.read.parquet(reader["delta"])
        )

    n = reader_rows().count()
    # ...then two destructive mutations swap versions immediately
    ivf_compact(spark, path)
    ivf_compact(spark, path)
    assert ivf_resolve(spark, path)["corpus"] != reader_corpus
    # the reader's version survived both preamble GCs
    assert os.path.isdir(reader_corpus)
    assert reader_rows().count() == n
    assert ivf_live(spark, path)[0].count() == n - 1  # minus the deleted
    # the explicit recover reclaims immediately (grace=0 contract)
    assert ivf_recover(spark, path) is True
    assert not os.path.isdir(reader_corpus)


def test_ivf_delete_commits_single_file_batches(spark, tmp_path):
    """advice r14: a multi-file tombstone append commits its
    part-files one by one, so a lock-free reader could observe HALF a
    delete batch. The delta is coalesced to one file before the
    append — each ivf_delete call adds exactly ONE parquet part-file
    to the tombstones object, making the batch per-file atomic."""
    import os

    from correlationapi_spark.llm.similarity import (
        ivf_delete,
        ivf_live,
        ivf_resolve,
    )

    path = _synthetic_index(spark, tmp_path, n_base=60, n_delta=40,
                            n_cells=4)

    def tomb_parts():
        d = ivf_resolve(spark, path).get("tombstones")
        if d is None or not os.path.isdir(d):
            return []
        return sorted(n for n in os.listdir(d) if n.startswith("part-"))

    assert ivf_delete(spark, path, [0, 1, 2, 3, 4, 5, 6, 7]) == 8
    first = tomb_parts()
    assert len(first) == 1, first
    assert ivf_delete(spark, path, [8, 9, 10]) == 3
    second = tomb_parts()
    assert len(second) == 2 and set(first) < set(second), second
    live_ids = {
        r.vec_id for r in ivf_live(spark, path)[0].select("vec_id").collect()
    }
    assert live_ids.isdisjoint(set(range(11)))


def _object_files(d):
    """{relative path: (size, mtime_ns)} of every parquet file under d."""
    import os

    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                st = os.stat(p)
                out[os.path.relpath(p, d)] = (st.st_size, st.st_mtime_ns)
    return out


def test_ivf_compact_of_appended_deletes_carries_base_by_name(
    spark, tmp_path
):
    """Appends land in the delta object, so a compact whose every
    tombstone was appended since the last base rewrite carries the base
    BY NAME — same pointer entry, byte-identical files (path, size,
    mtime) — and rewrites only the delta's live rows; once no delta row
    survives, the layout keeps no delta at all."""
    from correlationapi_spark.llm.similarity import (
        ivf_compact,
        ivf_delete,
        ivf_live,
        ivf_read,
        ivf_resolve,
    )

    path = _synthetic_index(spark, tmp_path, n_base=60, n_delta=20,
                            n_cells=4)
    r0 = ivf_resolve(spark, path)
    assert "delta" in r0
    base0 = _object_files(r0["corpus"])
    assert base0
    n_base = spark.read.parquet(r0["corpus"]).count()
    assert n_base == 60 and ivf_read(spark, path)[0].count() == 80

    # half the appended ids: the surviving delta rows are rewritten
    assert ivf_delete(spark, path, list(range(10000, 10010))) == 10
    stats = ivf_compact(spark, path)
    assert stats == {"tombstones_cleared": 10, "n_vectors": 70,
                     "base_rewritten": False}
    r1 = ivf_resolve(spark, path)
    assert r1["corpus"] == r0["corpus"] and r1["delta"] != r0["delta"]
    assert "tombstones" not in r1
    assert _object_files(r1["corpus"]) == base0
    live = {r.vec_id for r in ivf_live(spark, path)[0].collect()}
    assert live == set(range(60)) | set(range(10010, 10020))

    # the rest: no delta row survives, so no delta object is kept
    assert ivf_delete(spark, path, list(range(10010, 10020))) == 10
    stats = ivf_compact(spark, path)
    assert stats["n_vectors"] == n_base and not stats["base_rewritten"]
    r2 = ivf_resolve(spark, path)
    assert r2["corpus"] == r0["corpus"] and "delta" not in r2
    assert _object_files(r2["corpus"]) == base0
    assert ivf_live(spark, path)[0].count() == n_base


def test_ivf_compact_of_base_delete_rewrites_base(spark, tmp_path):
    """One deleted base id makes the compact rewrite the whole live
    base ∪ delta into a new base object (``base_rewritten`` in the
    /index/compact answer), and the delta retires with the
    tombstones."""
    from correlationapi_spark.api import CorrelationAPI
    from correlationapi_spark.llm.similarity import (
        ivf_delete,
        ivf_live,
        ivf_resolve,
    )

    path = _synthetic_index(spark, tmp_path, n_base=60, n_delta=20,
                            n_cells=4)
    r0 = ivf_resolve(spark, path)
    assert ivf_delete(spark, path, [3, 10005]) == 2
    res = CorrelationAPI(spark).index_compact(path)
    assert res["base_rewritten"] is True
    assert res["tombstones_cleared"] == 2 and res["n_vectors"] == 78
    r1 = ivf_resolve(spark, path)
    assert r1["corpus"] != r0["corpus"]
    assert "delta" not in r1 and "tombstones" not in r1
    assert spark.read.parquet(r1["corpus"]).count() == 78
    live = {r.vec_id for r in ivf_live(spark, path)[0].collect()}
    assert live == (set(range(60)) | set(range(10000, 10020))) - {3, 10005}


def test_pq_append_codes_land_in_delta(spark, tmp_path, monkeypatch):
    """On a PQ-attached store an append writes its rows WITH their
    pq_code into the delta object (the base stays untouched), and the
    stored-code probe reads base ∪ delta: the driver-side and the join
    refine branches still agree bit for bit, and appended ids probe."""
    import correlationapi_spark.llm.similarity as sim
    from correlationapi_spark.llm.similarity import (
        ivf_append,
        ivf_resolve,
        pq_probe_stored,
    )

    path, emb = _pq_attached_store(
        spark, tmp_path, base_pred=F.col("vec_id") % 5 != 0
    )
    r0 = ivf_resolve(spark, path)
    base0 = _object_files(r0["corpus"])
    ivf_append(spark, path, emb.filter(F.col("vec_id") % 5 == 0))
    r1 = ivf_resolve(spark, path)
    assert r1["corpus"] == r0["corpus"]
    assert _object_files(r1["corpus"]) == base0
    delta = spark.read.parquet(r1["delta"])
    assert "pq_code" in delta.columns
    assert delta.filter(F.col("pq_code").isNull()).count() == 0
    assert delta.count() == emb.filter(F.col("vec_id") % 5 == 0).count()

    probes = [0, 1, 5, 10]  # 0, 5 and 10 live in the delta
    for kw in ({}, {"n_probe": 4}):
        driver = pq_probe_stored(
            spark, path, probes, k=3, refine=10, **kw
        ).collect()
        monkeypatch.setattr(sim, "_PQ_REFINE_PUSHDOWN_IDS", 0)
        join = pq_probe_stored(
            spark, path, probes, k=3, refine=10, **kw
        ).collect()
        monkeypatch.setattr(sim, "_PQ_REFINE_PUSHDOWN_IDS", 65536)
        assert {r.probe_id for r in driver} == set(probes), kw
        assert sorted(map(tuple, driver)) == sorted(map(tuple, join)), kw


def test_base_rewrites_fold_the_delta_in(spark, tmp_path):
    """Every base rewrite other than compact — pq_attach,
    ivf_recluster and a rebuild (index_build) — writes base ∪ delta
    into the new base and retires the delta object in the same swap."""
    import os

    from correlationapi_spark.api import CorrelationAPI
    from correlationapi_spark.llm.similarity import (
        ivf_append,
        ivf_live,
        ivf_recluster,
        ivf_recover,
        ivf_resolve,
        pq_attach,
    )

    path, emb = _pq_attached_store(
        spark, tmp_path, base_pred=F.col("vec_id") % 5 != 0
    )
    n_all = emb.count()
    api = CorrelationAPI(spark)
    api.register_dataset("emb", os.path.join(SF_SMOKE, "embeddings.parquet"))

    def append_rest():
        ivf_append(spark, path, emb.filter(F.col("vec_id") % 5 == 0))
        return ivf_resolve(spark, path)["delta"]

    def assert_folded(old_delta):
        objs = ivf_resolve(spark, path)
        assert "delta" not in objs
        assert spark.read.parquet(objs["corpus"]).count() == n_all
        assert ivf_live(spark, path)[0].count() == n_all
        assert ivf_recover(spark, path) is True
        assert not os.path.isdir(old_delta)

    d = append_rest()
    pq_attach(spark, path)
    assert_folded(d)

    api.index_build("emb", "vec_id", "embedding", path, n_cells=8,
                    where="vec_id % 5 != 0")
    d = append_rest()
    assert ivf_recluster(spark, path, threshold=0.0)["reclustered"]
    assert_folded(d)

    api.index_build("emb", "vec_id", "embedding", path, n_cells=8,
                    where="vec_id % 5 != 0")
    d = append_rest()
    api.index_build("emb", "vec_id", "embedding", path, n_cells=8)
    assert_folded(d)


def test_pq_store_memo_invalidates_on_fixture_change(spark, tmp_path):
    """advice r14: the per-process PQ store memo must not serve stale
    answers after the fixture dir's contents are regenerated — the
    memo is keyed on the embeddings file's (mtime, size) fingerprint,
    so touching the fixture rebuilds the store; an unchanged fixture
    reuses the same store across calls (and across the two declared
    PQ keys)."""
    import os
    import shutil

    import correlationapi_spark.llm.similarity as sim

    src = SF_SMOKE
    d = str(tmp_path / "sfcopy")
    shutil.copytree(src, d)
    p1 = sim._pq_store_for(spark, d)
    assert sim._pq_store_for(spark, d) == p1  # stable while unchanged
    # regenerate the fixture (mtime moves) -> memo invalidates
    emb = os.path.join(d, "embeddings.parquet")
    st = os.stat(emb)
    os.utime(emb, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    p2 = sim._pq_store_for(spark, d)
    assert p2 != p1
    assert sim._pq_store_for(spark, d) == p2


def test_pq_attach_is_partitioning_invariant(spark, tmp_path):
    """The residual anchors' determinism claim (round 15): each anchor
    component accumulates as DECIMAL — exact integer-lattice addition,
    so the per-cell means (and therefore the trained books and every
    stored code) are bit-identical regardless of how the corpus was
    partitioned when attach ran. Pin: two stores built from the same
    assignment — one written from a 1-partition frame, one from a
    16-partition repartition — attach to identical anchors, books and
    codes. (A double sum would fail this: its float rounding floats
    with the task merge order.)"""
    from correlationapi_spark.io import load_tables
    from correlationapi_spark.llm.similarity import (
        StoreIO,
        _pq_anchors_read,
        _pq_meta_read,
        corpus_view,
        ivf_index,
        ivf_write,
        pq_attach,
    )
    from correlationapi_spark.storeio import pointer_require

    emb = corpus_view(
        load_tables(spark, SF_SMOKE)["embeddings"], "vec_id", "embedding"
    )
    a, c = ivf_index(emb, n_cells=8)
    states = []
    for i, frame in enumerate((a.coalesce(1), a.repartition(16))):
        path = str(tmp_path / f"pq{i}")
        ivf_write(frame, c, path)
        pq_attach(spark, path)
        objs = pointer_require(StoreIO(path, spark), path)["objects"]
        import os

        codes = {
            r.vec_id: r.pq_code
            for r in spark.read.parquet(
                os.path.join(path, objs["corpus"])
            ).select("vec_id", "pq_code").collect()
        }
        states.append((
            _pq_anchors_read(spark, path, objs),
            _pq_meta_read(spark, path, objs)["books"],
            codes,
        ))
    assert states[0][0] == states[1][0], "anchors differ by partitioning"
    assert states[0][1] == states[1][1], "books differ by partitioning"
    assert states[0][2] == states[1][2], "codes differ by partitioning"


def _small_vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_ivf_index_is_deterministic(spark):
    """The coarse quantizer trains on a deterministic hash-cut sample
    with seeded driver-side k-means, so two builds of the same corpus
    give bit-identical centroids and cells (the parallel KMeans this
    replaced merged partial sums in task-completion order)."""
    import os

    from correlationapi_spark.llm.similarity import corpus_view, ivf_index

    emb = spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
    corpus = corpus_view(emb, "vec_id", "embedding")

    def build():
        a, c = ivf_index(corpus, n_cells=8)
        return (
            sorted((r.cell, list(r.cv)) for r in c.collect()),
            sorted((r.vec_id, r.cell) for r in a.collect()),
        )

    first, second = build(), build()
    assert len(first[0]) == 8
    assert first == second


def test_ivf_index_trains_on_a_capped_sample(spark, monkeypatch):
    """A corpus with more than 256·n_cells usable vectors trains on at
    most 256·n_cells of them, and the assignment still stamps every
    row; the 64 MiB byte ceiling caps the sample the same way when a
    full-cap sample of the vectors' length would not fit it."""
    import numpy as np

    import correlationapi_spark.llm.similarity as sim

    rng = np.random.RandomState(3)
    n, d, n_cells = 1200, 4, 2
    corpus = _small_vectors(
        spark,
        [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(n, d)))],
    )
    seen = []
    train = sim._ivf_train

    def spy(X, n_cells, seed):
        seen.append(X.shape)
        return train(X, n_cells, seed)

    monkeypatch.setattr(sim, "_ivf_train", spy)
    assigned, cents = sim.ivf_index(corpus, n_cells=n_cells)
    assert seen == [(256 * n_cells, d)]
    assert cents.count() == n_cells
    stamped = assigned.agg(F.count("*"), F.count("cell")).first()
    assert tuple(stamped) == (n, n)

    monkeypatch.setattr(sim, "_IVF_TRAIN_BYTES", 8 * d * 100)
    sim.ivf_index(corpus, n_cells=n_cells)
    assert seen[-1] == (100, d)


def test_ivf_index_with_fewer_usable_vectors_than_cells(spark):
    """Fewer distinct usable vectors than n_cells: the distinct
    normalized vectors, in vec_id order, become the centroids — the
    result the pyspark.ml KMeans trainer gave on this corpus (3 cells
    for n_cells=8). Zero-norm and NaN rows are dropped; a corpus with
    no usable vector is refused."""
    from correlationapi_spark.llm.similarity import ivf_index

    nan = float("nan")
    corpus = _small_vectors(spark, [
        (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0]),
        (4, [0.0, 0.0, 0.0]), (5, [nan, 1.0, 0.0]), (6, [0.0, 2.0, 0.0]),
    ])
    assigned, cents = ivf_index(corpus, n_cells=8)
    assert sorted((r.cell, list(r.cv)) for r in cents.collect()) == [
        (0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0]),
    ]
    assert sorted((r.vec_id, r.cell) for r in assigned.collect()) == [
        (1, 0), (2, 1), (3, 2), (6, 1),
    ]
    with pytest.raises(ValueError, match="finite, non-zero norm"):
        ivf_index(corpus.filter("vec_id in (4, 5)"), n_cells=8)


def test_index_objects_are_read_with_their_schema():
    """Source guard: every read of an index object in similarity.py
    passes its known schema — an unschematized parquet read runs a
    schema-inference job on every request."""
    import inspect
    import re

    import correlationapi_spark.llm.similarity as sim

    src = inspect.getsource(sim)
    reads = re.findall(r"\.read\.(\w+)\(", src)
    assert reads and set(reads) == {"schema"}, reads
