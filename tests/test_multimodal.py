"""Binary-payload plumbing: schema, Arrow batch path, and the REAL
stdlib codecs (SURVEY.md §2.10 — multimodal columns; 24-bit BMP and
RIFF/WAV PCM16 decode for real, compressed formats raise
DecoderUnavailable because their codec libraries are absent in this
container)."""

from __future__ import annotations

import pytest

from mapreducepy_spark.io import load
from mapreducepy_spark.llm import multimodal as mm


def test_attach_payload_schema(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    p = mm.attach_payload(docs)
    assert [f.name for f in p.schema.fields] == [
        "doc_id",
        "modality",
        "payload",
        "media_meta",
    ]
    assert p.schema["payload"].dataType.typeName() == "binary"
    row = p.limit(1).collect()[0]
    assert isinstance(row.payload, (bytes, bytearray))


def test_decode_images_fake_codec_deterministic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    p = mm.attach_payload(docs)
    feats = mm.decode_images(p).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(feats) == docs.count()
    assert (feats["payload_bytes"] > 0).all()
    assert feats["feature"].map(len).eq(4).all()
    # deterministic: second run bit-identical
    feats2 = mm.decode_images(p).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert feats.equals(feats2)


def test_decode_images_real_codec_rejects_non_bmp(spark, sf_dir):
    """The real codec path stays honest for formats without an
    installed codec: UTF-8 text bytes are not a BMP, so the decode
    must raise DecoderUnavailable, not fabricate features."""
    docs = load(spark, sf_dir, "documents")
    p = mm.attach_payload(docs).limit(2)
    with pytest.raises(Exception) as exc_info:
        mm.bmp_decode_stats(p).collect()
    assert "DecoderUnavailable" in str(exc_info.value) or "Pillow" in str(
        exc_info.value
    )


# ---------------------------------------------------------------- #
# Real BMP codec (round 7): stdlib encode/decode + the catalog key
# ---------------------------------------------------------------- #


def _expected_sums(d: int, w: int, h: int) -> tuple[int, int, int]:
    """The construction rule, recomputed independently in the test."""
    sum_r = sum((d + x + y) % 256 for x in range(w) for y in range(h))
    sum_g = w * sum((d + y) % 256 for y in range(h))
    sum_b = h * sum((d + x) % 256 for x in range(w))
    return sum_r, sum_g, sum_b


def test_bmp_roundtrip_all_pad_widths():
    """Encode→decode across widths 1..9 (covers every 4-byte row-pad
    residue twice) and heights 1..6: dims, exact padded file size,
    and channel sums all recovered."""
    for w in range(1, 10):
        for h in (1, 3, 6):
            d = 12345
            payload = mm.encode_bmp24(
                w, h,
                lambda x, y: ((d + x + y) % 256, (d + y) % 256, (d + x) % 256),
            )
            s = mm.decode_bmp24(payload)
            assert (s["width"], s["height"]) == (w, h)
            assert s["file_bytes"] == len(payload) == 54 + h * mm.bmp_row_stride(w)
            sr, sg, sb = _expected_sums(d, w, h)
            assert (s["sum_r"], s["sum_g"], s["sum_b"]) == (sr, sg, sb)


def test_bmp_decode_top_down_variant():
    """The decoder is a general 24-bit BI_RGB parser, not a fixture
    reader: a hand-built negative-height (top-down row order) BMP —
    which the encoder never emits — must decode to the same stats."""
    import struct

    w, h = 3, 2
    stride = mm.bmp_row_stride(w)
    # pixel (x, y) = (r, g, b) = (x, y, x + y); rows written TOP-DOWN
    body = bytearray()
    for y in range(h):
        row = bytearray()
        for x in range(w):
            row += bytes((x + y, y, x))  # stored BGR
        body += row + b"\x00" * (stride - w * 3)
    img_size = stride * h
    payload = (
        struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, img_size, 0, 0, 0, 0)
        + bytes(body)
    )
    s = mm.decode_bmp24(payload)
    assert (s["width"], s["height"]) == (w, h)
    assert s["sum_r"] == sum(x for x in range(w)) * h
    assert s["sum_g"] == sum(y for y in range(h)) * w
    assert s["sum_b"] == sum(x + y for x in range(w) for y in range(h))


def test_bmp_decode_rejects_malformed():
    good = mm.encode_bmp24(4, 3, lambda x, y: (1, 2, 3))
    for bad in (
        None,
        b"BM" + b"\x00" * 10,  # too short
        b"PNG" + good[3:],  # wrong magic
        good[:-5],  # truncated pixel array
        good[:28] + b"\x20" + good[29:],  # bpp=32
    ):
        with pytest.raises(mm.DecoderUnavailable):
            mm.decode_bmp24(bad)


def test_wav_roundtrip_and_chunk_walk():
    """Encode→decode recovers geometry and sample stats; the decoder
    is a general RIFF chunk walker, so a file with an extra odd-sized
    metadata chunk between fmt and data (never emitted by the
    encoder) must decode identically."""
    import struct

    samples = [0, 100, -32768, 32767, -1, 7]
    payload = mm.encode_wav_pcm16(8000, 1, samples)
    s = mm.decode_wav_pcm16(payload)
    assert s["n_channels"] == 1 and s["sample_rate"] == 8000
    assert s["n_samples"] == len(samples)
    assert s["byte_len"] == len(payload) == 44 + 2 * len(samples)
    assert s["sum_samples"] == sum(samples)
    assert (s["min_sample"], s["max_sample"]) == (-32768, 32767)

    # splice an odd-sized LIST chunk after fmt: spec says pad to even
    meta = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = payload[:36] + meta + payload[36:]
    # fix the RIFF size field
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    s2 = mm.decode_wav_pcm16(spliced)
    assert s2["sum_samples"] == s["sum_samples"]
    assert s2["n_samples"] == s["n_samples"]

    # stereo: frames counted per channel
    st = mm.decode_wav_pcm16(mm.encode_wav_pcm16(16000, 2, [1, 2, 3, 4]))
    assert st["n_channels"] == 2 and st["n_samples"] == 2
    assert st["sum_samples"] == 10


def test_wav_decode_rejects_malformed():
    good = mm.encode_wav_pcm16(8000, 1, [1, 2, 3])
    for bad in (
        None,
        b"OggS" + good[4:],  # compressed container magic
        good[:20],  # truncated header
        good[:20] + b"\x55" + good[21:],  # format tag != PCM
        good[:-1],  # data chunk truncated
    ):
        with pytest.raises(mm.DecoderUnavailable):
            mm.decode_wav_pcm16(bad)


def test_multimodal_audio_stats_matches_rule(spark, sf_dir):
    """End to end through both WAV kernels: decoded stats equal the
    construction rule recomputed in plain Python."""
    from mapreducepy_spark.registry import load_catalog

    out = (
        load_catalog()["multimodal_audio_stats"]
        .builder(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = load(spark, sf_dir, "documents")
    assert len(out) == docs.count()
    for row in out.head(40).itertuples():
        d = int(row.doc_id)
        vals = [(d * 31 + i * 97) % 65536 - 32768 for i in range(d % 17 + 4)]
        assert row.sample_rate == 8000 + (d % 3) * 4000
        assert row.n_samples == len(vals)
        assert row.byte_len == 44 + 2 * len(vals)
        assert row.sum_samples == sum(vals)
        assert (row.min_sample, row.max_sample) == (min(vals), max(vals))


def test_multimodal_decode_stats_matches_rule(spark, sf_dir):
    """End to end through both mapInPandas kernels: the decoded stats
    equal the construction rule recomputed in plain Python — the
    decode kernel never saw the rule, so equality certifies a real
    parse of real bytes."""
    from mapreducepy_spark.registry import load_catalog

    out = (
        load_catalog()["multimodal_decode_stats"]
        .builder(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = load(spark, sf_dir, "documents")
    assert len(out) == docs.count()
    for row in out.head(40).itertuples():
        d = int(row.doc_id)
        w, h = d % 7 + 2, d % 5 + 2
        assert (row.width, row.height) == (w, h)
        assert row.file_bytes == 54 + h * mm.bmp_row_stride(w)
        assert (row.sum_r, row.sum_g, row.sum_b) == _expected_sums(d, w, h)


def test_sample_frames_offsets(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    p = mm.attach_payload(docs, modality="video").limit(5)
    frames = mm.sample_frames(p, every_n_bytes=32).toPandas()
    assert (frames["offset"] % 32 == 0).all()
    # every payload contributes ceil(len/32) frames
    sizes = {r.doc_id: len(r.payload) for r in p.collect()}
    for doc_id, n in sizes.items():
        got = (frames["doc_id"] == doc_id).sum()
        assert got == -(-n // 32)


def test_resize_fits_box_and_preserves_aspect(spark, sf_dir):
    """resize_images must never upscale, must fit the target box, and
    must keep the aspect ratio within integer-arithmetic tolerance."""
    from mapreducepy_spark.io import load
    from mapreducepy_spark.llm import multimodal as mm

    docs = load(spark, sf_dir, "documents").limit(50)
    decoded = mm.decode_images(mm.attach_payload(docs))
    out = mm.resize_images(decoded, max_w=100, max_h=80).toPandas()
    src = decoded.toPandas().set_index("doc_id")
    assert len(out) == len(src)
    for row in out.itertuples():
        w0, h0 = int(src.loc[row.doc_id, "width"]), int(src.loc[row.doc_id, "height"])
        assert 0 < row.width <= min(100, w0)
        assert 0 < row.height <= min(80, h0)
        # aspect preserved: floor(x * num/den) off by < 1 pixel-ratio
        assert abs(row.width * h0 - row.height * w0) <= max(w0, h0)
        # features scaled by exactly num/den
        f0 = list(src.loc[row.doc_id, "feature"])
        assert list(row.feature) == [x * row.scale_num / row.scale_den for x in f0]


def test_payload_stats_md5_certifies_byte_transport(spark, sf_dir):
    """payload_stats must hash the ACTUAL bytes inside the Python
    worker — cross-check one row against hashlib on the driver, and
    the dims against the fake decoder."""
    import hashlib

    docs = load(spark, sf_dir, "documents")
    stats = (
        mm.payload_stats(mm.attach_payload(docs))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(stats) == docs.count()
    row = docs.orderBy("doc_id").limit(1).collect()[0]
    payload = row.text.encode("utf-8")
    got = stats.iloc[0]
    assert got["payload_bytes"] == len(payload)
    assert got["payload_md5"] == hashlib.md5(payload).hexdigest()
    w, h, _ = mm.DeterministicFakeDecoder.decode(payload)
    assert (got["width"], got["height"]) == (w, h)


def test_payload_stats_null_payload_propagates_null(spark):
    """NULL payload ⇒ every stat NULL (octet_length/md5 SQL
    semantics), NOT the zero-filled shape decode_images uses."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "modality": ["image", "image"],
            "payload": [None, b""],
            "media_meta": [None, None],
        }
    )
    payloads = spark.createDataFrame(pdf, schema=mm.PAYLOAD_SCHEMA)
    out = (
        mm.payload_stats(payloads).toPandas().sort_values("doc_id").set_index("doc_id")
    )
    assert out.loc[1, ["payload_bytes", "width", "height", "payload_md5"]].isna().all()
    # empty-but-present payload is a REAL payload: 0 bytes, md5 of b""
    assert out.loc[2, "payload_bytes"] == 0
    assert out.loc[2, "width"] == 1 and out.loc[2, "height"] == 1
    import hashlib

    assert out.loc[2, "payload_md5"] == hashlib.md5(b"").hexdigest()


def test_payload_stats_arbitrary_binary_not_just_utf8(spark):
    """The payload column is OPAQUE bytes — null bytes, invalid
    UTF-8, high bits — and must survive the Arrow round-trip
    bit-exactly (md5-pinned). attach_payload only ever produces
    valid UTF-8, so this is the one test exercising the kernel on
    bytes a real image/audio codec would emit."""
    import hashlib

    import pandas as pd

    payloads = [
        b"\x00\x01\x02\xff\xfe\xfd",          # null + high bytes
        b"\xc3\x28",                            # invalid UTF-8 sequence
        bytes(range(256)),                      # every byte value
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 64,  # PNG-magic-shaped
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(payloads)),
            "modality": ["image"] * len(payloads),
            "payload": payloads,
            "media_meta": [None] * len(payloads),
        }
    )
    df = spark.createDataFrame(pdf, schema=mm.PAYLOAD_SCHEMA)
    out = mm.payload_stats(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    for i, b in enumerate(payloads):
        assert out.loc[i, "payload_bytes"] == len(b)
        assert out.loc[i, "payload_md5"] == hashlib.md5(b).hexdigest()
        w, h, _ = mm.DeterministicFakeDecoder.decode(b)
        assert (out.loc[i, "width"], out.loc[i, "height"]) == (w, h)


def test_bmp_codec_property_roundtrip():
    """Hypothesis hammer: ANY dims + pixel function must round-trip
    through encode_bmp24 → decode_bmp24 with exact channel sums —
    the codec pair is lossless for its format by construction, and
    the decoder's stride/padding walk must never smear padding bytes
    into the sums."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 20),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, seed):
        def pixel(x, y):
            v = (seed + 31 * x + 97 * y) % (256**3)
            return (v % 256, (v >> 8) % 256, (v >> 16) % 256)

        s = mm.decode_bmp24(mm.encode_bmp24(w, h, pixel))
        assert (s["width"], s["height"]) == (w, h)
        px = [pixel(x, y) for x in range(w) for y in range(h)]
        assert s["sum_r"] == sum(p[0] for p in px)
        assert s["sum_g"] == sum(p[1] for p in px)
        assert s["sum_b"] == sum(p[2] for p in px)
        assert s["file_bytes"] == 54 + h * mm.bmp_row_stride(w)

    check()


def test_wav_codec_property_roundtrip():
    """Hypothesis hammer for the WAV pair: any channel count, rate,
    and int16 sample list round-trips with exact frame geometry and
    sample stats (values outside int16 are clamped by the encoder,
    so the strategy stays in range to assert exact equality)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        channels=st.integers(1, 4),
        rate=st.sampled_from([8000, 16000, 44100]),
        frames=st.lists(st.integers(-32768, 32767), max_size=64),
    )
    def check(channels, rate, frames):
        samples = frames[: len(frames) - len(frames) % channels]
        s = mm.decode_wav_pcm16(mm.encode_wav_pcm16(rate, channels, samples))
        assert s["n_channels"] == channels and s["sample_rate"] == rate
        assert s["n_samples"] == len(samples) // channels
        assert s["sum_samples"] == sum(samples)
        if samples:
            assert (s["min_sample"], s["max_sample"]) == (
                min(samples), max(samples),
            )
        else:
            assert s["min_sample"] is None and s["max_sample"] is None

    check()
