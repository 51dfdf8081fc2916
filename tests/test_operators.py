"""Unit tests: normalization transformers (golden rows, mirroring
/root/reference/multiversxetl/transformers_test.py) and the multimodal
binary-column operators (features vs an independent Python fold)."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from multiversx_etl_spark.operators.multimodal import (
    _bmp_bytes,
    _chained_md5,
    _png_bytes,
    _png_pixels,
    _wav_bytes,
    decode_media,
    decode_with_real_codec,
    extract_features,
    sample_frames,
    synthesize_bmp,
    synthesize_media,
    synthesize_png,
    synthesize_wav,
)
from multiversx_etl_spark.operators.normalize import (
    canonicalize_content,
    drop_nested_struct_field,
    drop_volatile_columns,
    get_normalizer,
    scrub_null_array_elements,
)


def test_drop_volatile_columns(spark):
    df = spark.createDataFrame(
        [(1, "x", "y", "z")], ["id", "api_balance", "nft_meta", "keep"]
    )
    out = drop_volatile_columns(df)
    assert out.columns == ["id", "keep"]


def test_scrub_null_array_elements(spark):
    df = spark.createDataFrame([(1, ["a", None, "b"])], ["id", "topics"])
    out = scrub_null_array_elements(df, ["topics"]).collect()[0]
    assert out["topics"] == ["a", "", "b"]


def test_drop_nested_struct_field(spark):
    df = spark.createDataFrame(
        [(1, [{"keep": "k", "reserved": "r"}])],
        "id int, shards array<struct<keep:string, reserved:string>>",
    )
    out = drop_nested_struct_field(df, "shards", "reserved")
    assert out.schema["shards"].dataType.elementType.fieldNames() == ["keep"]
    assert out.collect()[0]["shards"][0]["keep"] == "k"


def test_canonicalize_content(spark):
    df = spark.createDataFrame([("a \r\nb\t\rc  ",)], ["content"])
    out = df.select(canonicalize_content(F.col("content")).alias("c")).collect()[0]
    assert out["c"] == "a\nb\nc"


def test_registry_default_identity(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    assert get_normalizer("unknown_table")(df) is df


def _docs(spark):
    return spark.createDataFrame(
        [(0, "hello world"), (1, "spark"), (2, "streaming merge join")],
        ["doc_id", "text"],
    )


def _expected_payload(text: str) -> bytes:
    out = hashlib.md5(text.encode()).digest()
    for salt in ("b1|", "b2|", "b3|"):
        out += hashlib.md5((salt + text).encode()).digest()
    return out


def test_multimodal_features_match_python_fold(spark):
    media = synthesize_media(_docs(spark))
    rows = {r["doc_id"]: r for r in extract_features(media).collect()}
    texts = {0: "hello world", 1: "spark", 2: "streaming merge join"}
    types = {0: "image", 1: "audio", 2: "video"}
    for doc_id, text in texts.items():
        payload = _expected_payload(text)
        r = rows[doc_id]
        assert r["media_type"] == types[doc_id]
        assert r["n_bytes"] == len(payload) == 64
        assert r["byte_sum"] == sum(payload)
        assert r["first_byte"] == payload[0]
        assert r["last_byte"] == payload[-1]


def test_frame_sampling(spark):
    media = synthesize_media(_docs(spark))
    frames = sample_frames(media, frame_size=24).collect()
    # only doc 2 is 'video'; 64 bytes / 24 => frames of 24, 24, 16
    assert {f["doc_id"] for f in frames} == {2}
    by_idx = sorted(frames, key=lambda f: f["frame_idx"])
    assert [f["frame_len"] for f in by_idx] == [24, 24, 16]
    assert b"".join(bytes(f["frame_bytes"]) for f in by_idx) == _expected_payload(
        "streaming merge join"
    )


def test_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_with_real_codec(b"", "image")


# ---------------------------------------------------------------------------
# real decode: canonical PCM WAV + 24-bit BMP (numpy-only, no codec libs)
# ---------------------------------------------------------------------------


def test_wav_decode_matches_stdlib_wave(spark):
    """decode_media vs a WAV written by Python's own stdlib wave module."""
    import io
    import struct
    import wave

    samples = [0, 1000, -1000, 32767, -32768, 7, -7, 12345]
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    payload = bio.getvalue()

    media = spark.createDataFrame(
        [(7, payload, ("audio", len(payload), "pcm_wav"))],
        "doc_id long, payload binary, meta struct<media_type:string,n_bytes:long,codec:string>",
    )
    r = decode_media(media).collect()[0]
    assert r["codec"] == "pcm_wav"
    assert r["channels"] == 1
    assert r["sample_rate"] == 16000
    assert r["bits_per_sample"] == 16
    assert r["n_samples"] == len(samples)
    assert r["width"] is None and r["height"] is None
    assert r["value_mean"] == pytest.approx(sum(samples) / len(samples))


def test_bmp_decode_reference(spark):
    """decode_media vs a hand-packed 2x2 24-bit BMP (stride padding excluded
    from the pixel mean)."""
    pixels = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    payload = _bmp_bytes(pixels, width=2, height=2)
    # 3*2=6 pixel bytes/row pad to stride 8: padding must NOT skew the mean
    assert len(payload) == 54 + 2 * 8
    media = spark.createDataFrame(
        [(3, payload, ("image", len(payload), "bmp24"))],
        "doc_id long, payload binary, meta struct<media_type:string,n_bytes:long,codec:string>",
    )
    r = decode_media(media).collect()[0]
    assert (r["width"], r["height"], r["channels"], r["bits_per_sample"]) == (2, 2, 3, 24)
    assert r["n_samples"] == 4
    assert r["sample_rate"] is None
    assert r["value_mean"] == pytest.approx(sum(pixels) / len(pixels))


def test_synthesized_media_round_trips_through_decode(spark):
    """synthesize_wav / synthesize_bmp payloads are REAL files: the wav half
    re-parses with the stdlib wave module, and decode_media agrees with an
    independent pure-Python fold on every field."""
    import io
    import struct
    import wave

    docs = _docs(spark)
    wav_rows = {r["doc_id"]: r for r in decode_media(synthesize_wav(docs)).collect()}
    bmp_rows = {r["doc_id"]: r for r in decode_media(synthesize_bmp(docs)).collect()}
    texts = {0: "hello world", 1: "spark", 2: "streaming merge join"}
    for doc_id, text in texts.items():
        pcm = _chained_md5(text, 128)
        with wave.open(io.BytesIO(_wav_bytes(pcm, 8000)), "rb") as w:
            assert (w.getnchannels(), w.getframerate(), w.getnframes()) == (1, 8000, 64)
            frames = w.readframes(64)
        vals = struct.unpack("<64h", frames)
        r = wav_rows[doc_id]
        assert (r["channels"], r["sample_rate"], r["n_samples"]) == (1, 8000, 64)
        assert r["value_mean"] == pytest.approx(sum(vals) / 64)

        pix = _chained_md5(text, 3 * 5 * 4)
        b = bmp_rows[doc_id]
        assert (b["width"], b["height"], b["n_samples"]) == (5, 4, 20)
        assert b["value_mean"] == pytest.approx(sum(pix) / len(pix))


def test_decode_media_lib_codec_hits_stub_boundary(spark):
    """A codec that needs external libraries raises the honest boundary."""
    media = synthesize_media(_docs(spark))  # codecs fake-png/fake-pcm/fake-h264
    with pytest.raises(Exception, match="external libraries"):
        decode_media(media).collect()


def test_decode_media_malformed_payload(spark):
    media = spark.createDataFrame(
        [(1, b"not a wav at all, but long enough to pass the length check!!",
          ("audio", 61, "pcm_wav"))],
        "doc_id long, payload binary, meta struct<media_type:string,n_bytes:long,codec:string>",
    )
    with pytest.raises(Exception, match="RIFF/WAVE"):
        decode_media(media).collect()


def test_resize_bmp_nearest_neighbor(spark):
    """2x downsample picks the pixel-center nearest source pixel; the output
    is a real BMP that round-trips through decode_media."""
    import numpy as np

    from multiversx_etl_spark.operators.multimodal import resize_bmp

    rng = np.random.default_rng(42)
    w0 = h0 = 4
    pixels = rng.integers(0, 256, size=(h0, w0, 3), dtype=np.uint8)
    payload = _bmp_bytes(pixels.tobytes(), w0, h0)
    media = spark.createDataFrame(
        [(5, payload, ("image", len(payload), "bmp24"))],
        "doc_id long, payload binary, meta struct<media_type:string,n_bytes:long,codec:string>",
    )
    resized = resize_bmp(media, 2, 2)
    out = resized.collect()[0]
    assert out["meta"]["codec"] == "bmp24"
    # independent reference: pixel-center nearest grid = source rows/cols 1,3
    expected = pixels[[1, 3]][:, [1, 3]]
    w1, h1, px = 2, 2, bytes(out["payload"])
    assert px[:2] == b"BM"
    r = decode_media(resized).collect()[0]
    assert (r["width"], r["height"]) == (w1, h1)
    assert r["value_mean"] == pytest.approx(expected.mean())


def test_resize_bmp_upsample_preserves_mean_of_constant(spark):
    import numpy as np

    from multiversx_etl_spark.operators.multimodal import resize_bmp

    pixels = np.full((2, 2, 3), 77, dtype=np.uint8)
    payload = _bmp_bytes(pixels.tobytes(), 2, 2)
    media = spark.createDataFrame(
        [(9, payload, ("image", len(payload), "bmp24"))],
        "doc_id long, payload binary, meta struct<media_type:string,n_bytes:long,codec:string>",
    )
    r = decode_media(resize_bmp(media, 7, 3)).collect()[0]
    assert (r["width"], r["height"], r["value_mean"]) == (7, 3, 77.0)


def test_resize_bmp_rejects_non_bmp_and_bad_dims(spark):
    from multiversx_etl_spark.operators.multimodal import resize_bmp

    with pytest.raises(ValueError, match="positive"):
        resize_bmp(synthesize_bmp(_docs(spark)), 0, 2)
    wavs = synthesize_wav(_docs(spark))
    with pytest.raises(Exception, match="external libraries"):
        resize_bmp(wavs, 2, 2).collect()


def test_resize_preserves_topdown_bmp_orientation(spark):
    """A top-down (negative-height) BMP must not come back vertically
    mirrored: _bmp_pixels normalizes to bottom-up order before the gather."""
    import numpy as np
    import struct

    from multiversx_etl_spark.operators.multimodal import _bmp_pixels, resize_bmp

    # rows in VISUAL order: top row all 1s, bottom row all 2s
    top, bottom = bytes([1] * 6), bytes([2] * 6)
    body = top + b"\x00\x00" + bottom + b"\x00\x00"  # stride 8, stored top-down
    payload = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    w, h, px = _bmp_pixels(np.frombuffer(payload, dtype=np.uint8))
    assert (w, h) == (2, 2)
    assert bytes(px[0]) == bottom and bytes(px[1]) == top  # bottom-up order
    media = spark.createDataFrame(
        [(1, payload, ("image", len(payload), "bmp24"))],
        "doc_id long, payload binary, meta struct<media_type:string,n_bytes:long,codec:string>",
    )
    out = bytes(resize_bmp(media, 2, 2).collect()[0]["payload"])
    w2, h2, px2 = _bmp_pixels(np.frombuffer(out, dtype=np.uint8))
    assert bytes(px2[0]) == bottom and bytes(px2[1]) == top


def test_decode_rejects_malformed_headers(spark):
    """Header fields that would silently corrupt output raise instead."""
    import struct

    from multiversx_etl_spark.operators.multimodal import (
        _decode_bmp_payload,
        _decode_wav_payload,
    )
    import numpy as np

    def wav_with(channels=1, rate=8000):
        byte_rate = min(rate * 2, 0xFFFFFFFF)  # field is u32; not validated
        return np.frombuffer(
            b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate, 2, 16)
            + b"data" + struct.pack("<I", 0),
            dtype=np.uint8,
        )

    with pytest.raises(ValueError, match="nChannels"):
        _decode_wav_payload(wav_with(channels=0))
    with pytest.raises(ValueError, match="out of range"):
        _decode_wav_payload(wav_with(rate=3_000_000_000))

    bad_offset = bytearray(_bmp_bytes(bytes(12), 2, 2))
    bad_offset[10] = 2  # pixel offset points inside the header
    with pytest.raises(ValueError, match="inside header"):
        _decode_bmp_payload(np.frombuffer(bytes(bad_offset), dtype=np.uint8))


def test_synthesizers_tolerate_null_text(spark):
    docs = spark.createDataFrame([(0, None), (1, "x")], "doc_id long, text string")
    assert decode_media(synthesize_wav(docs)).count() == 2
    assert decode_media(synthesize_bmp(docs)).count() == 2


def test_decode_media_plan_has_no_exchange(spark):
    """mapInPandas decode is partition-preserving — payload bytes never
    shuffle."""
    plan = decode_media(synthesize_wav(_docs(spark)))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# dedup operators (A14 / B7)
# ---------------------------------------------------------------------------


def _dup_log(spark):
    rows = [
        (0, 5, "r1", "a", "v5"),
        (1, 3, "r1", "a", "v3"),
        (2, 9, "r1", "b", "v9"),
        (3, 9, "r1", "b", "v9"),  # exact duplicate delivery (same seq)
        (4, 1, "r2", "a", "v1"),
    ]
    return spark.createDataFrame(rows, ["offset", "seq", "repo", "path", "content"])


def test_dedup_latest_agg(spark):
    from multiversx_etl_spark.operators.dedup import dedup_latest

    out = {
        (r["repo"], r["path"]): (r["seq"], r["content"])
        for r in dedup_latest(_dup_log(spark), ["repo", "path"]).collect()
    }
    assert out == {("r1", "a"): (5, "v5"), ("r1", "b"): (9, "v9"), ("r2", "a"): (1, "v1")}


def test_dedup_window_salted_matches_agg(spark):
    from multiversx_etl_spark.operators.dedup import dedup_latest, dedup_latest_window

    df = _dup_log(spark)
    base = {(r["repo"], r["path"], r["seq"]) for r in dedup_latest(df, ["repo", "path"]).collect()}
    for salt in (None, 4):
        win = {
            (r["repo"], r["path"], r["seq"])
            for r in dedup_latest_window(df, ["repo", "path"], salt_buckets=salt).collect()
        }
        assert win == base


def test_top_k_per_group(spark):
    from multiversx_etl_spark.operators.dedup import top_k_per_group

    out = top_k_per_group(_dup_log(spark), ["repo"], "seq", k=2).collect()
    got = {(r["repo"], r["seq"], r["rank"]) for r in out}
    assert (("r1", 9, 1) in got or ("r1", 9, 2) in got)
    assert len([r for r in out if r["repo"] == "r1"]) == 2
    assert len([r for r in out if r["repo"] == "r2"]) == 1


def test_canonicalize_expr_matches_arrow_udf(spark):
    """The JVM hot-path canonicalization must stay byte-equal to the Arrow
    pandas UDF template on line-ending and trailing-whitespace edge cases."""
    import pyspark.sql.functions as F

    from multiversx_etl_spark.operators.normalize import (
        canonicalize_content,
        canonicalize_content_expr,
    )

    cases = [
        "a \r\nb\t\r", "x\r\ry  ", "notrail", "", "tab\t\nend\t", "only\r",
        "a  \nb\t \nc   ", " lead\n", "\t", "mix \r\n\t\r z ", "end\n", "\n\n",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "content string")
    rows = df.select(
        canonicalize_content("content").alias("udf"),
        canonicalize_content_expr("content").alias("expr"),
    ).collect()
    for r in rows:
        assert r["udf"] == r["expr"], (repr(r["udf"]), repr(r["expr"]))


# ---------------------------------------------------------------------------
# real decode: non-interlaced 8-bit RGB(A) PNG (stdlib zlib + numpy only)
# ---------------------------------------------------------------------------


def _png_manual(pixels: bytes, width: int, height: int, channels: int,
                filters: list[int]) -> bytes:
    """Independent PNG encoder for the test side: applies the REQUESTED
    per-scanline filter (0..4) forward, per the spec, so the engine's
    unfilter path is exercised against a second implementation."""
    import struct
    import zlib

    bpp = channels
    rowlen = width * channels
    prev = bytes(rowlen)
    scan = bytearray()
    for r in range(height):
        row = pixels[r * rowlen:(r + 1) * rowlen]
        ftype = filters[r]
        scan.append(ftype)
        for x in range(rowlen):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            scan.append((row[x] - pred) % 256)
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    color_type = 2 if channels == 3 else 6
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(scan))) + chunk(b"IEND", b""))


def test_png_decode_reference(spark):
    """decode_media vs a hand-packed 3x2 RGB PNG."""
    pixels = bytes(range(10, 10 + 18))  # 3*3*2 = 18 bytes
    payload = _png_bytes(pixels, width=3, height=2)
    media = spark.createDataFrame(
        [(9, payload, ("image", len(payload), "png_rgb8"))],
        "doc_id long, payload binary, meta struct<media_type:string,n_bytes:long,codec:string>",
    )
    r = decode_media(media).collect()[0]
    assert (r["width"], r["height"], r["channels"], r["bits_per_sample"]) == (3, 2, 3, 24)
    assert r["n_samples"] == 6 and r["sample_rate"] is None
    assert r["value_mean"] == pytest.approx(sum(pixels) / len(pixels))


@pytest.mark.parametrize("channels", [3, 4])
def test_png_unfilter_all_five_filters(channels):
    """Every scanline filter type (None/Sub/Up/Average/Paeth) reverses
    exactly, RGB and RGBA, against the independent test-side encoder."""
    import numpy as np

    w, h = 7, 5
    rng = np.random.RandomState(42)
    pixels = bytes(rng.randint(0, 256, w * h * channels, dtype=np.uint8))
    payload = _png_manual(pixels, w, h, channels, filters=[0, 1, 2, 3, 4])
    gw, gh, gc, got = _png_pixels(np.frombuffer(payload, dtype=np.uint8))
    assert (gw, gh, gc) == (w, h, channels)
    assert got.tobytes() == pixels


def test_synthesize_png_round_trips_through_decode(spark):
    docs = _docs(spark)
    rows = {r["doc_id"]: r for r in decode_media(synthesize_png(docs)).collect()}
    texts = {0: "hello world", 1: "spark", 2: "streaming merge join"}
    for doc_id, text in texts.items():
        pix = _chained_md5(text, 3 * 5 * 4)
        r = rows[doc_id]
        assert (r["width"], r["height"], r["channels"]) == (5, 4, 3)
        assert r["codec"] == "png_rgb8"
        assert r["value_mean"] == pytest.approx(sum(pix) / len(pix))
    # RGBA variant
    rgba = {r["doc_id"]: r
            for r in decode_media(synthesize_png(docs, channels=4)).collect()}
    for doc_id, text in texts.items():
        pix = _chained_md5(text, 4 * 5 * 4)
        r = rgba[doc_id]
        assert (r["channels"], r["bits_per_sample"], r["codec"]) == (4, 32, "png_rgba8")
        assert r["value_mean"] == pytest.approx(sum(pix) / len(pix))


def test_png_decode_rejections():
    import struct
    import zlib

    import numpy as np

    as_np = lambda b: np.frombuffer(b, dtype=np.uint8)
    with pytest.raises(ValueError, match="signature"):
        _png_pixels(as_np(b"BM" + bytes(100)))
    # interlaced (Adam7) must be refused, not mis-parsed
    good = _png_bytes(bytes(18), 3, 2)
    ihdr_off = 8 + 8
    interlaced = bytearray(good)
    interlaced[ihdr_off + 12] = 1  # interlace byte inside IHDR
    body = bytes(interlaced[ihdr_off:ihdr_off + 13])
    crc = struct.pack(">I", zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF)
    interlaced[ihdr_off + 13:ihdr_off + 17] = crc
    with pytest.raises(ValueError, match="interlace"):
        _png_pixels(as_np(bytes(interlaced)))
    # truncated IDAT
    truncated = _png_manual(bytes(18), 3, 2, 3, [0, 0])
    scan_short = zlib.compress(b"\x00" + bytes(9))  # one row only

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    short = (b"\x89PNG\r\n\x1a\n"
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0))
             + chunk(b"IDAT", scan_short) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="truncated"):
        _png_pixels(as_np(short))


# ---------------------------------------------------------------------------
# distributed BPE-merge training (operators/bpe.py) vs the pure-Python
# reference trainer — same pretokenizer, greedy application, tie-break
# ---------------------------------------------------------------------------


def test_bpe_train_matches_reference_trainer(spark):
    from multiversx_etl_spark.operators.bpe import train_bpe, train_bpe_reference

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "  spaced   out\ttokens ",
        "aaa aaa banana",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = [
        (r["round"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in train_bpe(docs, num_merges=10).orderBy("round").collect()
    ]
    want = train_bpe_reference(texts, num_merges=10)
    assert got == want
    # the greedy-overlap rule: 'aaa' contributes TWO (a,a) pairs to counts
    # but merges left-to-right — both sides must agree (covered by equality
    # above; spot-check the first rows are well-formed)
    assert got[0][0] == 1 and got[0][3] == got[0][1] + got[0][2]


def test_bpe_train_on_sf_documents_matches_reference(spark):
    from multiversx_etl_spark.operators.bpe import train_bpe, train_bpe_reference
    from multiversx_etl_spark.queries import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    got = [
        (r["round"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in train_bpe(docs, num_merges=6).orderBy("round").collect()
    ]
    texts = [r["text"] for r in docs.select("text").collect()]
    want = train_bpe_reference(texts, num_merges=6)
    assert got == want
    assert len(got) == 6


def test_bpe_merge_expr_greedy_left_to_right(spark):
    from multiversx_etl_spark.operators.bpe import _merge_pair_expr

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "b", "a", "b"],), (["x"],), ([],)],
        "sym array<string>",
    )
    out = [r["m"] for r in df.select(_merge_pair_expr("sym", "a", "a").alias("m")).collect()]
    assert out[0] == ["aa", "a"]  # greedy: no re-merge of output in-pass
    assert out[1] == ["a", "b", "a", "b"]
    assert out[2] == ["x"] and out[3] == []
    out2 = [r["m"] for r in df.select(_merge_pair_expr("sym", "a", "b").alias("m")).collect()]
    assert out2[1] == ["ab", "ab"]


def test_bpe_exhausted_corpus_stops_early(spark):
    from multiversx_etl_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    # single-char words: no adjacent pairs at all -> zero merge rounds
    assert train_bpe(docs, num_merges=5).count() == 0
