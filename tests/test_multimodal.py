"""Multimodal column plumbing: binary payloads + typed metadata, decode
kernels (deterministic fakes), 1->N frame sampling."""

from __future__ import annotations

import pytest

from etl_tiki_webscraping_spark.operators.multimodal import (
    attach_meta,
    extract_image_features,
    sample_frames,
    _decode_image_impl,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, bytes(range(64))),
        (2, b"\xff" * 100),
        (3, b"short"),
    ]
    return spark.createDataFrame(rows, "media_id bigint, content binary")


def test_attach_meta_sizes(media):
    out = attach_meta(media, media_type="image", fmt="raw")
    metas = {r["media_id"]: r["meta"] for r in out.collect()}
    assert metas[1]["size_bytes"] == 64
    assert metas[2]["size_bytes"] == 100
    assert metas[1]["media_type"] == "image"
    assert metas[1]["format"] == "raw"


def test_extract_image_features_schema_and_shape(media):
    out = extract_image_features(media)
    assert out.schema.simpleString() == (
        "struct<media_id:bigint,width:int,height:int,mean_luma:double,feature:array<float>>"
    )
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert (r["width"], r["height"]) == (8, 8)
        assert len(r["feature"]) == 64
        assert 0.0 <= r["mean_luma"] <= 255.0
    # deterministic fake: same bytes -> same features
    again = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert rows[1]["feature"] == again[1]["feature"]


def test_decode_is_deterministic_and_pads():
    a = _decode_image_impl(b"abc")
    b = _decode_image_impl(b"abc")
    assert (a == b).all()
    assert a.shape == (8, 8)


def test_sample_frames_one_to_many(media):
    out = sample_frames(media, every_n_bytes=16)
    counts = {}
    for r in out.collect():
        counts[r["media_id"]] = counts.get(r["media_id"], 0) + 1
    assert counts[1] == 4   # 64 bytes / 16
    assert counts[2] == 7   # ceil(100/16)
    assert counts[3] == 1   # 5 bytes -> 1 frame
    # frames reassemble to the original payload
    frames = sorted(
        (r["frame_index"], bytes(r["frame"])) for r in out.collect() if r["media_id"] == 1
    )
    assert b"".join(f for _, f in frames) == bytes(range(64))


def test_audio_features_deterministic_and_bounded(spark):
    from etl_tiki_webscraping_spark.operators.multimodal import extract_audio_features

    media = spark.createDataFrame(
        [(1, bytearray(b"\x80" * 256)),   # all samples exactly 0.0
         (2, bytearray(b"\x00\xff" * 128)),  # alternating -1, ~+0.99 -> max crossings
         (3, bytearray(b"abc"))],         # short: zero-padded to 256
        "media_id long, content binary",
    )
    out = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    assert out[1]["rms"] == 0.0 and out[1]["zero_crossings"] == 0
    assert out[2]["zero_crossings"] == 255
    assert abs(out[2]["peak"] - 1.0) < 0.01
    assert out[3]["n_samples"] == 256 and out[3]["duration_ms"] == 16
    assert 0.0 <= out[3]["rms"] <= 1.0


# --- REAL decode paths (pure stdlib/numpy; no codec libs needed) ----------


def _make_bmp(w, h, rgb_rows):
    """Minimal uncompressed 24-bit BMP (bottom-up)."""
    import struct

    stride = (w * 3 + 3) & ~3
    pixel = bytearray()
    for row in reversed(rgb_rows):  # bottom-up storage
        for (r, g, b) in row:
            pixel += bytes((b, g, r))
        pixel += b"\0" * (stride - w * 3)
    off = 14 + 40
    size = off + len(pixel)
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel), 2835, 2835, 0, 0)
    return bytes(hdr + info + pixel)


def _make_wav(samples, rate=16_000):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        import numpy as np

        wf.writeframes((np.asarray(samples) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def test_real_bmp_decode_through_mapinpandas(spark):
    """A genuine 24-bit BMP decodes to its true dimensions and luma —
    the REAL image path, end to end through extract_image_features."""
    from etl_tiki_webscraping_spark.operators.multimodal import (
        extract_image_features,
    )

    white_black = _make_bmp(2, 1, [[(255, 255, 255), (0, 0, 0)]])
    df = spark.createDataFrame([(1, bytearray(white_black))], "media_id long, content binary")
    row = extract_image_features(df).collect()[0]
    assert (row.width, row.height) == (2, 1)
    # luma of pure white ~255, black = 0 -> mean ~127.5
    assert abs(row.mean_luma - 127.5) < 0.5
    assert len(row.feature) == 2


def test_real_wav_decode_through_mapinpandas(spark):
    """A genuine 16-bit PCM WAV of a known sine yields the true sample
    count, duration, RMS and zero-crossing count — the REAL audio path."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        extract_audio_features,
    )

    t = np.arange(1600) / 16_000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    wav = _make_wav(sine)
    df = spark.createDataFrame([(7, bytearray(wav))], "media_id long, content binary")
    row = extract_audio_features(df).collect()[0]
    assert row.n_samples == 1600
    assert row.duration_ms == 100
    assert abs(row.rms - 0.5 / np.sqrt(2)) < 0.01
    # 440 Hz over 0.1 s: ~88 zero crossings
    assert 80 <= row.zero_crossings <= 92


def test_arbitrary_bytes_still_route_to_the_deterministic_fake(spark):
    """Strict sniffing: non-BMP/WAV binary keeps the fake-decoder
    contract the catalog oracles replay."""
    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_audio_impl,
        _decode_image_impl,
    )
    import numpy as np

    blob = bytes(range(256))
    img = _decode_image_impl(blob)
    assert img.shape == (8, 8) and img.dtype == np.float32
    wave = _decode_audio_impl(blob)
    assert wave.shape == (256,)


def _make_png(pixels, color_type, filters=None):
    """Tiny reference PNG encoder for test fixtures: 8-bit depth,
    non-interlaced, one IDAT, per-row filter types applied FORWARD so
    the decoder's unfiltering is exercised for real."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.int64)
    if px.ndim == 2:
        px = px[..., None]
    h, w, nch = px.shape
    expect_nch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    assert nch == expect_nch, (nch, expect_nch)
    filters = filters or [0] * h
    stride = w * nch
    flat = px.reshape(h, stride)
    raw = bytearray()
    for y, f in enumerate(filters):
        raw.append(f)
        prev = flat[y - 1] if y else np.zeros(stride, dtype=np.int64)
        row = flat[y]
        filt = np.empty(stride, dtype=np.int64)
        for x in range(stride):
            a = row[x - nch] if x >= nch else 0
            b, c = prev[x], (prev[x - nch] if x >= nch else 0)
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (row[x] - pred) & 0xFF
        raw += filt.astype(np.uint8).tobytes()

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_gray_all_filters_roundtrip():
    """Every PNG scanline filter (None/Sub/Up/Average/Paeth) unfilters
    back to the exact source gray values."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(5, 7), dtype=np.int64)
    png = _make_png(img, color_type=0, filters=[0, 1, 2, 3, 4])
    got = _decode_png(png)
    assert got is not None and got.shape == (5, 7)
    assert np.array_equal(got.astype(np.int64), img)


def test_png_rgb_and_rgba_luma():
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import _decode_png

    rgb = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    got = _decode_png(_make_png(rgb, color_type=2, filters=[4, 3]))
    exp = np.array(
        [[0.299 * 255, 0.587 * 255], [0.114 * 255, 255.0]], dtype=np.float32
    )
    assert np.allclose(got, exp, atol=0.01)
    # RGBA: alpha ignored, same luma
    rgba = [[p + (128,) for p in row] for row in rgb]
    got4 = _decode_png(_make_png(rgba, color_type=6, filters=[1, 2]))
    assert np.allclose(got4, exp, atol=0.01)


def test_png_strict_sniffing_rejects_near_misses():
    from etl_tiki_webscraping_spark.operators.multimodal import _decode_png

    good = _make_png([[1, 2], [3, 4]], color_type=0)
    assert _decode_png(good) is not None
    assert _decode_png(b"\x89PNG\r\n\x1a\n" + b"garbage" * 10) is None
    assert _decode_png(good[:-20]) is None  # truncated: rejected, no crash
    # 16-bit depth / interlace are out of scope -> None, not garbage
    import struct
    import zlib

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    deep = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\0" * 18))
        + chunk(b"IEND", b"")
    )
    assert _decode_png(deep) is None


def test_real_png_decode_through_mapinpandas(spark):
    """A genuine PNG decodes to its true dimensions and luma through
    extract_image_features — retiring the fake-decoder caveat for the
    dominant image format (VERDICT r7 ask #6)."""
    from etl_tiki_webscraping_spark.operators.multimodal import (
        extract_image_features,
    )

    png = _make_png(
        [[(255, 255, 255), (0, 0, 0)]], color_type=2, filters=[4]
    )
    df = spark.createDataFrame(
        [(1, bytearray(png))], "media_id long, content binary"
    )
    row = extract_image_features(df).collect()[0]
    assert (row.width, row.height) == (2, 1)
    assert abs(row.mean_luma - 127.5) < 0.5
    assert len(row.feature) == 2


def test_resize_box_means_on_real_png(spark):
    """resize_images: each output pixel is the exact block mean —
    checked on a genuine 8x8 gradient PNG downsampled to 2x2."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import resize_images

    img = np.arange(64, dtype=np.int64).reshape(8, 8)  # 0..63 gradient
    png = _make_png(img, color_type=0, filters=[0, 1, 2, 3, 4, 0, 2, 1])
    df = spark.createDataFrame(
        [(5, bytearray(png))], "media_id long, content binary"
    )
    row = resize_images(df, out_w=2, out_h=2).collect()[0]
    assert (row.src_width, row.src_height, row.width, row.height) == (8, 8, 2, 2)
    got = np.array(row.pixels).reshape(2, 2)
    exp = img.reshape(2, 4, 2, 4).mean(axis=(1, 3))
    assert np.allclose(got, exp)


def test_resize_rejects_non_divisible_target(spark):
    import pytest

    from etl_tiki_webscraping_spark.operators.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 64))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="divisible"):
        resize_images(df, out_w=3, out_h=3).collect()


class TestImageAhashNearDup:
    def _hashes(self, spark, rows):
        return spark.createDataFrame(
            rows, "media_id long, h_lo long, h_hi long"
        )

    def test_ahash_matches_python_reference(self, spark):
        from pyspark.sql import functions as F

        from etl_tiki_webscraping_spark.operators.multimodal import (
            extract_image_features,
            image_ahash,
        )

        texts = {1: "abcxyz" * 12, 2: "zzzzaaaa" * 9}
        df = spark.createDataFrame(
            [(i, t.encode()) for i, t in texts.items()],
            "media_id long, content binary",
        )
        got = {
            r.media_id: (r.h_lo, r.h_hi)
            for r in image_ahash(extract_image_features(df)).collect()
        }
        for mid, t in texts.items():
            luma = [ord(c) for c in t[:64]] + [0] * max(0, 64 - len(t))
            mean = sum(luma) / 64.0
            lo = sum(1 << i for i in range(32) if luma[i] > mean)
            hi = sum(1 << i for i in range(32) if luma[32 + i] > mean)
            assert got[mid] == (lo, hi), mid

    def test_band_recall_guarantee_adversarial(self, spark):
        """d differing bits CAN touch d bands, so the scheme needs
        d + 1 bands for distance d: spread SEVEN differing bits over
        seven different 8-bit bands — only the eighth band matches,
        and the pair must still surface (the 4x16 scheme this replaced
        missed exactly this shape)."""
        from etl_tiki_webscraping_spark.operators.multimodal import (
            image_neardup_pairs,
        )

        lo_b = (1 << 0) | (1 << 8) | (1 << 16) | (1 << 24)  # bands 0-3
        hi_b = (1 << 0) | (1 << 8) | (1 << 16)              # bands 4-6
        df = self._hashes(spark, [(1, 0, 0), (2, lo_b, hi_b)])
        got = image_neardup_pairs(df, max_hamming=7).collect()
        assert [(r.media_id_a, r.media_id_b, r.hamming) for r in got] == [
            (1, 2, 7)
        ]

    def test_hamming_threshold_and_validation(self, spark):
        import pytest

        from etl_tiki_webscraping_spark.operators.multimodal import (
            image_neardup_pairs,
        )

        df = self._hashes(
            spark,
            [(1, 0b1111, 0), (2, 0, 0)],  # hamming 4, all in band 0
        )
        assert image_neardup_pairs(df, max_hamming=3).count() == 0
        assert image_neardup_pairs(df, max_hamming=4).count() == 1
        with pytest.raises(ValueError, match="max_hamming"):
            image_neardup_pairs(df, max_hamming=8)


def test_image_ahash_skips_non_64_pixel_features(spark):
    """A non-8x8 feature vector must be excluded, not crash ANSI
    element_at mid-query."""
    from etl_tiki_webscraping_spark.operators.multimodal import image_ahash

    rows = [
        (1, 2, 2, 1.0, [9.0] * 4),     # 2x2: excluded
        (2, 8, 8, 1.0, [0.0] * 63 + [99.0]),  # conforming
    ]
    df = spark.createDataFrame(
        rows,
        "media_id long, width int, height int, mean_luma double,"
        " feature array<float>",
    )
    got = image_ahash(df).collect()
    assert [r.media_id for r in got] == [2]
    assert got[0].h_hi == 1 << 31 and got[0].h_lo == 0


# ---------------------------------------------------------------------------
# GIF decode + real frame sampling
# ---------------------------------------------------------------------------

def _gif_lzw_encode(indices, min_code_size):
    """Reference GIF-LZW encoder for fixtures (spec appendix F): builds
    the string table exactly like a decoder expects, growing code width
    at table size 2^n."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1
    out_bits = []

    def emit(code):
        for b in range(code_size):
            out_bits.append((code >> b) & 1)

    emit(clear)
    prev = b""
    for idx in indices:
        cur = prev + bytes([idx])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        prev = bytes([idx])
    if prev:
        emit(table[prev])
    emit(eoi)
    data = bytearray()
    for i in range(0, len(out_bits), 8):
        byte = 0
        for j, bit in enumerate(out_bits[i : i + 8]):
            byte |= bit << j
        data.append(byte)
    return bytes(data)


def _make_gif(frames, palette, w, h, transparent=None):
    """Minimal GIF89a writer: global color table, one image descriptor
    per frame (full-canvas), optional transparency via a GCE."""
    import struct

    n = max(2, len(palette))
    bits = max(1, (n - 1).bit_length())
    ct_size = 1 << bits
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    for i in range(ct_size):
        out += bytes(palette[i] if i < len(palette) else (0, 0, 0))
    min_code = max(2, bits)
    for fi, frame in enumerate(frames):
        if transparent is not None and fi > 0:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        out += bytes([min_code])
        lzw = _gif_lzw_encode([p for row in frame for p in row], min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def test_gif_decode_single_frame_luma():
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import _decode_gif

    palette = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 0, 255)]
    frame = [[0, 1, 2], [3, 0, 1]]
    blob = _make_gif([frame], palette, 3, 2)
    luma = _decode_gif(blob)
    assert luma is not None and luma.shape == (2, 3)
    want = np.array(
        [[0.0, 255.0, 0.299 * 255], [0.114 * 255, 0.0, 255.0]], dtype=np.float32
    )
    assert np.allclose(luma, want, atol=1e-3)


def test_gif_multiframe_composites_and_transparency():
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_gif_frames,
    )

    palette = [(0, 0, 0), (255, 255, 255)]
    f0 = [[1, 1], [1, 1]]
    # frame 1 paints index 0 everywhere, but 0 is TRANSPARENT for this
    # frame -> canvas must stay all-white
    f1 = [[0, 0], [0, 0]]
    blob = _make_gif([f0, f1], palette, 2, 2, transparent=0)
    frames = _decode_gif_frames(blob)
    assert len(frames) == 2
    assert np.allclose(frames[0], 255.0)
    assert np.allclose(frames[1], 255.0)  # transparent paint = no-op


def test_gif_decoder_rejects_garbage_and_reorders_interlace():
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import _decode_gif

    assert _decode_gif(b"not a gif at all") is None
    assert _decode_gif(b"GIF89a\x00\x00") is None
    # interlace flag no longer rejects (round 13): decoded rows scatter
    # from pass order back to display order.  Flipping the flag on a
    # SEQUENTIALLY-written 4-row stream permutes rows per the 4-pass
    # map (0,8.. / 4,12.. / 2,6.. / 1,3..) -> stored rows land at
    # display rows [0, 2, 1, 3].
    palette = [(0, 0, 0), (255, 255, 255)]
    rows = [[0, 0], [1, 1], [0, 1], [1, 0]]
    blob = bytearray(_make_gif([rows], palette, 2, 4))
    desc = 6 + 7 + 3 * 2
    assert blob[desc] == 0x2C
    blob[desc + 9] = blob[desc + 9] | 0x40  # set interlace bit in ipacked
    laced = _decode_gif(bytes(blob))
    seq = _decode_gif(bytes(_make_gif([rows], palette, 2, 4)))
    assert laced is not None
    # decoder scatters stored row i to display row order[i], so
    # gathering the laced decode back through `order` recovers the
    # sequential decode — scatter is the inverse of the encoder gather
    order = [0, 2, 1, 3]
    assert np.array_equal(laced[order], seq)


def test_gif_large_frame_vectorized_expansion_roundtrip():
    """Frames past the tiny-frame threshold (>=4096 output pixels)
    take the vectorized numpy LZW expansion; pin that path against the
    package encoder with a pseudo-random 96x96 frame (deep LZW chains,
    code-width growth)."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_gif_frames,
        encode_gif,
    )

    palette = [(0, 0, 0), (255, 255, 255), (64, 128, 192), (200, 100, 50)]
    frame = [[(x * 31 + y * 17 + x * y) % 4 for x in range(96)] for y in range(96)]
    blob = encode_gif([frame], palette, 96, 96)
    got = _decode_gif_frames(blob)
    assert got is not None and got[0].shape == (96, 96)
    lut = np.array(palette, dtype=np.float32)
    luma = 0.299 * lut[:, 0] + 0.587 * lut[:, 1] + 0.114 * lut[:, 2]
    want = np.array(
        [[luma[frame[y][x]] for x in range(96)] for y in range(96)],
        dtype=np.float32,
    )
    assert np.array_equal(got[0], want)


def test_gif_decoder_rejects_truncation():
    """Strict truncation contract (round-11 ADVICE): a stream cut off
    mid-sub-block, missing its block terminator, or missing the 0x3B
    trailer rejects wholesale — no partial frame list leaks out."""
    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_gif_frames,
    )

    palette = [(0, 0, 0), (255, 255, 255)]
    blob = _make_gif([[[0, 1], [1, 0]], [[1, 0], [0, 1]]], palette, 2, 2)
    assert _decode_gif_frames(blob) is not None  # intact: decodes
    # missing trailer (0x3B): the last byte of a well-formed stream
    assert blob[-1] == 0x3B
    assert _decode_gif_frames(blob[:-1]) is None
    # truncated mid-LZW-sub-block: cut into the SECOND frame's data so
    # a partial-frame leak would have returned [frame0]
    trailer_at = len(blob) - 1
    for cut in (trailer_at - 1, trailer_at - 2, trailer_at - 3):
        assert _decode_gif_frames(blob[:cut]) is None
    # truncated extension: GCE block sliced mid-sub-block (the helper
    # emits a GCE before every frame after the first)
    gce = _make_gif(
        [[[0, 1], [1, 0]], [[1, 1], [1, 1]]], palette, 2, 2, transparent=0
    )
    ext_at = gce.find(b"\x21\xf9")
    assert ext_at > 0
    assert _decode_gif_frames(gce[: ext_at + 3]) is None


def test_gif_image_impl_dispatch_and_frame_sampling(spark):
    """End to end through mapInPandas: extract_image_features decodes
    the REAL GIF (not the byte fake), and sample_gif_frames emits
    every-2nd frame plus quarantine rows for non-GIF blobs."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_gif_frames,
        extract_image_features,
        sample_gif_frames,
    )

    palette = [(0, 0, 0), (255, 255, 255), (128, 128, 128), (10, 200, 90)]
    frames = [
        [[(fi + x + y) % 4 for x in range(4)] for y in range(3)]
        for fi in range(5)
    ]
    blob = _make_gif(frames, palette, 4, 3)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk-bytes-here"))],
        "media_id long, content binary",
    )

    feats = {r["media_id"]: r for r in extract_image_features(df).collect()}
    assert (feats[1]["height"], feats[1]["width"]) == (3, 4)
    want0 = _decode_gif_frames(blob)[0]
    assert abs(feats[1]["mean_luma"] - float(want0.mean())) < 1e-3
    assert (feats[2]["height"], feats[2]["width"]) == (8, 8)  # fake fallback

    rows = sample_gif_frames(df, every_n=2).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    idx1 = sorted(r["frame_index"] for r in by_media[1])
    assert idx1 == [0, 2, 4]
    all_frames = _decode_gif_frames(blob)
    for r in by_media[1]:
        assert (r["height"], r["width"]) == (3, 4)
        assert abs(r["mean_luma"] - float(all_frames[r["frame_index"]].mean())) < 1e-9
    assert [r["frame_index"] for r in by_media[2]] == [-1]
    assert by_media[2][0]["mean_luma"] is None


def test_audio_spectral_centroid_pure_tones(spark):
    """End to end WAV-encode -> decode -> rFFT: centroid of a pure
    tone lands on the tone frequency; a two-tone mix lands between;
    the fake-decoder fallback still yields finite features."""
    from etl_tiki_webscraping_spark.operators.multimodal import (
        encode_wav_tone,
        extract_audio_spectral_features,
    )

    rows = [
        (1, bytearray(encode_wav_tone(500.0))),
        (2, bytearray(encode_wav_tone(3000.0))),
        (3, bytearray(b"not audio at all")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r["media_id"]: r
        for r in extract_audio_spectral_features(df).collect()
    }
    assert abs(got[1]["spectral_centroid_hz"] - 500.0) < 25.0
    assert abs(got[2]["spectral_centroid_hz"] - 3000.0) < 25.0
    assert got[1]["spectral_rolloff_hz"] >= got[1]["spectral_centroid_hz"] - 25.0
    assert got[2]["spectral_bandwidth_hz"] < got[2]["spectral_centroid_hz"]
    assert got[3]["spectral_centroid_hz"] is not None  # fake fallback
    assert got[3]["n_samples"] == 256  # fake decoder zero-pads to 256


def test_audio_spectral_numpy_replay(spark):
    """The kernel's numbers equal a direct numpy replay of the same
    definition (no hidden windowing or scaling)."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_wav,
        encode_wav_tone,
        extract_audio_spectral_features,
    )

    blob = encode_wav_tone(1234.0, n_samples=1024)
    df = spark.createDataFrame(
        [(7, bytearray(blob))], "media_id long, content binary"
    )
    got = extract_audio_spectral_features(df).collect()[0]
    wave = _decode_wav(blob).astype(np.float64)
    mag = np.abs(np.fft.rfft(wave * np.hanning(len(wave))))
    freqs = np.fft.rfftfreq(len(wave), d=1.0 / 16000)
    total = mag.sum()
    c = (freqs * mag).sum() / total
    bw = np.sqrt(((freqs - c) ** 2 * mag).sum() / total)
    roll = freqs[min(int(np.searchsorted(np.cumsum(mag), 0.85 * total)),
                     len(freqs) - 1)]
    assert abs(got["spectral_centroid_hz"] - c) < 1e-9
    assert abs(got["spectral_bandwidth_hz"] - bw) < 1e-9
    assert abs(got["spectral_rolloff_hz"] - roll) < 1e-9


def test_encode_png_roundtrips_every_filter_and_color_type():
    """The package PNG writer (multimodal.py::encode_png) roundtrips
    bit-exactly through _decode_png for every filter type and every
    supported color type — the lossless property the png_image_stats
    oracle replays from first principles."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    rng = np.random.default_rng(23)
    cases = [
        ((16, 16), "gray"),
        ((16, 16, 2), "gray+alpha"),
        ((13, 9, 3), "rgb"),
        ((8, 8, 4), "rgba"),
    ]
    for shape, _desc in cases:
        img = rng.integers(0, 256, size=shape).astype(np.uint8)
        for filt in ["rotate", 0, 1, 2, 3, 4]:
            got = _decode_png(encode_png(img, filters=filt))
            assert got is not None
            px = (img if img.ndim == 3 else img[:, :, None]).astype(np.float32)
            if shape[-1] in (3, 4) and img.ndim == 3:
                exp = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
            else:
                exp = px[..., 0]
            assert np.array_equal(got, exp)


def test_encode_png_matches_reference_filter_bytes():
    """encode_png's vectorized per-row filtering is byte-identical to
    the test-local serial reference encoder (_make_png) for the same
    explicit filter schedule — pinning the Average floor and Paeth
    tie-break arithmetic, not just the roundtrip."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(5, 7, 3)).astype(np.uint8)
    sched = [0, 1, 2, 3, 4]
    # zlib levels may differ between the two writers, so compare the
    # INFLATED filtered byte stream, which is what the filters produce.
    import struct
    import zlib

    def idat_raw(blob):
        pos = 8
        out = bytearray()
        while pos + 8 <= len(blob):
            (ln,) = struct.unpack_from(">I", blob, pos)
            ctype = blob[pos + 4 : pos + 8]
            if ctype == b"IDAT":
                out += blob[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
        return zlib.decompress(bytes(out))

    ours = idat_raw(encode_png(img, filters=sched))
    ref = idat_raw(_make_png(img.astype(np.int64), color_type=2, filters=sched))
    assert ours == ref


def test_encode_png_rejects_unknown_filter():
    import numpy as np
    import pytest

    from etl_tiki_webscraping_spark.operators.multimodal import encode_png

    with pytest.raises(ValueError):
        encode_png(np.zeros((2, 2), dtype=np.uint8), filters=7)


def test_adam7_interlaced_roundtrip_and_parity():
    """Adam7 layout roundtrips bit-exactly for every color type and for
    edge dimensions where whole passes are empty (w or h < pass
    origin), and the interlaced decode equals the sequential decode of
    the same pixels."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    rng = np.random.default_rng(41)
    for shape in [(16, 16), (13, 9, 3), (7, 5, 4), (1, 1), (2, 3), (8, 1, 2)]:
        img = rng.integers(0, 256, size=shape).astype(np.uint8)
        seq = _decode_png(encode_png(img, filters="rotate"))
        inter = _decode_png(encode_png(img, filters="rotate", interlace=True))
        assert inter is not None
        assert np.array_equal(seq, inter), shape


def test_adam7_strict_length_check():
    """A truncated interlaced stream (exact-length sniff) decodes to
    None, never to garbage."""
    import struct
    import zlib

    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    img = np.arange(256, dtype=np.uint8).reshape(16, 16)
    blob = bytearray(encode_png(img, interlace=True))
    # rebuild with one raw byte chopped: locate IDAT, re-deflate short
    pos = 8
    while bytes(blob[pos + 4 : pos + 8]) != b"IDAT":
        (ln,) = struct.unpack_from(">I", blob, pos)
        pos += 12 + ln
    (ln,) = struct.unpack_from(">I", blob, pos)
    raw = zlib.decompress(bytes(blob[pos + 8 : pos + 8 + ln]))
    short = zlib.compress(raw[:-1])

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    trunc = bytes(blob[:pos]) + chunk(b"IDAT", short) + chunk(b"IEND", b"")
    assert _decode_png(trunc) is None


def test_png_roundtrip_property():
    """Hypothesis: encode_png -> _decode_png is the identity on the
    luma plane for arbitrary small images across color types, filter
    schedules, and BOTH layouts (sequential + Adam7)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        nch=st.sampled_from([1, 2, 3, 4]),
        interlace=st.booleans(),
        filt=st.sampled_from(["rotate", 0, 1, 2, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
    )
    def roundtrip(h, w, nch, interlace, filt, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if nch == 1 else (h, w, nch)
        img = rng.integers(0, 256, size=shape).astype(np.uint8)
        got = _decode_png(encode_png(img, filters=filt, interlace=interlace))
        assert got is not None
        px = (img if img.ndim == 3 else img[:, :, None]).astype(np.float32)
        if nch in (3, 4):
            exp = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
        else:
            exp = px[..., 0]
        assert np.array_equal(got, exp)

    roundtrip()


def test_mjpeg_avi_roundtrip_and_strictness():
    """The RIFF walker + real JPEG decode roundtrips DC-grid frames
    bit-exactly; truncation, non-AVI bytes, and an undecodable frame
    all yield None (the GIF strictness contract for video)."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_avi_frames,
        encode_mjpeg_avi,
    )

    def block_img(d, fi):
        img = np.empty((16, 16))
        for by in range(2):
            for bx in range(2):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    128 + 2 * ((d + 3 * bx + 5 * by + 7 * fi) % 50 - 25)
                )
        return img

    frames = [block_img(4, fi) for fi in range(3)]
    avi = encode_mjpeg_avi(frames)
    dec = _decode_avi_frames(avi)
    assert dec is not None and len(dec) == 3
    for f, src in zip(dec, frames):
        assert np.array_equal(f, src.astype(np.float32))
    assert _decode_avi_frames(avi[:-5]) is None  # truncated
    assert _decode_avi_frames(b"not an avi at all") is None
    # corrupt ONE frame payload: strict -> whole video quarantines
    import struct

    pos = avi.index(b"00dc")
    (sz,) = struct.unpack_from("<I", avi, pos + 4)
    bad = avi[: pos + 8] + b"\xff" * sz + avi[pos + 8 + sz :]
    assert _decode_avi_frames(bad) is None


def test_sample_video_frames_through_mapinpandas(spark):
    import numpy as np

    from etl_tiki_webscraping_spark.operators.multimodal import (
        encode_mjpeg_avi,
        sample_video_frames,
    )

    img = np.full((16, 16), 128.0)
    avi = encode_mjpeg_avi([img, img + 2, img + 4, img - 2])
    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(b"garbage"))],
        "media_id long, content binary",
    )
    rows = sample_video_frames(df, every_n=2).collect()
    got = {(r["media_id"], r["frame_index"]): r["luma_units"] for r in rows}
    assert (1, 0) in got and (1, 2) in got and (1, 1) not in got
    assert got[(1, 0)] == 256 * 128_000_000
    assert got[(1, 2)] == 256 * 132_000_000
    assert got[(2, -1)] is None  # quarantine row



def test_map_blobs_contract(spark):
    """The one per-blob kernel: a NULL blob reaches ``rows`` as None,
    the id lands under the schema's first field whatever ``id_col`` is
    called, fields a row leaves out are NULL, and a batch whose blobs
    expand to zero rows still yields a correctly typed empty result
    (DDL-string and StructType schemas alike)."""
    from pyspark.sql import types as T

    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    schema = "item_id bigint, part int, byte int, note string"

    def rows(data):
        if data is None:
            yield {"part": -1, "note": "null blob"}
            return
        if data == b"reject":
            yield {"part": -1}
            return
        for i, b in enumerate(data[:2]):
            yield {"part": i, "byte": b}

    df = spark.createDataFrame(
        [(7, bytearray(b"ab")), (8, None), (9, bytearray(b"reject")), (10, bytearray(b""))],
        "blob_key bigint, payload binary",
    )
    out = map_blobs(df, "blob_key", "payload", schema, rows)
    assert out.columns == ["item_id", "part", "byte", "note"]
    assert sorted(map(tuple, out.collect())) == [
        (7, 0, 97, None), (7, 1, 98, None),
        (8, -1, None, "null blob"),
        (9, -1, None, None),
    ]

    struct = T.StructType.fromDDL(schema)
    empty = map_blobs(df.coalesce(1), "blob_key", "payload", struct, lambda data: ())
    assert empty.schema == struct
    assert empty.collect() == []


def test_sniff_audio_formats_per_container(spark):
    """Per-format audio triage: container from the magic sniff,
    ``decodable``/``n_samples`` from the real WAV and FLAC decoders."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.audiometa import encode_mp3_frames
    from etl_tiki_webscraping_spark.operators.flac import encode_flac
    from etl_tiki_webscraping_spark.operators.multimodal import (
        encode_wav_tone,
        sniff_audio_formats,
    )

    pcm = (np.arange(300) % 50 - 25) * 100
    blobs = [
        (1, encode_wav_tone(440.0, n_samples=512)),
        (2, encode_flac(pcm)),
        (3, encode_mp3_frames([9] * 3)),
        (4, b"not audio at all"),
        (5, None),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b) if b is not None else None) for i, b in blobs],
        "media_id bigint, content binary",
    )
    got = {r.media_id: (r.container, r.decodable, r.n_samples)
           for r in sniff_audio_formats(df).collect()}
    assert got == {
        1: ("wav", True, 512),
        2: ("flac", True, 300),
        3: ("mp3", False, None),
        4: ("unknown", False, None),
        5: ("unknown", False, None),
    }

class TestPalettePngAndGifInterlace:
    """Round-13 format completions: paletted PNG (color type 3, all
    sub-byte depths, both layouts) and interlaced GIF."""

    def test_palette_png_all_depths_both_layouts(self):
        import numpy as np

        from etl_tiki_webscraping_spark.operators.multimodal import (
            _decode_png,
            encode_png,
        )

        rng = np.random.default_rng(3)
        for bd, ncol in ((1, 2), (2, 4), (4, 16), (8, 200)):
            pal = [tuple(int(v) for v in row)
                   for row in rng.integers(0, 256, (ncol, 3))]
            idx = rng.integers(0, ncol, (13, 11)).astype(np.uint8)
            parr = np.array(pal, dtype=np.float32)
            exp = (0.299 * parr[idx][..., 0] + 0.587 * parr[idx][..., 1]
                   + 0.114 * parr[idx][..., 2])
            for interlace in (False, True):
                enc = encode_png(
                    idx, palette=pal, bit_depth=bd, interlace=interlace
                )
                luma = _decode_png(enc)
                assert luma is not None and np.array_equal(luma, exp), (
                    bd, interlace,
                )

    def test_gray_palette_returns_stored_value_exactly(self):
        import numpy as np

        from etl_tiki_webscraping_spark.operators.multimodal import (
            _decode_png,
            encode_png,
        )

        pal = [(v, v, v) for v in range(0, 256, 16)]
        idx = (np.arange(64).reshape(8, 8) % 16).astype(np.uint8)
        luma = _decode_png(encode_png(idx, palette=pal, bit_depth=4))
        exp = np.array([p[0] for p in pal], dtype=np.float32)[idx]
        assert (luma == exp).all()

    def test_palette_strictness(self):
        import struct
        import zlib

        import numpy as np

        from etl_tiki_webscraping_spark.operators.multimodal import (
            _decode_png,
            encode_png,
        )

        pal = [(0, 0, 0), (255, 255, 255)]
        enc = encode_png(
            np.zeros((8, 8), np.uint8), palette=pal, bit_depth=8
        )
        assert _decode_png(enc[: len(enc) // 2]) is None

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

        # an index beyond PLTE must reject (handcrafted 2x1, index 5)
        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
        bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"PLTE", b"\x00\x00\x00\xff\xff\xff")
               + chunk(b"IDAT", zlib.compress(bytes([0, 0, 5])))
               + chunk(b"IEND", b""))
        assert _decode_png(bad) is None
        # ct=3 without PLTE must reject
        noplte = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                  + chunk(b"IDAT", zlib.compress(bytes([0, 0, 1])))
                  + chunk(b"IEND", b""))
        assert _decode_png(noplte) is None
        with pytest.raises(ValueError):
            encode_png(np.full((2, 2), 9, np.uint8), palette=pal,
                       bit_depth=8)  # index out of palette range

    def test_gif_interlaced_equals_sequential(self):
        import numpy as np

        from etl_tiki_webscraping_spark.operators.multimodal import (
            _decode_gif_frames,
            encode_gif,
        )

        pal = [((i * 16) % 256, 0, 0) for i in range(16)]
        for h in (1, 2, 5, 9, 16):  # odd heights stress the pass maths
            frame = [[(x + y) % 16 for x in range(10)] for y in range(h)]
            seq = _decode_gif_frames(encode_gif([frame], pal, 10, h))
            lace = _decode_gif_frames(
                encode_gif([frame], pal, 10, h, interlace=True)
            )
            assert seq and lace and np.array_equal(seq[0], lace[0]), h
