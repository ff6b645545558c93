"""Multimodal plumbing tests: binary columns, mapInPandas batch shape,
stubbed decode."""

import pytest
from pyspark.sql import functions as F

from wimbd_spark.operators.multimodal import (
    attach_fake_payload,
    bytes_meta,
    extract_features,
)


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "xyz"), (3, None)], ["doc_id", "text"]
    )
    return attach_fake_payload(df)


def test_media_schema(media):
    assert dict(media.dtypes)["payload"] == "binary"
    assert "media_type" in media.select("meta.*").columns


def test_bytes_meta(media):
    rows = {r["doc_id"]: r for r in bytes_meta(media).collect()}
    assert rows[1]["n_bytes"] == 11
    assert rows[1]["first_byte_hex"] == "68"  # 'h'
    assert rows[3]["n_bytes"] == 0


def test_extract_features_deterministic(media):
    a = {r["doc_id"]: r["features"] for r in extract_features(media).collect()}
    b = {r["doc_id"]: r["features"] for r in extract_features(media).collect()}
    assert a == b
    assert len(a[1]) == 8
    assert a[1] != a[2]


def test_extract_features_real_path_stubbed(media):
    with pytest.raises(Exception) as exc_info:
        extract_features(media, deterministic_fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


# ---- real header/pixel/sample decode (stdlib-only) ----

import struct
import zlib

from wimbd_spark.operators.multimodal import (
    decode_png,
    decode_wav,
    parse_media_header,
    sniff_media_meta,
)


def _png_chunk(typ, data):
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def make_png(rows, color_type=2, filters=None):
    """Independent PNG writer (filters applied forward so the reader
    must invert them): rows = list of per-row flat byte lists."""
    h, stride = len(rows), len(rows[0])
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    w = stride // nch
    filters = filters or [0] * h
    raw = bytearray()
    prev = bytes(stride)
    for f, row in zip(filters, rows):
        row = bytes(row)
        if f == 0:
            enc = row
        elif f == 2:  # Up: store cur - prev
            enc = bytes((row[x] - prev[x]) & 0xFF for x in range(stride))
        else:
            raise ValueError("test writer supports filters 0 and 2")
        raw += bytes([f]) + enc
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def make_wav(samples, rate=8000):
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_parse_media_header_formats():
    png = make_png([[255, 0, 0, 0, 255, 0]])  # 2x1 RGB
    assert parse_media_header(png) == ("image", "png", 2, 1, None)
    gif = b"GIF89a" + struct.pack("<HH", 7, 9) + b"\x00" * 10
    assert parse_media_header(gif) == ("image", "gif", 7, 9, None)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 11, -13) + b"\x00" * 10
    assert parse_media_header(bmp) == ("image", "bmp", 11, 13, None)
    # minimal JPEG: SOI + SOF0 segment
    jpeg = b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 31, 42) + b"\x03" + b"\x00" * 20
    assert parse_media_header(jpeg) == ("image", "jpeg", 42, 31, None)
    wav = make_wav([0] * 8000)  # exactly 1 s at 8 kHz
    assert parse_media_header(wav) == ("audio", "wav", None, None, 1000)
    assert parse_media_header(b"garbage bytes here") is None
    assert parse_media_header(None) is None


def test_decode_png_filters_roundtrip():
    rows = [[10, 20, 30, 40, 50, 60], [11, 22, 33, 44, 55, 66]]
    for filters in ([0, 0], [0, 2]):
        w, h, nch, pix = decode_png(make_png(rows, filters=filters))
        assert (w, h, nch) == (2, 2, 3)
        assert list(pix) == rows[0] + rows[1]


def test_decode_wav_roundtrip():
    rate, samples, nch = decode_wav(make_wav([-100, 0, 100, 200], rate=4000))
    assert rate == 4000 and nch == 1
    assert list(samples) == [-100, 0, 100, 200]


def test_sniff_media_meta_df(spark):
    png = make_png([[0, 0, 0, 255, 255, 255]])
    wav = make_wav([0] * 4000)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(wav)), (3, b"junk"), (4, None)],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in sniff_media_meta(df).collect()}
    assert rows[1]["format"] == "png" and rows[1]["width"] == 2
    assert rows[2]["format"] == "wav" and rows[2]["duration_ms"] == 500
    assert rows[3]["format"] is None and rows[3]["n_bytes"] == 4
    assert rows[4]["n_bytes"] == 0


def test_extract_features_real_decode(spark):
    from wimbd_spark.operators.multimodal import extract_features

    black = make_png([[0, 0, 0] * 4] * 4)          # 4x4 black RGB
    white = make_png([[255, 255, 255] * 4] * 4)    # 4x4 white RGB
    tone = make_wav([16384] * 1000)                # constant amplitude
    df = spark.createDataFrame(
        [(1, bytearray(black)), (2, bytearray(white)), (3, bytearray(tone))],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r["features"]
        for r in extract_features(df, dim=4, deterministic_fake=False).collect()
    }
    assert out[1] == [0.0] * 4
    assert out[2] == [1.0] * 4
    assert all(abs(v - 0.5) < 1e-3 for v in out[3])


# ------------------------------------------------------------- JPEG
# Baseline codec (VERDICT r6 item 6): encoder + decoder are both ours
# (ITU-T T.81), so round-trip bounds are exact quantization arithmetic
# — a uniform quant table q bounds each DCT coefficient error by q/2.


def _grad_gray(h, w, base=0):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    return ((base + yy * 7 + xx * 5) % 256).astype(np.uint8)


def test_jpeg_flat_gray_exact():
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        decode_jpeg,
        encode_baseline_jpeg,
        parse_media_header,
    )

    img = np.full((8, 8), 100, dtype=np.uint8)
    jb = encode_baseline_jpeg(img)
    assert parse_media_header(jb) == ("image", "jpeg", 8, 8, None)
    w, h, nch, pix = decode_jpeg(jb)
    assert (w, h, nch) == (8, 8, 1)
    # a flat block quantizes to a single DC value: bit-exact
    assert set(pix) == {100}


def test_jpeg_gray_roundtrip_nonmultiple_dims():
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        decode_jpeg,
        encode_baseline_jpeg,
    )

    img = _grad_gray(13, 21)
    w, h, nch, pix = decode_jpeg(encode_baseline_jpeg(img, quant=8))
    assert (w, h, nch) == (21, 13, 1)
    dec = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(13, 21)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 16


def test_jpeg_rgb_444_and_420_roundtrip():
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        decode_jpeg,
        encode_baseline_jpeg,
    )

    yy, xx = np.mgrid[0:37, 0:29]
    img = np.stack(
        [(xx * 6) % 256, (yy * 4) % 256, ((xx + yy) * 3) % 256], axis=-1
    ).astype(np.uint8)
    for sub, tol in ((False, 16), (True, 24)):
        w, h, nch, pix = decode_jpeg(
            encode_baseline_jpeg(img, quant=8, subsample=sub)
        )
        assert (w, h, nch) == (29, 37, 3)
        dec = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(37, 29, 3)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol


def test_jpeg_restart_markers_roundtrip():
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        decode_jpeg,
        encode_baseline_jpeg,
    )

    img = _grad_gray(24, 40)
    plain = decode_jpeg(encode_baseline_jpeg(img, quant=16))
    rst = decode_jpeg(
        encode_baseline_jpeg(img, quant=16, restart_interval=2)
    )
    # restart markers change the byte stream, not the decoded pixels
    assert plain == rst
    dec = np.frombuffer(bytes(rst[3]), dtype=np.uint8).reshape(24, 40)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 32


def test_jpeg_non_baseline_raises():
    from wimbd_spark.operators.multimodal import (
        decode_jpeg,
        encode_baseline_jpeg,
    )

    jb = bytearray(encode_baseline_jpeg(_grad_gray(8, 8)))
    i = jb.index(b"\xff\xc0")
    jb[i + 1] = 0xC2  # flip SOF0 → SOF2 (progressive)
    with pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg(bytes(jb))
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")


def test_jpeg_feature_extraction_df(spark):
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        encode_baseline_jpeg,
        extract_features,
        sniff_media_meta,
    )

    dark = encode_baseline_jpeg(np.full((8, 8), 20, dtype=np.uint8))
    light = encode_baseline_jpeg(np.full((8, 8), 235, dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(dark)), (2, bytearray(light))],
        "doc_id long, payload binary",
    )
    meta = {r["doc_id"]: r for r in sniff_media_meta(df).collect()}
    assert meta[1]["format"] == "jpeg" and meta[1]["width"] == 8
    feats = {
        r["doc_id"]: r["features"]
        for r in extract_features(df, dim=4, deterministic_fake=False).collect()
    }
    assert all(abs(v - 20 / 255) < 0.02 for v in feats[1])
    assert all(abs(v - 235 / 255) < 0.02 for v in feats[2])


def test_jpeg_property_roundtrip_bounded():
    """Property (hypothesis): for ARBITRARY uint8 content and dims,
    gray round-trip error is bounded by quantization arithmetic.
    Soundness of the bound: each DCT coefficient is off by ≤ q/2, and
    the 8×8 IDCT's worst-case amplification of a coefficient-wise
    bound is (Σ|c_k|)² ≈ 14.9, so max pixel error ≤ ~7.5q (+1
    rounding); mean error is empirically ~q/4, asserted at ≤ 2q —
    a broken decode of random content scores mean ~64+."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from wimbd_spark.operators.multimodal import (
        decode_jpeg,
        encode_baseline_jpeg,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        q=st.sampled_from([4, 8, 16]),
        ri=st.sampled_from([0, 1, 3]),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(h, w, q, ri, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        dw, dh, nch, pix = decode_jpeg(
            encode_baseline_jpeg(img, quant=q, restart_interval=ri)
        )
        assert (dw, dh, nch) == (w, h, 1)
        dec = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(h, w)
        err = np.abs(dec.astype(int) - img.astype(int))
        assert err.max() <= 8 * q + 1
        assert err.mean() <= 2 * q

    prop()


def _make_bmp(px, bottom_up=True, bpp=24):
    """Minimal 24/32-bit BI_RGB BMP writer (test fixture): px is
    (h, w, 3) RGB uint8."""
    import struct as _s

    import numpy as np

    h, w, _ = px.shape
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = []
    order = range(h - 1, -1, -1) if bottom_up else range(h)
    for y in order:
        row = bytearray()
        for x in range(w):
            r, g, b = (int(v) for v in px[y, x])
            row += bytes([b, g, r] + ([0] if nch == 4 else []))
        row += b"\x00" * (stride - len(row))
        rows.append(bytes(row))
    data = b"".join(rows)
    hsig = h if bottom_up else -h
    info = _s.pack("<IiiHHIIiiII", 40, w, hsig, 1, bpp, 0, len(data),
                   2835, 2835, 0, 0)
    off = 14 + len(info)
    hdr = b"BM" + _s.pack("<IHHI", off + len(data), 0, 0, off)
    return hdr + info + data


def test_bmp_decode_roundtrip():
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        decode_bmp,
        parse_media_header,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    for bottom_up in (True, False):
        for bpp in (24, 32):
            b = _make_bmp(px, bottom_up=bottom_up, bpp=bpp)
            assert parse_media_header(b)[:4] == ("image", "bmp", 3, 5)
            w, h, nch, pix = decode_bmp(b)
            assert (w, h, nch) == (3, 5, 3)
            dec = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(5, 3, 3)
            assert (dec == px).all()  # lossless — bit-exact both layouts
    with pytest.raises(NotImplementedError):
        b = bytearray(_make_bmp(px))
        b[30] = 1  # BI_RLE8
        decode_bmp(bytes(b))


def test_bmp_feature_extraction_df(spark):
    import numpy as np

    from wimbd_spark.operators.multimodal import extract_features

    white = _make_bmp(np.full((4, 4, 3), 255, dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(white))], "doc_id long, payload binary"
    )
    feats = extract_features(df, dim=2, deterministic_fake=False).collect()
    assert feats[0]["features"] == [1.0, 1.0]


def _make_gif(indices, palette, w, h):
    """Minimal GIF89a writer using the classic 'uncompressed LZW'
    technique: a Clear code before every pixel code keeps the
    dictionary empty so codes stay literal palette indices (spec-valid
    output any conforming decoder accepts)."""
    import struct as _s

    nbits = max(2, (len(palette) - 1).bit_length())
    gct_field = 0x80 | (nbits - 1)
    out = bytearray(b"GIF89a")
    out += _s.pack("<HH", w, h) + bytes([gct_field, 0, 0])
    for r, g, b in palette:
        out += bytes([r, g, b])
    out += bytes(3 * ((1 << nbits) - len(palette)))  # pad color table
    out += b"\x2c" + _s.pack("<HHHH", 0, 0, w, h) + b"\x00"
    clear, eoi, width = 1 << nbits, (1 << nbits) + 1, nbits + 1
    acc = accbits = 0
    codes = []
    for px in indices:
        codes += [clear, px]
    codes.append(eoi)
    data = bytearray()
    for c in codes:
        acc |= c << accbits
        accbits += width
        while accbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8
    if accbits:
        data.append(acc & 0xFF)
    out += bytes([nbits])
    for off in range(0, len(data), 255):
        chunk = data[off : off + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decode_roundtrip():
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        decode_gif,
        parse_media_header,
    )

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    idx = [0, 1, 2, 3, 3, 2, 1, 0, 0, 1, 2, 3]  # 4x3
    gb = _make_gif(idx, palette, 4, 3)
    assert parse_media_header(gb)[:4] == ("image", "gif", 4, 3)
    w, h, nch, pix = decode_gif(gb)
    assert (w, h, nch) == (4, 3, 3)
    dec = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(12, 3)
    assert [tuple(p) for p in dec] == [palette[i] for i in idx]


def test_gif_lzw_real_compression_path():
    """Exercise the dictionary-building LZW branch (not just the
    clear-code-per-pixel fixture): encode a run-heavy index stream
    WITHOUT interleaved clears so the decoder must grow the table."""
    import struct as _s

    import numpy as np

    from wimbd_spark.operators.multimodal import decode_gif

    # encoder with a real LZW dictionary (public algorithm)
    w, h, nbits = 8, 4, 2
    idx = [0, 0, 1, 1, 0, 0, 1, 1] * 4
    clear, eoi = 1 << nbits, (1 << nbits) + 1
    table = {bytes([c]): c for c in range(clear)}
    next_code, width = eoi + 1, nbits + 1
    codes = [clear]
    s = b""
    for px in idx:
        t = s + bytes([px])
        if t in table:
            s = t
        else:
            codes.append(table[s])
            table[t] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
            s = bytes([px])
    codes.append(table[s])
    codes.append(eoi)
    acc = accbits = 0
    data = bytearray()
    width = nbits + 1
    emitted = 0
    # re-walk to pack with the width the DECODER will use at each step
    table_size = eoi + 1
    for c in codes:
        acc |= c << accbits
        accbits += width
        while accbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8
        if c == clear:
            table_size, width = eoi + 1, nbits + 1
        elif c != eoi:
            if emitted > 0:
                table_size += 1
                if table_size == (1 << width) and width < 12:
                    width += 1
            emitted += 1
    if accbits:
        data.append(acc & 0xFF)
    palette = [(0, 0, 0), (255, 255, 255), (9, 9, 9), (7, 7, 7)]
    out = bytearray(b"GIF89a") + _s.pack("<HH", w, h) + bytes(
        [0x80 | (nbits - 1), 0, 0]
    )
    for r, g, b in palette:
        out += bytes([r, g, b])
    out += b"\x2c" + _s.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out += bytes([nbits, len(data)]) + data + b"\x00\x3b"
    dw, dh, nch, pix = decode_gif(bytes(out))
    dec = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(h * w, 3)
    assert [tuple(p) for p in dec] == [palette[i] for i in idx]


def test_gif_feature_extraction_df(spark):
    from wimbd_spark.operators.multimodal import extract_features

    white = _make_gif([0] * 4, [(255, 255, 255)], 2, 2)
    df = spark.createDataFrame(
        [(1, bytearray(white))], "doc_id long, payload binary"
    )
    feats = extract_features(df, dim=2, deterministic_fake=False).collect()
    assert feats[0]["features"] == [1.0, 1.0]


def test_jpeg_fill_bytes_before_markers():
    """Spec-legal 0xFF fill bytes before a marker (T.81 B.1.1.2) must
    not derail segment walking in either the sniffer or the decoder."""
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        decode_jpeg,
        encode_baseline_jpeg,
        parse_media_header,
    )

    img = _grad_gray(9, 11)
    jb = encode_baseline_jpeg(img, quant=8)
    # inject fill bytes right after SOI, before the first marker
    padded = jb[:2] + b"\xff\xff\xff" + jb[2:]
    assert parse_media_header(padded)[:4] == ("image", "jpeg", 11, 9)
    w, h, nch, pix = decode_jpeg(padded)
    assert (w, h, nch) == (11, 9, 1)
    dec = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(9, 11)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 16


def test_extract_features_on_error_null(spark):
    """Per-row isolation: one undecodable payload must not abort the
    job in on_error='null' mode (real-corpus contract); the default
    stays loud."""
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        encode_baseline_jpeg,
        extract_features,
    )

    good = encode_baseline_jpeg(np.full((8, 8), 235, dtype=np.uint8))
    progressive = bytearray(good)
    i = progressive.index(b"\xff\xc0")
    progressive[i + 1] = 0xC2  # SOF2 — decode raises NotImplementedError
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytes(progressive)), (3, b"junk")],
        "doc_id long, payload binary",
    )
    rows = {
        r["doc_id"]: r["features"]
        for r in extract_features(
            df, dim=2, deterministic_fake=False, on_error="null"
        ).collect()
    }
    assert all(abs(v - 235 / 255) < 0.02 for v in rows[1])
    assert rows[2] is None and rows[3] is None
    with pytest.raises(Exception):  # default on_error='raise' stays loud
        extract_features(df, dim=2, deterministic_fake=False).collect()
    with pytest.raises(ValueError, match="on_error"):
        extract_features(df, on_error="skip")


def test_resize_image_real_roundtrip(spark):
    """resize_image: real decode -> box downsample -> baseline-JPEG
    re-encode, aspect preserved, never upscaled; output decodable by
    this module's own JPEG decoder with bounded reconstruction error
    on flat images; on_error='null' isolates undecodable rows."""
    import numpy as np

    from wimbd_spark.operators.multimodal import (
        decode_jpeg,
        resize_image,
    )

    # 16x8 RGB PNG: left half dark (40), right half bright (200)
    h, w = 8, 16
    rows = []
    for _ in range(h):
        row = []
        for x in range(w):
            v = 40 if x < w // 2 else 200
            row += [v, v, v]
        rows.append(row)
    png = make_png(rows, color_type=2)
    media = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"not an image"))],
        "doc_id long, payload binary",
    )
    with __import__("pytest").raises(Exception):
        resize_image(media, max_side=4).collect()
    got = {
        r.doc_id: r
        for r in resize_image(
            media, max_side=4, quant=4, on_error="null"
        ).collect()
    }
    r1 = got[1]
    assert (r1.orig_width, r1.orig_height) == (16, 8)
    assert (r1.width, r1.height) == (4, 2)  # aspect preserved
    ww, hh, nch, pix = decode_jpeg(bytes(r1.payload))
    assert (ww, hh, nch) == (4, 2, 3)
    arr = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(2, 4, 3)
    # flat halves survive the resize + JPEG within quant error
    assert abs(int(arr[:, :2].mean()) - 40) <= 12
    assert abs(int(arr[:, 2:].mean()) - 200) <= 12
    # undecodable row isolated, not fatal
    r2 = got[2]
    assert r2.payload is None and r2.width is None
    # no upscale: small image keeps dims
    small = resize_image(
        media.filter("doc_id = 1"), max_side=64
    ).collect()[0]
    assert (small.width, small.height) == (16, 8)
