"""Real-decoder path for the multimodal plumbing: runs only where PIL is
installed (the CI container ships without it — the test skips there, which
is itself asserted by the fake-path oracle coverage staying green)."""

from __future__ import annotations

import pytest


def test_real_pil_decode_reports_true_dimensions(spark):
    """decode_features_real must report each image's actual pixel size —
    proving the Spark-side plumbing (binary column, Arrow batches, schema)
    carries real image bytes end to end, not just the deterministic fake."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from edgy_spark.operators.multimodal import decode_features_real

    rows = []
    want = {0: (3, 2), 1: (5, 7), 2: (1, 1)}
    for doc_id, (w, h) in want.items():
        buf = io.BytesIO()
        Image.new("RGB", (w, h), (doc_id * 40, 0, 0)).save(buf, format="PNG")
        payload = buf.getvalue()
        rows.append((doc_id, bytearray(payload), ("image/png", len(payload), "test")))
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, "
        "media_meta struct<mime:string, n_bytes:long, origin:string>",
    )
    got = {
        r["doc_id"]: (r["width"], r["height"])
        for r in decode_features_real(df).collect()
    }
    assert got == want


def test_real_decode_content_hash_matches_payload(spark):
    """content_md5/n_bytes come from the raw payload bytes, identical to the
    fake path's contract — so downstream dedup joins work unchanged
    whichever decoder produced the features."""
    pytest.importorskip("PIL")
    import hashlib
    import io

    from PIL import Image

    from edgy_spark.operators.multimodal import decode_features_real

    buf = io.BytesIO()
    Image.new("L", (4, 4), 128).save(buf, format="PNG")
    payload = buf.getvalue()
    df = spark.createDataFrame(
        [(7, bytearray(payload), ("image/png", len(payload), "t"))],
        "doc_id long, media binary, "
        "media_meta struct<mime:string, n_bytes:long, origin:string>",
    )
    row = decode_features_real(df).collect()[0]
    assert row["content_md5"] == hashlib.md5(payload).hexdigest()
    assert row["n_bytes"] == len(payload)


# ---------------------------------------------------------------------------
# r08: REAL decode that executes in THIS container — the pure-stdlib PNG
# codec (functions/png.py).  Filters and pixel math are cross-validated
# against the JVM's independent javax.imageio decoder (ships with the JDK),
# the same external-oracle trick the vendored protobuf runtime uses.
# ---------------------------------------------------------------------------


def _gradient_rows(w, h, ch, seed):
    rows = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            for c in range(ch):
                row.append((x * 7 + y * 13 + c * 31 + seed * 17) % 256)
        rows.append(bytes(row))
    return rows


def test_png_codec_roundtrip_and_filters():
    """Encoder->decoder round-trip, plus hand-filtered streams exercising
    every filter type (Sub/Up/Average/Paeth) against the reference
    unfilter algorithms from the spec."""
    import struct
    import zlib

    from edgy_spark.functions.png import decode_png, encode_png

    for w, h, ct in ((7, 5, 2), (1, 1, 2), (16, 3, 6), (9, 4, 0)):
        ch = {0: 1, 2: 3, 6: 4}[ct]
        rows = _gradient_rows(w, h, ch, ct)
        got = decode_png(encode_png(w, h, rows, color_type=ct))
        assert got == (w, h, ch, b"".join(rows))

    # re-encode the same image with each nontrivial filter type and check
    # the decoder recovers identical pixels
    w, h, ch = 6, 4, 3
    rows = _gradient_rows(w, h, ch, 9)
    flat = b"".join(rows)
    for f in (1, 2, 3, 4):
        filtered = bytearray()
        prev = bytes(w * ch)
        for r in rows:
            line = bytearray(r)
            if f == 1:
                for x in range(len(line) - 1, ch - 1, -1):
                    line[x] = (line[x] - line[x - ch]) & 0xFF
            elif f == 2:
                for x in range(len(line)):
                    line[x] = (line[x] - prev[x]) & 0xFF
            elif f == 3:
                for x in range(len(line) - 1, -1, -1):
                    a = line[x - ch] if x >= ch else 0
                    line[x] = (line[x] - ((a + prev[x]) >> 1)) & 0xFF
            elif f == 4:
                from edgy_spark.functions.png import _paeth

                for x in range(len(line) - 1, -1, -1):
                    a = line[x - ch] if x >= ch else 0
                    c = prev[x - ch] if x >= ch else 0
                    line[x] = (line[x] - _paeth(a, prev[x], c)) & 0xFF
            filtered += bytes([f]) + bytes(line)
            prev = r

        def chunk(tag, payload):
            return (
                struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
            )

        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(filtered)))
            + chunk(b"IEND", b"")
        )
        assert decode_png(png) == (w, h, ch, flat), f"filter {f}"


def test_png_codec_matches_jvm_imageio(spark):
    """Cross-engine oracle: the JDK's javax.imageio must decode our
    encoder's PNGs to the same dimensions AND the same pixels our decoder
    returns — an independent implementation agreeing on every byte."""
    from edgy_spark.functions.png import decode_png, encode_png

    jvm = spark._sc._jvm
    for w, h, seed in ((13, 7, 1), (5, 11, 2)):
        rows = _gradient_rows(w, h, 3, seed)
        png = encode_png(w, h, rows, color_type=2)
        bais = jvm.java.io.ByteArrayInputStream(png)
        img = jvm.javax.imageio.ImageIO.read(bais)
        assert (img.getWidth(), img.getHeight()) == (w, h)
        dw, dh, ch, px = decode_png(png)
        assert (dw, dh, ch) == (w, h, 3)
        for y in (0, h - 1):
            for x in (0, w - 1, w // 2):
                argb = img.getRGB(x, y)
                want = (
                    (argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF
                )
                i = (y * w + x) * 3
                assert tuple(px[i:i + 3]) == want, (x, y)


def test_decode_features_png_runs_real_decode_in_spark(spark):
    """The mapInPandas operator decodes REAL PNG pixels inside Python
    workers: true dimensions and a pixel-derived mean luma (values chosen
    so header-only parsing cannot fake it)."""
    from edgy_spark.functions.png import encode_png
    from edgy_spark.operators.multimodal import decode_features_png

    # two solid-color images: luma is knowable in closed form
    red = encode_png(4, 3, [b"\xff\x00\x00" * 4] * 3, color_type=2)   # luma 76
    grey = encode_png(2, 5, [b"\x80" * 2] * 5, color_type=0)          # luma 128
    df = spark.createDataFrame(
        [(1, bytearray(red)), (2, bytearray(grey))], "doc_id long, media binary"
    ).repartition(2)
    got = {r["doc_id"]: r for r in decode_features_png(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["mean_luma"]) == (4, 3, 76)
    assert (got[2]["width"], got[2]["height"], got[2]["mean_luma"]) == (2, 5, 128)
    import hashlib

    assert got[1]["content_md5"] == hashlib.md5(red).hexdigest()


def test_png_codec_property_roundtrip():
    """Hypothesis: any 8-bit image (grey/grey+alpha/RGB/RGBA, arbitrary
    pixel bytes, arbitrary small dimensions) survives encode->decode
    bit-exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from edgy_spark.functions.png import decode_png, encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 10),
        ct=st.sampled_from([0, 2, 4, 6]),
        data=st.data(),
    )
    def check(w, h, ct, data):
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
        rows = [
            bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255), min_size=w * ch, max_size=w * ch
                    )
                )
            )
            for _ in range(h)
        ]
        assert decode_png(encode_png(w, h, rows, color_type=ct)) == (
            w, h, ch, b"".join(rows)
        )

    check()


def test_png_decode_rejects_zero_dimensions():
    """Review r08: a crafted zero-width IHDR must raise the documented
    ValueError, not surface later as ZeroDivisionError in pixel math."""
    import struct
    import zlib

    import pytest as _pytest

    from edgy_spark.functions.png import decode_png, encode_png

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    crafted = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="zero-dimension"):
        decode_png(crafted)
    with _pytest.raises(ValueError, match="zero-dimension"):
        encode_png(0, 1, [], color_type=2)


def test_png_codec_grey_alpha_and_16bit_roundtrip():
    """r09 scope extensions: grey+alpha (color type 4) and 16-bit depth.
    8-bit images round-trip bit-exactly; 16-bit images decode to each
    sample's most-significant byte (documented reduction)."""
    from edgy_spark.functions.png import decode_png, encode_png

    # grey+alpha, 8-bit: exact round-trip
    w, h = 9, 4
    rows = _gradient_rows(w, h, 2, 3)
    assert decode_png(encode_png(w, h, rows, color_type=4)) == (
        w, h, 2, b"".join(rows)
    )

    # 16-bit greyscale: MSB reduction
    w, h = 5, 3
    rows16 = []
    vals = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            v = (x * 4099 + y * 257 * 31) % 65536
            vals.append(v)
            row += v.to_bytes(2, "big")
        rows16.append(bytes(row))
    got = decode_png(encode_png(w, h, rows16, color_type=0, depth=16))
    assert got == (w, h, 1, bytes(v >> 8 for v in vals))

    # 16-bit RGB: the filter offset must be the BYTE width of a pixel (6),
    # exercised through the round-trip (filter 0) shape here and against
    # the JVM's filtered re-encodes in the cross-validation test below
    w, h = 4, 2
    rgb16 = [bytes((x * 37 + y * 11 + c) % 256 for x in range(w) for c in range(6))
             for y in range(h)]
    dw, dh, ch, px = decode_png(encode_png(w, h, rgb16, color_type=2, depth=16))
    assert (dw, dh, ch) == (w, h, 3)
    assert px == b"".join(r[0::2] for r in rgb16)


def test_png_codec_grey_alpha_and_16bit_match_jvm(spark):
    """Cross-engine oracle for the r09 extensions: javax.imageio agrees on
    grey+alpha pixels/alpha and on 16-bit raster samples (compared at the
    high byte, our documented 16->8 reduction)."""
    from edgy_spark.functions.png import decode_png, encode_png

    jvm = spark._sc._jvm

    # grey+alpha
    w, h = 7, 5
    rows = _gradient_rows(w, h, 2, 5)
    png = encode_png(w, h, rows, color_type=4)
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(png))
    assert (img.getWidth(), img.getHeight()) == (w, h)
    dw, dh, ch, px = decode_png(png)
    assert (dw, dh, ch) == (w, h, 2)
    raster = img.getRaster()
    for y in (0, h - 1):
        for x in (0, w // 2, w - 1):
            i = (y * w + x) * 2
            assert raster.getSample(x, y, 0) == px[i]      # grey
            assert raster.getSample(x, y, 1) == px[i + 1]  # alpha

    # 16-bit greyscale, including a JVM-side filtered image: re-encode via
    # ImageIO (its encoder picks its own scanline filters) and decode THAT
    w, h = 11, 6
    rows16 = [
        bytes(
            b
            for x in range(w)
            for b in (((x * 4099 + y * 31) % 65536).to_bytes(2, "big"))
        )
        for y in range(h)
    ]
    png16 = encode_png(w, h, rows16, color_type=0, depth=16)
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(png16))
    assert (img.getWidth(), img.getHeight()) == (w, h)
    dw, dh, ch, px = decode_png(png16)
    raster = img.getRaster()
    for y in range(h):
        for x in range(w):
            assert raster.getSample(x, y, 0) >> 8 == px[y * w + x], (x, y)

    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
    reenc = bytes(baos.toByteArray())
    dw2, dh2, ch2, px2 = decode_png(reenc)
    assert (dw2, dh2, ch2, px2) == (dw, dh, ch, px)


def test_decode_features_png_grey_alpha_luma_ignores_alpha(spark):
    """review r09: the r09 codec returns ch=2 for grey+alpha, and the
    luma branch must average the GREY plane only — summing interleaved
    alpha bytes gave out-of-range lumas (grey 10 + alpha 255 -> 265)."""
    from edgy_spark.functions.png import encode_png
    from edgy_spark.operators.multimodal import decode_features_png

    ga = encode_png(3, 2, [bytes([10, 255] * 3)] * 2, color_type=4)
    df = spark.createDataFrame([(1, bytearray(ga))], "doc_id long, media binary")
    row = decode_features_png(df).collect()[0]
    assert (row["width"], row["height"], row["mean_luma"]) == (3, 2, 10)


def test_phash_groups_are_byte_distinct_but_perceptually_equal(spark):
    """The perceptual claim behind multimodal_phash_dup_groups: documents in
    the same pattern group carry byte-DIFFERENT PNGs (per-doc brightness
    shift changes the compressed stream and its md5 — exact dedup misses
    them) yet hash to the SAME 64-bit aHash (the cross-multiplied bit test
    is shift-invariant)."""
    import hashlib

    from edgy_spark.functions.png import encode_png
    from edgy_spark.operators.multimodal import (
        PH_GROUPS,
        PH_SHIFT_SALT,
        multimodal_phash_dup_groups,
    )
    from tests.conftest import SF_SMOKE

    out = multimodal_phash_dup_groups(spark, SF_SMOKE).toPandas()
    assert (out["doc_id"] % PH_GROUPS == out["keeper_doc_id"] % PH_GROUPS).all()

    # pick one group that has >= 2 distinct shifts among its doc_ids
    by_group: dict[int, list[int]] = {}
    for doc_id in out["doc_id"]:
        by_group.setdefault(int(doc_id) % PH_GROUPS, []).append(int(doc_id))
    group = next(
        ids
        for ids in by_group.values()
        if len({(i * PH_SHIFT_SALT) % 3 for i in ids}) >= 2
    )

    def png_bytes(i: int) -> bytes:
        g = i % PH_GROUPS
        w, h = g % 13 + 8, (g * 5) % 11 + 8
        shift = (i * PH_SHIFT_SALT) % 3 - 1
        scan = [
            bytes((g * 41 + (y * w + x) * 23) % 254 + 1 + shift for x in range(w))
            for y in range(h)
        ]
        return encode_png(w, h, scan, color_type=0)

    md5s = {hashlib.md5(png_bytes(i)).hexdigest() for i in group}
    assert len(md5s) >= 2, "shifted variants should be byte-distinct"
    sub = out[out["doc_id"].isin(group)]
    assert sub["phash_hi"].nunique() == 1 and sub["phash_lo"].nunique() == 1


def test_png_adam7_interlaced_decodes_pixel_exact(spark):
    """Adam7 (r10): the JDK PNG writer's interlaced output (progressive
    write mode) must decode pixel-exactly — PNG is lossless, so every
    sample must equal the generator's, across shapes that exercise empty
    and partial passes (1x1 hits only pass 1; odd dims leave ragged pass
    widths), and the interlaced stream must agree byte-for-byte with the
    non-interlaced twin's decode."""
    from edgy_spark.functions.png import decode_png

    jvm = spark._sc._jvm

    def jvm_png(w, h, fn, gray, interlaced):
        img = jvm.java.awt.image.BufferedImage(w, h, 10 if gray else 1)
        if gray:
            raster = img.getRaster()
            for y in range(h):
                for x in range(w):
                    raster.setSample(x, y, 0, fn(x, y))
        else:
            for y in range(h):
                for x in range(w):
                    r, g, b = fn(x, y)
                    img.setRGB(x, y, (r << 16) | (g << 8) | b)
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "png"
        ).next()
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(ios)
        param = writer.getDefaultWriteParam()
        if interlaced:
            param.setProgressiveMode(
                jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT
            )
        writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
        ios.flush()
        writer.dispose()
        return bytes(baos.toByteArray())

    for gray in (True, False):
        fn = (
            (lambda x, y: (x * 9 + y * 17) % 256)
            if gray
            else (lambda x, y: ((x * 9) % 256, (y * 17) % 256, ((x + y) * 5) % 256))
        )
        for w, h in ((21, 13), (1, 1), (3, 2), (16, 9)):
            data = jvm_png(w, h, fn, gray, True)
            assert data[8 + 8 + 12] == 1  # IHDR interlace byte: Adam7
            dw, dh, ch, px = decode_png(data)
            assert (dw, dh) == (w, h)
            for y in range(h):
                for x in range(w):
                    if gray:
                        assert px[y * w + x] == fn(x, y), (gray, w, h, x, y)
                    else:
                        i = (y * w + x) * 3
                        assert tuple(px[i:i + 3]) == fn(x, y), (w, h, x, y)
            plain = jvm_png(w, h, fn, gray, False)
            assert decode_png(plain)[3] == px


def test_png_adam7_16bit_gray_matches_jvm(spark):
    """16-bit + Adam7 combined: the per-pass byte filtering uses bpp = 2
    and the scatter copies 2-byte pixels — the JDK's USHORT_GRAY writer in
    progressive mode emits exactly this shape, and every decoded MSB must
    equal the generator's high byte."""
    from edgy_spark.functions.png import decode_png

    jvm = spark._sc._jvm
    w, h = 13, 9
    img = jvm.java.awt.image.BufferedImage(w, h, 11)  # TYPE_USHORT_GRAY
    raster = img.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, (x * 4099 + y * 257) % 65536)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.flush()
    writer.dispose()
    data = bytes(baos.toByteArray())
    assert data[8 + 8 + 8] == 16 and data[8 + 8 + 12] == 1  # depth, Adam7
    dw, dh, ch, px = decode_png(data)
    assert (dw, dh, ch) == (w, h, 1)
    for y in range(h):
        for x in range(w):
            assert px[y * w + x] == ((x * 4099 + y * 257) % 65536) >> 8


def test_png_palette_roundtrip_all_depths():
    """Palette (color type 3, r11): encode→decode at every legal palette
    depth must expand each MSB-first-packed index through PLTE to the
    exact RGB triple.  Widths are chosen so the final scanline byte is
    partially filled at every sub-byte depth (padding path, spec 7.2)."""
    from edgy_spark.functions.png import decode_png, encode_png

    for depth, w, h in ((1, 9, 4), (2, 5, 3), (4, 3, 6), (8, 7, 2)):
        n = 1 << depth
        pal = bytes(
            c for j in range(n) for c in ((j * 37) % 256, (j * 59) % 256, (j * 83) % 256)
        )
        rows = [bytes((x + y * 3) % n for x in range(w)) for y in range(h)]
        dw, dh, ch, px = decode_png(
            encode_png(w, h, rows, color_type=3, depth=depth, palette=pal)
        )
        assert (dw, dh, ch) == (w, h, 3), depth
        for y in range(h):
            for x in range(w):
                j = (x + y * 3) % n
                i = (y * w + x) * 3
                assert tuple(px[i:i + 3]) == tuple(pal[j * 3:j * 3 + 3]), (depth, x, y)


def test_png_palette_trns_alpha_expansion():
    """A partial tRNS chunk gives per-entry alpha for its prefix and
    opaque (255) for every later entry (spec 11.3.2); output becomes
    4-channel RGBA."""
    from edgy_spark.functions.png import decode_png, encode_png

    pal = bytes(c for j in range(4) for c in (j * 10, j * 20, j * 30))
    trns = bytes([0, 128])  # entries 2 and 3 default opaque
    rows = [bytes([0, 1, 2, 3]), bytes([3, 2, 1, 0])]
    dw, dh, ch, px = decode_png(
        encode_png(4, 2, rows, color_type=3, depth=2, palette=pal, trns=trns)
    )
    assert (dw, dh, ch) == (4, 2, 4)
    for p, j in enumerate([0, 1, 2, 3, 3, 2, 1, 0]):
        want = (j * 10, j * 20, j * 30, trns[j] if j < 2 else 255)
        assert tuple(px[p * 4:p * 4 + 4]) == want, p


def test_png_palette_validation_errors():
    """Malformed palette inputs raise the documented ValueErrors: an
    index past the PLTE, a missing PLTE, a 16-bit palette depth."""
    import pytest as _pytest

    from edgy_spark.functions.png import decode_png, encode_png

    pal = bytes(range(12))  # 4 entries
    with _pytest.raises(ValueError, match="index out of range"):
        encode_png(2, 1, [bytes([0, 7])], color_type=3, depth=2, palette=pal)
    with _pytest.raises(ValueError, match="bit depth"):
        encode_png(2, 1, [bytes([0, 1])], color_type=3, depth=16, palette=pal)
    ok = encode_png(2, 1, [bytes([0, 1])], color_type=3, depth=2, palette=pal)
    # strip the PLTE chunk: palette stream without a palette must raise
    import struct as _struct

    i, out = 8, bytearray(ok[:8])
    while i < len(ok):
        (ln,) = _struct.unpack(">I", ok[i:i + 4])
        if ok[i + 4:i + 8] != b"PLTE":
            out.extend(ok[i:i + 12 + ln])
        i += 12 + ln
    with _pytest.raises(ValueError, match="missing PLTE"):
        decode_png(bytes(out))


def _jvm_indexed_png(jvm, w, h, bits, pal_rgb, idx_fn, interlaced):
    """Write an indexed-color PNG with the JDK: an IndexColorModel of
    ``2**bits`` entries over a TYPE_BYTE_BINARY/TYPE_BYTE_INDEXED raster.
    The JDK PNG writer emits color type 3 at the model's bit depth."""
    n = 1 << bits
    r = bytearray(pal_rgb[j * 3] for j in range(n))
    g = bytearray(pal_rgb[j * 3 + 1] for j in range(n))
    b = bytearray(pal_rgb[j * 3 + 2] for j in range(n))
    icm = jvm.java.awt.image.IndexColorModel(bits, n, r, g, b)
    # TYPE_BYTE_BINARY covers 1/2/4-bit rasters; TYPE_BYTE_INDEXED is 8
    img_type = 13 if bits == 8 else 12
    img = jvm.java.awt.image.BufferedImage(w, h, img_type, icm)
    raster = img.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, idx_fn(x, y))
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    param = writer.getDefaultWriteParam()
    if interlaced:
        param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.flush()
    writer.dispose()
    return bytes(baos.toByteArray())


def test_png_palette_matches_jvm_imageio(spark):
    """Cross-engine oracle for indexed color: the JDK's own PNG writer
    produces the palette stream (PLTE + sub-byte packing chosen by the
    JDK, not by our encoder), at 2/4/8-bit depths, plain AND
    Adam7-interlaced — our decoder must reproduce getRGB everywhere."""
    from edgy_spark.functions.png import decode_png

    jvm = spark._sc._jvm
    for bits, w, h in ((2, 9, 5), (4, 11, 7), (8, 13, 6)):
        n = 1 << bits
        pal = bytes(
            c for j in range(n) for c in ((j * 41 + 7) % 256, (j * 67 + 11) % 256, (j * 29 + 3) % 256)
        )
        idx_fn = lambda x, y: (x * 3 + y * 5) % n  # noqa: E731
        for interlaced in (False, True):
            data = _jvm_indexed_png(jvm, w, h, bits, pal, idx_fn, interlaced)
            # IHDR: color type 3 at the model's depth; interlace as asked
            assert data[8 + 8 + 9] == 3 and data[8 + 8 + 8] == bits
            assert data[8 + 8 + 12] == (1 if interlaced else 0)
            dw, dh, ch, px = decode_png(data)
            assert (dw, dh, ch) == (w, h, 3), (bits, interlaced)
            bais = jvm.java.io.ByteArrayInputStream(data)
            img = jvm.javax.imageio.ImageIO.read(bais)
            for y in range(h):
                for x in range(w):
                    argb = img.getRGB(x, y)
                    want = ((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF)
                    i = (y * w + x) * 3
                    assert tuple(px[i:i + 3]) == want, (bits, interlaced, x, y)


# ---------------------------------------------------------------------------
# GIF (r11): from-spec LZW decode, cross-validated against javax.imageio
# ---------------------------------------------------------------------------

def test_gif_decoder_reads_jdk_written_gifs(spark):
    """The JDK's GIF WRITER emits genuinely LZW-compressed streams (with
    real table growth, not our root-code technique) — our decoder must
    reproduce getRGB pixel-exactly (GIF is lossless)."""
    from edgy_spark.functions.gif import decode_gif

    jvm = spark._sc._jvm
    for w, h in ((23, 11), (64, 40), (1, 1)):
        img = jvm.java.awt.image.BufferedImage(w, h, 13)  # TYPE_BYTE_INDEXED
        for y in range(h):
            for x in range(w):
                # smooth gradient: long LZW runs exercise table growth
                v = ((x * 2 + y * 3) % 64) * 4
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(img, "gif", baos)
        data = bytes(baos.toByteArray())
        dw, dh, ch, px = decode_gif(data)
        assert (dw, dh, ch) == (w, h, 3)
        bais = jvm.java.io.ByteArrayInputStream(data)
        back = jvm.javax.imageio.ImageIO.read(bais)
        for y in range(h):
            for x in range(w):
                argb = back.getRGB(x, y)
                want = ((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF)
                o = (y * w + x) * 3
                assert tuple(px[o:o + 3]) == want, (w, h, x, y)


def test_gif_encoder_streams_read_by_jdk(spark):
    """The no-compression encoder's output must be readable by the JVM's
    independent decoder to the same pixels ours decodes — including
    interlaced streams (the JDK reader de-interlaces internally)."""
    from edgy_spark.functions.gif import decode_gif, encode_gif

    jvm = spark._sc._jvm
    n, w, h = 16, 11, 7
    pal = bytes(c for j in range(n) for c in ((j * 41) % 256, (j * 67) % 256, (j * 29) % 256))
    rows = [bytes((x + y * 2) % n for x in range(w)) for y in range(h)]
    for interlaced in (False, True):
        data = encode_gif(w, h, rows, pal, interlaced=interlaced)
        dw, dh, ch, px = decode_gif(data)
        assert (dw, dh, ch) == (w, h, 3)
        bais = jvm.java.io.ByteArrayInputStream(data)
        img = jvm.javax.imageio.ImageIO.read(bais)
        assert (img.getWidth(), img.getHeight()) == (w, h)
        for y in range(h):
            for x in range(w):
                argb = img.getRGB(x, y)
                want = ((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF)
                o = (y * w + x) * 3
                assert tuple(px[o:o + 3]) == want, (interlaced, x, y)


def test_gif_lzw_deferred_clear_and_errors():
    """Spec edges: a stream whose table saturates at 4096 keeps decoding
    at 12 bits (deferred clear); malformed inputs raise the documented
    ValueErrors."""
    import pytest as _pytest

    from edgy_spark.functions.gif import decode_gif, encode_gif

    # big smooth image through the JDK is covered above; here force the
    # error paths
    pal6 = bytes(range(6))  # 2 entries
    with _pytest.raises(ValueError, match="power-of-two"):
        encode_gif(1, 1, [b"\x00"], bytes(range(9)))
    with _pytest.raises(ValueError, match="out of palette"):
        encode_gif(2, 1, [bytes([0, 5])], pal6)
    ok = encode_gif(2, 1, [bytes([0, 1])], pal6)
    with _pytest.raises(ValueError, match="bad signature"):
        decode_gif(b"NOTGIF" + ok[6:])
    with _pytest.raises(ValueError, match="no image data"):
        decode_gif(ok[:13] + ok[13:19] + b"\x3b")


def test_gif_codec_property_roundtrip():
    """Hypothesis: any indexed image (palette of 2/4/16/256 entries,
    arbitrary indices, arbitrary small dimensions, interlaced or not,
    with or without a transparent index) survives encode->decode to the
    exact palette expansion."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from edgy_spark.functions.gif import decode_gif, encode_gif

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(1, 14),
        h=st.integers(1, 11),
        n=st.sampled_from([2, 4, 16, 256]),
        interlaced=st.booleans(),
        use_trans=st.booleans(),
        data=st.data(),
    )
    def check(w, h, n, interlaced, use_trans, data):
        pal = bytes(
            data.draw(st.lists(st.integers(0, 255), min_size=3 * n, max_size=3 * n))
        )
        rows = [
            bytes(data.draw(st.lists(st.integers(0, n - 1), min_size=w, max_size=w)))
            for _ in range(h)
        ]
        trans = data.draw(st.integers(0, n - 1)) if use_trans else None
        dw, dh, ch, px = decode_gif(
            encode_gif(w, h, rows, pal, transparent=trans, interlaced=interlaced)
        )
        assert (dw, dh, ch) == (w, h, 3 if trans is None else 4)
        for p, v in enumerate(b"".join(rows)):
            o = p * ch
            assert px[o:o + 3] == pal[v * 3:v * 3 + 3]
            if ch == 4:
                assert px[o + 3] == (0 if v == trans else 255)

    check()


def test_gif_lzw_deferred_clear_table_saturation():
    """A TRUE-LZW stream (dictionary-building encoder, no CLEAR after the
    initial one) whose table saturates at 4096 entries must keep decoding
    at frozen 12-bit width until the data ends — the deferred-clear shape
    modern encoders emit.  The encoder here is written independently in
    the test (greedy longest-match LZW per Appendix F), so the decoder is
    not checked against its own inverse."""
    import struct as _struct

    from edgy_spark.functions.gif import decode_gif

    w, h = 200, 120  # 24000 high-entropy pixels: table saturates past 4096
    pix = bytes((x * 37 + y * 101 + (x * y) % 13) % 256 for y in range(h) for x in range(w))

    min_code = 8
    clear, eoi = 256, 257
    out_codes = []
    table = {bytes([i]): i for i in range(256)}
    next_code = eoi + 1
    out_codes.append(clear)
    cur = b""
    for b in pix:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        out_codes.append(table[cur])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
        # no CLEAR: past 4096 the table freezes (deferred clear)
        cur = bytes([b])
    out_codes.append(table[cur])
    out_codes.append(eoi)
    assert next_code == 4096, "fixture too small: table never saturated"

    # pack with the DECODER's width schedule: width grows when ITS table
    # size (next_code here mirrors it) reaches 1 << width, capped at 12
    packed = bytearray()
    acc = nbits = 0
    width = min_code + 1
    size = eoi + 1
    first_after_clear = True  # the decoder appends NO entry for this code
    for code in out_codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if code == clear:
            size = eoi + 1
            width = min_code + 1
            first_after_clear = True
        elif code != eoi:
            if first_after_clear:
                first_after_clear = False
            elif size < 4096:
                size += 1
            if size == (1 << width) and width < 12:
                width += 1
    if nbits:
        packed.append(acc & 0xFF)

    pal = bytes(c for j in range(256) for c in ((j * 7) % 256, (j * 11) % 256, (j * 13) % 256))
    gif = bytearray(b"GIF89a")
    gif += _struct.pack("<HHBBB", w, h, 0x87, 0, 0) + pal
    gif += _struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    gif += bytes([min_code])
    for i in range(0, len(packed), 255):
        chunk = packed[i:i + 255]
        gif += bytes([len(chunk)]) + chunk
    gif += b"\x00\x3b"

    dw, dh, ch, px = decode_gif(bytes(gif))
    assert (dw, dh, ch) == (w, h, 3)
    for p, v in enumerate(pix):
        assert px[p * 3:p * 3 + 3] == pal[v * 3:v * 3 + 3], p


def test_gif_premature_eoi_raises():
    """An LZW stream ending (EOI or data exhaustion) before w*h pixels
    must raise, never zero-fill — truncated pixels silently corrupt
    corpus statistics (review r11b)."""
    import struct as _struct

    import pytest as _pytest

    from edgy_spark.functions.gif import decode_gif, encode_gif

    pal = bytes(range(12))  # 4 entries
    ok = encode_gif(4, 2, [bytes([0, 1, 2, 3])] * 2, pal)
    # patch the image descriptor's height 2 -> 4: now 16 pixels declared,
    # 8 encoded.  descriptor is at offset 13 + 12 (palette): <BHHHHB
    desc_off = 13 + 12
    assert ok[desc_off] == 0x2C
    bad = bytearray(ok)
    bad[desc_off + 7:desc_off + 9] = _struct.pack("<H", 4)
    with _pytest.raises(ValueError, match="before all pixels"):
        decode_gif(bytes(bad))


def test_gif_animation_frames_match_jvm(spark):
    """Multi-frame GIFs both ways: the JDK's sequence WRITER produces a
    real animation our frame iterator must decode per-frame pixel-exactly,
    and OUR animation encoder's streams must read back frame-for-frame in
    the JDK (getNumImages + read(i))."""
    from edgy_spark.functions.gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    jvm = spark._sc._jvm
    w, h, n_frames = 9, 7, 3

    # direction 1: JDK writeToSequence -> our decoder
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(None)
    for f in range(n_frames):
        img = jvm.java.awt.image.BufferedImage(w, h, 13)  # TYPE_BYTE_INDEXED
        for y in range(h):
            for x in range(w):
                v = ((x * 3 + y * 5 + f * 11) % 32) * 8
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
        writer.writeToSequence(jvm.javax.imageio.IIOImage(img, None, None), None)
    writer.endWriteSequence()
    ios.flush()
    writer.dispose()
    data = bytes(baos.toByteArray())
    frames = decode_gif_frames(data)
    assert len(frames) == n_frames
    # TYPE_BYTE_INDEXED quantizes to the JDK's fixed palette, so the
    # authority is the JDK's own per-frame read-back, not the generator
    reader0 = jvm.javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    bais0 = jvm.java.io.ByteArrayInputStream(data)
    iis0 = jvm.javax.imageio.ImageIO.createImageInputStream(bais0)
    reader0.setInput(iis0)
    assert reader0.getNumImages(True) == n_frames
    for f, (fw, fh, ch, px) in enumerate(frames):
        assert (fw, fh, ch) == (w, h, 3), f
        img = reader0.read(f)
        for y in range(h):
            for x in range(w):
                argb = img.getRGB(x, y)
                want = ((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF)
                o = (y * w + x) * 3
                assert tuple(px[o:o + 3]) == want, (f, x, y)
    reader0.dispose()

    # direction 2: our animation encoder -> JDK reader, frame by frame
    pal = bytes(c for j in range(16) for c in ((j * 31) % 256, (j * 53) % 256, (j * 17) % 256))
    frames_idx = [
        [bytes((x + y + f) % 16 for x in range(w)) for y in range(h)]
        for f in range(n_frames)
    ]
    ours = encode_gif_animation(w, h, frames_idx, pal)
    reader = jvm.javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    bais = jvm.java.io.ByteArrayInputStream(ours)
    iis = jvm.javax.imageio.ImageIO.createImageInputStream(bais)
    reader.setInput(iis)
    assert reader.getNumImages(True) == n_frames
    for f in range(n_frames):
        img = reader.read(f)
        for y in range(h):
            for x in range(w):
                argb = img.getRGB(x, y)
                j = (x + y + f) % 16
                want = ((j * 31) % 256, (j * 53) % 256, (j * 17) % 256)
                got = ((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF)
                assert got == want, (f, x, y)
    reader.dispose()


def test_codec_fuzz_raises_only_valueerror():
    """Crawl-data robustness (r11): random truncations and byte flips of
    valid PNG/GIF/JPEG streams must either decode or raise ValueError /
    NotImplementedError — never IndexError/struct.error/zlib.error (which
    would crash a whole Spark task instead of being per-row capturable),
    and never attempt an implausible allocation (MAX_PIXELS)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from edgy_spark.functions.gif import decode_gif, encode_gif
    from edgy_spark.functions.jpeg import decode_jpeg, encode_jpeg_flat
    from edgy_spark.functions.png import decode_png, encode_png

    pal = bytes(c for j in range(16) for c in ((j * 31) % 256, j * 16 % 256, (j * 7) % 256))
    seeds = [
        (decode_png, encode_png(9, 7, [bytes((x * 29 + y) % 256 for x in range(27)) for y in range(7)], color_type=2)),
        (decode_gif, encode_gif(9, 7, [bytes((x + y) % 16 for x in range(9)) for y in range(7)], pal, interlaced=True)),
        (decode_jpeg, encode_jpeg_flat(16, 8, [40, 220])),
    ]

    @settings(max_examples=120, deadline=None)
    @given(
        which=st.integers(0, len(seeds) - 1),
        mode=st.sampled_from(["truncate", "flip", "both"]),
        cut=st.floats(0.01, 0.99),
        pos=st.floats(0, 0.999),
        val=st.integers(0, 255),
    )
    def check(which, mode, cut, pos, val):
        decode, stream = seeds[which]
        data = bytearray(stream)
        if mode in ("truncate", "both"):
            data = data[: max(1, int(len(data) * cut))]
        if mode in ("flip", "both") and data:
            data[int(len(data) * pos) % len(data)] = val
        try:
            w, h, ch, px = decode(bytes(data))
            assert len(px) == w * h * ch  # a "successful" decode is coherent
        except (ValueError, NotImplementedError):
            pass  # the only acceptable failure surface

    check()


def test_decode_operators_on_error_null_captures_per_row(spark):
    """The crawl contract of every ``on_error`` decode operator, pinned per
    lane over one valid, one truncated and one NULL payload:

    - ``'raise'`` (default) keeps the raise-mode schema and fails the job
      on the first malformed asset (ValueError from the codec, or the
      ``NULL media payload`` ValueError);
    - ``'null'`` appends ``decode_error``; a malformed asset becomes ONE
      row of NULL stats plus the message, valid rows are unaffected;
      image and mp3 lanes keep ``n_bytes``/``content_md5`` on error rows,
      a NULL payload has neither;
    - frame lanes with ``max_frames=0`` emit no rows at all, in either
      mode."""
    import hashlib

    import pytest as _pytest

    from edgy_spark.functions import flac, gif, jpeg, mp3, png, wav, webp
    from edgy_spark.operators import multimodal as mm

    def gray(v):
        return bytes((v, v, v, 255))

    image = ["width", "height", "mean_luma"]
    loudness = [
        "sample_rate", "channels", "n_frames",
        "duration_us", "peak_amplitude", "mean_square",
    ]
    frame = ["frame_idx", "width", "height", "mean_luma"]
    md5 = ["n_bytes", "content_md5"]
    pal = bytes(range(12))
    anim = gif.encode_gif_animation(2, 2, [[bytes([0, 1]), bytes([2, 3])]] * 3, pal)
    # (operator, valid payload, raise-mode columns after doc_id, max_frames?)
    lanes = [
        (mm.decode_features_png,
         png.encode_png(2, 2, [b"\x80\x80", b"\x40\x40"], color_type=0),
         md5 + image, False),
        (mm.decode_features_jpeg, jpeg.encode_jpeg_flat(16, 8, [40, 220]),
         md5 + image, False),
        (mm.decode_features_wav, wav.encode_wav(8000, 1, [5, -5, 100]),
         loudness, False),
        (mm.decode_features_gif,
         gif.encode_gif(2, 2, [bytes([0, 1]), bytes([2, 3])], pal),
         md5 + image, False),
        (mm.decode_features_webp,
         webp.encode_webp_lossless(2, 2, bytes(range(16))), md5 + image, False),
        (mm.decode_features_webp_lossy,
         webp.encode_webp_lossy_flat(2, 1, [40, 200], modes=[0, 4]),
         md5 + image, False),
        (mm.decode_features_flac,
         flac.encode_flac(8000, 1, [10, -20, 30, -40] * 32, block_size=64),
         loudness, False),
        (mm.decode_features_mp3,
         mp3.encode_mp3_frames([{"bitrate_idx": 9}, {"bitrate_idx": 14}]),
         md5 + ["n_frames", "sample_rate", "channel_mode", "total_samples",
                "sum_bitrate_kbps", "audio_bytes"], False),
        (mm.decode_features_jpeg_lossless,
         jpeg.encode_jpeg_lossless(2, 2, [100, 4000, 0, 4095], precision=12,
                                   predictor=2),
         md5 + ["width", "height", "n_components", "precision", "mean_sample"],
         False),
        (mm.decode_frames_gif, anim, frame, True),
        (mm.decode_frames_gif_composed, anim, frame, True),
        (mm.decode_frames_gif_timesampled, anim,
         ["sample_idx", "t_cs", "frame_idx", "width", "height", "mean_luma"],
         False),
        (mm.decode_frames_webp_composed,
         webp.encode_webp_anim(2, 2, [{"x": 0, "y": 0, "w": 2, "h": 2,
                                       "rgba": gray(60) * 4, "blend": False}]),
         frame, True),
        (mm.decode_frames_apng_composed,
         png.encode_apng(2, 1, [
             {"x": 0, "y": 0, "w": 2, "h": 1, "rgba": gray(60) * 2, "blend": 0},
             {"x": 0, "y": 0, "w": 1, "h": 1, "rgba": gray(90), "blend": 0},
         ]),
         frame, True),
    ]
    schema = "doc_id long, media binary"
    for fn, good, cols, has_max_frames in lanes:
        name = fn.__name__
        bad = good[:9]
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(bad)), (3, None)], schema
        )
        assert fn(df).columns == ["doc_id", *cols], name
        with _pytest.raises(Exception, match="ValueError"):
            fn(df.where("doc_id <= 2")).collect()
        with _pytest.raises(Exception, match="NULL media payload"):
            fn(df.where("doc_id = 3")).collect()

        out = fn(df, on_error="null")
        assert out.columns == ["doc_id", *cols, "decode_error"], name
        rows = out.collect()
        ok = [r for r in rows if r["doc_id"] == 1]
        assert ok and all(
            r["decode_error"] is None and None not in r[:-1] for r in ok
        ), (name, ok)
        [err] = [r for r in rows if r["doc_id"] == 2]
        assert err["decode_error"], name
        [null] = [r for r in rows if r["doc_id"] == 3]
        assert null["decode_error"] == "NULL media payload", name
        assert all(v is None for v in null[1:-1]), (name, null)
        stats = cols[2:] if cols[:2] == md5 else cols
        assert all(err[c] is None for c in stats), (name, err)
        if cols[:2] == md5:
            assert err["n_bytes"] == len(bad), name
            assert err["content_md5"] == hashlib.md5(bad).hexdigest(), name

        if has_max_frames:
            assert fn(df, max_frames=0).collect() == [], name
            assert fn(df, max_frames=0, on_error="null").collect() == [], name


def test_decode_lanes_ship_codecs_by_value(tmp_path):
    """The decode operators pickle their codecs BY VALUE, so Python workers
    that cannot import ``edgy_spark`` still decode: a Spark process whose
    cwd is outside the repo and whose PYTHONPATH lacks it (only its own
    sys.path gets the repo) runs one single-row lane and one
    frame lane on two rows each.  A closure that captured a module-level
    ``edgy_spark`` name would be pickled by reference and fail to import
    in the workers."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import importlib.util, json, sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from edgy_spark.functions.gif import encode_gif_animation
        from edgy_spark.functions.png import encode_png
        from edgy_spark.operators.multimodal import (
            decode_features_png, decode_frames_gif,
        )

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .getOrCreate()
        )
        schema = "doc_id long, media binary"
        pngs = spark.createDataFrame(
            [(i, bytearray(encode_png(i, 1, [bytes([40 * i] * i)], color_type=0)))
             for i in (1, 2)],
            schema,
        )
        pal = bytes(range(12))
        gifs = spark.createDataFrame(
            [(i, bytearray(encode_gif_animation(
                2, 1, [[bytes([0, 1])], [bytes([2, 3])]][:i], pal)))
             for i in (1, 2)],
            schema,
        )

        def probe(batches):
            import pandas as pd
            for pdf in batches:
                found = importlib.util.find_spec("edgy_spark") is not None
                yield pd.DataFrame({{"found": [found] * len(pdf)}})

        out = {{
            "worker_sees_repo": any(
                r.found for r in pngs.mapInPandas(probe, "found boolean").collect()
            ),
            "png": sorted(
                tuple(r) for r in decode_features_png(pngs)
                .select("doc_id", "width", "height", "mean_luma").collect()
            ),
            "gif": sorted(
                tuple(r) for r in decode_frames_gif(gifs, on_error="null").collect()
            ),
        }}
        print("RESULT " + json.dumps(out))
        spark.stop()
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [line] = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    out = json.loads(line[len("RESULT "):])
    assert out["worker_sees_repo"] is False
    assert out["png"] == [[1, 1, 1, 40], [2, 2, 1, 80]]
    # palette entries (0,1,2)/(3,4,5) and (6,7,8)/(9,10,11): Rec.601
    # luma sums 4630 and 16630 over two pixels
    assert out["gif"] == [
        [1, 0, 2, 1, 2, None],
        [2, 0, 2, 1, 2, None],
        [2, 1, 2, 1, 8, None],
    ]


def test_decode_features_png_raise_schema_unchanged(spark):
    """The default mode's schema must stay byte-identical to pre-r11 —
    the oracle-gated queries select from it."""
    from edgy_spark.functions.png import encode_png
    from edgy_spark.operators.multimodal import decode_features_png

    df = spark.createDataFrame(
        [(1, bytearray(encode_png(2, 1, [b"\x10\x20"], color_type=0)))],
        "doc_id long, media binary",
    )
    assert decode_features_png(df).columns == [
        "doc_id", "n_bytes", "content_md5", "width", "height", "mean_luma"
    ]


def test_gif_frames_partial_capture_and_null_media(spark):
    """r11d: a mid-stream corruption keeps the frames decoded before it
    (good frames bank as rows, ONE error row follows); a NULL media cell
    is captured per-row in 'null' mode and raises in default mode."""
    import pytest as _pytest

    from edgy_spark.functions.gif import encode_gif_animation
    from edgy_spark.operators.multimodal import decode_frames_gif

    pal = bytes(range(12))
    anim = encode_gif_animation(
        2, 2, [[bytes([0, 1]), bytes([2, 3])]] * 3, pal
    )
    # truncate inside the THIRD frame's data: frames 0-1 stay decodable
    cut = anim[: len(anim) - 8]
    df = spark.createDataFrame(
        [(1, bytearray(cut)), (2, None)], "doc_id long, media binary"
    )
    with _pytest.raises(Exception):
        decode_frames_gif(df).collect()
    rows = sorted(
        decode_frames_gif(df, on_error="null").collect(),
        key=lambda r: (r["doc_id"], r["frame_idx"] if r["frame_idx"] is not None else 99),
    )
    doc1 = [r for r in rows if r["doc_id"] == 1]
    good = [r for r in doc1 if r["decode_error"] is None]
    bad = [r for r in doc1 if r["decode_error"] is not None]
    assert len(good) >= 1 and all(r["mean_luma"] is not None for r in good)
    assert len(bad) == 1 and bad[0]["frame_idx"] is None
    doc2 = [r for r in rows if r["doc_id"] == 2]
    assert len(doc2) == 1 and doc2[0]["decode_error"] == "NULL media payload"


def test_gif_animation_pixel_budget_is_cumulative(monkeypatch):
    """Per-frame caps alone would let an N-frame animation allocate
    N x MAX_PIXELS; the budget is per ASSET."""
    import pytest as _pytest

    from edgy_spark.functions import gif as G

    pal = bytes(range(12))
    frame = [bytes([0, 1, 2, 3] * 3) for _ in range(5)]  # 12x5 = 60 px
    anim = G.encode_gif_animation(12, 5, [frame, frame], pal)
    assert len(G.decode_gif_frames(anim)) == 2
    monkeypatch.setattr(G, "MAX_PIXELS", 100)
    assert G.decode_gif(anim)[0] == 12  # first frame fits the budget
    with _pytest.raises(ValueError, match="budget"):
        G.decode_gif_frames(anim)  # the second frame exceeds it


def test_gif_composed_disposal_and_transparency():
    """r12 composed-frame decode: offsets, transparency show-through, and
    all three disposal methods against hand-computed canvases."""
    from edgy_spark.functions.gif import (
        decode_gif_frames,
        decode_gif_frames_composed,
        encode_gif_animation_rects,
    )

    pal = bytes(b for v in range(16) for b in (v * 16, v * 16, v * 16))
    W, H, a = 8, 4, 4
    c0, c1, c2, ct = 3, 9, 12, 15
    base = {"left": 0, "top": 0, "disposal": 1,
            "rows": [bytes([c0]) * W for _ in range(H)]}
    patch = {"left": 0, "top": 0, "transparent": ct,
             "rows": [bytes(ct if x % 2 == 0 else c1 for x in range(a))
                      for _ in range(H)]}
    right = {"left": a, "top": 0, "disposal": 0,
             "rows": [bytes([c2]) * a for _ in range(H)]}

    for disp, left_expect in (
        (1, lambda x: c1 * 16 if x % 2 == 1 else c0 * 16),  # stays
        (2, lambda x: 0),                                   # cleared
        (3, lambda x: c0 * 16),                             # restored
    ):
        data = encode_gif_animation_rects(
            W, H, [base, {**patch, "disposal": disp}, right], pal
        )
        frames = decode_gif_frames_composed(data)
        assert [f[:3] for f in frames] == [(W, H, 4)] * 3
        # frame 1: odd cols of left half c1, everything else c0 (alpha 255)
        px = frames[1][3]
        for y in range(H):
            for x in range(W):
                o = (y * W + x) * 4
                want = c1 * 16 if (x < a and x % 2 == 1) else c0 * 16
                assert (px[o], px[o + 3]) == (want, 255), (disp, x, y)
        # frame 2: left half per disposal, right half c2
        px = frames[2][3]
        for y in range(H):
            for x in range(W):
                o = (y * W + x) * 4
                if x < a:
                    assert px[o] == left_expect(x), (disp, x, y)
                    assert px[o + 3] == (0 if disp == 2 else 255)
                else:
                    assert (px[o], px[o + 3]) == (c2 * 16, 255)
        # the per-rect view of the same stream keeps frame-local coords
        raw = decode_gif_frames(data)
        assert raw[1][0] == a and raw[1][2] == 4  # sub-rect, RGBA
        assert raw[2][0] == a and raw[2][2] == 3

    # a rect escaping the logical screen is malformed
    import pytest

    bad = encode_gif_animation_rects(
        W, H, [base], pal
    ).replace(b"\x2c\x00\x00\x00\x00", b"\x2c\x06\x00\x00\x00", 1)
    with pytest.raises(ValueError, match="outside logical screen"):
        decode_gif_frames_composed(bad)


def test_gif_encoder_rejects_out_of_range_delay():
    """delay_cs is packed into a u16 GCE field: out-of-range values must
    fail the encoder's loud-validation contract (ValueError, like every
    sibling field check), not leak a struct.error (r12 advice)."""
    import pytest

    from edgy_spark.functions.gif import encode_gif_animation_rects

    pal = bytes(b for v in range(4) for b in (v * 64, v * 64, v * 64))
    frame = {"left": 0, "top": 0, "rows": [bytes([1, 2])]}
    for bad in (-1, 0x10000):
        with pytest.raises(ValueError, match="delay_cs"):
            encode_gif_animation_rects(
                2, 1, [dict(frame, delay_cs=bad)], pal
            )
    # boundary values stay encodable
    for ok in (0, 0xFFFF):
        encode_gif_animation_rects(2, 1, [dict(frame, delay_cs=ok)], pal)


def test_gif_rect_animation_read_by_jdk(spark):
    """Our rect/disposal animation streams are spec-valid: the JDK reader
    sees every sub-rect frame at its own size with our palette colors."""
    from edgy_spark.functions.gif import encode_gif_animation_rects

    pal = bytes(b for v in range(16) for b in (v * 16, v * 16, v * 16))
    W, H, a = 8, 4, 4
    frames = [
        {"left": 0, "top": 0, "disposal": 1,
         "rows": [bytes([3]) * W for _ in range(H)]},
        {"left": a, "top": 1, "disposal": 2, "transparent": 15,
         "rows": [bytes([9, 15, 9, 15]) for _ in range(2)]},
    ]
    data = encode_gif_animation_rects(W, H, frames, pal)
    jvm = spark._sc._jvm
    reader = jvm.javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    iis = jvm.javax.imageio.ImageIO.createImageInputStream(
        jvm.java.io.ByteArrayInputStream(bytearray(data))
    )
    reader.setInput(iis)
    assert reader.getNumImages(True) == 2
    f0 = reader.read(0)
    assert (f0.getWidth(), f0.getHeight()) == (W, H)
    assert f0.getRGB(0, 0) & 0xFFFFFF == 0x303030  # index 3 -> 48
    f1 = reader.read(1)
    assert (f1.getWidth(), f1.getHeight()) == (4, 2)
    assert f1.getRGB(0, 0) & 0xFFFFFF == 0x909090  # index 9 -> 144
    # transparent index: alpha 0 in the JDK's ARGB read-back too
    assert (f1.getRGB(1, 0) >> 24) & 0xFF == 0
    reader.dispose()


def test_gif_rects_encoder_validates_transparent_index():
    """Out-of-palette transparent indexes must be a clear ValueError, not
    a raw bytes() crash (>255) or a silently-opaque stream (n..255)."""
    import pytest

    from edgy_spark.functions.gif import encode_gif_animation_rects

    pal = bytes(b for v in range(16) for b in (v, v, v))
    frame = {"left": 0, "top": 0, "rows": [bytes([1, 2])],
             "transparent": 16}  # valid byte, outside the 16-entry palette
    with pytest.raises(ValueError, match="transparent index"):
        encode_gif_animation_rects(4, 2, [frame], pal)
    frame["transparent"] = 300
    with pytest.raises(ValueError, match="transparent index"):
        encode_gif_animation_rects(4, 2, [frame], pal)


def test_gif_composed_disposal4_maps_to_restore_previous():
    """Real-crawl streams from old encoders use disposal 4 as the
    off-by-one spelling of restore-to-previous; browsers map it to 3 and
    so does the composer (5-7 reserved -> do-not-dispose)."""
    from edgy_spark.functions.gif import (
        decode_gif_frames_composed,
        encode_gif_animation_rects,
    )

    pal = bytes(b for v in range(16) for b in (v * 16, v * 16, v * 16))
    W, H, a = 8, 4, 4
    base = {"left": 0, "top": 0, "disposal": 1,
            "rows": [bytes([3]) * W for _ in range(H)]}
    patch = {"left": 0, "top": 0, "disposal": 3,
             "rows": [bytes([9]) * a for _ in range(H)]}
    right = {"left": a, "top": 0, "disposal": 0,
             "rows": [bytes([12]) * a for _ in range(H)]}
    d3 = encode_gif_animation_rects(W, H, [base, patch, right], pal)
    # patch the GCE disposal bits of the SECOND frame from 3 to 4
    gce3 = bytes([0x21, 0xF9, 4, 3 << 2])
    assert d3.count(gce3) == 1
    d4 = d3.replace(gce3, bytes([0x21, 0xF9, 4, 4 << 2]))
    assert decode_gif_frames_composed(d4) == decode_gif_frames_composed(d3)
    # reserved 5: do-not-dispose -> frame 2 keeps the patch like disposal 1
    d5 = d3.replace(gce3, bytes([0x21, 0xF9, 4, 5 << 2]))
    d1 = d3.replace(gce3, bytes([0x21, 0xF9, 4, 1 << 2]))
    assert decode_gif_frames_composed(d5) == decode_gif_frames_composed(d1)


def test_gif_time_sampling_follows_the_delay_track():
    """Time sampler: ticks land on the frame visible per GCE delays, the
    last frame is sampled exactly once from its start onward, 0-1 cs
    delays clamp to 10 cs (browser rule — they are sampled at the
    clamped rate, never skipped), and max_samples caps the row count."""
    from edgy_spark.functions.gif import (
        encode_gif_animation_rects,
        time_sampled_composed_frames,
    )

    pal = bytes(b for v in range(16) for b in (v * 16,) * 3)
    W, H = 4, 2

    def flat(c, d):
        return {"left": 0, "top": 0, "disposal": 1, "delay_cs": d,
                "rows": [bytes([c]) * W for _ in range(H)]}

    # delays 3,1,4 -> 1 cs clamps to 10 (browser rule) -> starts 0,3,13:
    # two ticks on frame 0, frame 1 until t=12, one final sample of frame 2
    data = encode_gif_animation_rects(W, H, [flat(1, 3), flat(2, 1), flat(3, 4)], pal)
    got = [(k, t, fi) for k, t, fi, _ in time_sampled_composed_frames(data, 2)]
    assert got == [(0, 0, 0), (1, 2, 0), (2, 4, 1), (3, 6, 1),
                   (4, 8, 1), (5, 10, 1), (6, 12, 1), (7, 14, 2)]
    # zero-delay frames clamp to 10 cs too (the common all-zero-delay GIF
    # must not collapse to a single sample)
    data = encode_gif_animation_rects(W, H, [flat(1, 0), flat(2, 2)], pal)
    got = [(k, t, fi) for k, t, fi, _ in time_sampled_composed_frames(data, 2)]
    assert got == [(0, 0, 0), (1, 2, 0), (2, 4, 0), (3, 6, 0),
                   (4, 8, 0), (5, 10, 1)]
    # long delays + cap
    data = encode_gif_animation_rects(W, H, [flat(1, 100), flat(2, 100)], pal)
    s = time_sampled_composed_frames(data, 2, max_samples=3)
    assert [(k, t, fi) for k, t, fi, _ in s] == [(0, 0, 0), (1, 2, 0), (2, 4, 0)]
    assert time_sampled_composed_frames(data, 2, max_samples=0) == []
    import pytest

    with pytest.raises(ValueError, match="every_cs"):
        time_sampled_composed_frames(data, 0)


def test_gif_time_sampling_head_is_lazy(monkeypatch):
    """Sampling the head of a long animation must stop DECODING at
    max_samples — the composed-output budget only counts frames actually
    pulled, so a duration-long asset still yields its head."""
    from edgy_spark.functions import gif as gifmod

    pal = bytes(b for v in range(4) for b in (v * 80 % 256,) * 3)
    W, H = 8, 8
    frames = [
        {"left": 0, "top": 0, "disposal": 1, "delay_cs": 5,
         "rows": [bytes([f % 4]) * W for _ in range(H)]}
        for f in range(30)
    ]
    data = gifmod.encode_gif_animation_rects(W, H, frames, pal)
    # budget fits ~6 composed frames; eager full-animation decode trips it
    monkeypatch.setattr(gifmod, "MAX_PIXELS", W * H * 6)
    import pytest

    with pytest.raises(ValueError, match="MAX_PIXELS"):
        gifmod.decode_gif_frames_composed(data)
    # ...but head sampling pulls only what the ticks need (2 frames here)
    got = gifmod.time_sampled_composed_frames(data, 5, max_samples=2)
    assert [(k, t, fi) for k, t, fi, _ in got] == [(0, 0, 0), (1, 5, 1)]


def test_gif_time_sampling_banks_head_on_midstream_corruption(spark):
    """r12 banking contract: a truncated animation yields the samples from
    COMPLETED visibility windows as good rows plus one error row — same
    behavior as the per-rect and composed frame operators."""
    from edgy_spark.functions.gif import encode_gif_animation_rects
    from edgy_spark.operators.multimodal import decode_frames_gif_timesampled

    pal = bytes(b for v in range(16) for b in (v * 16,) * 3)
    W, H = 4, 2

    def flat(c, d):
        return {"left": 0, "top": 0, "disposal": 1, "delay_cs": d,
                "rows": [bytes([c]) * W for _ in range(H)]}

    data = encode_gif_animation_rects(
        W, H, [flat(1, 4), flat(2, 4), flat(3, 4)], pal
    )
    truncated = data[:-6]  # rips into the last frame's LZW tail
    media = spark.createDataFrame(
        [(1, bytearray(data)), (2, bytearray(truncated))],
        "doc_id long, media binary",
    )
    out = decode_frames_gif_timesampled(
        media, every_cs=2, max_samples=8, on_error="null"
    ).collect()
    good = [(r["doc_id"], r["sample_idx"], r["frame_idx"]) for r in out
            if r["decode_error"] is None]
    errs = [r["doc_id"] for r in out if r["decode_error"] is not None]
    # intact doc: frames 0,1 fully windowed + final sample of frame 2
    assert [(s, f) for d, s, f in good if d == 1] == [
        (0, 0), (1, 0), (2, 1), (3, 1), (4, 2),
    ]
    # truncated doc: frame 0's completed window banks (frame 1 decoded ok,
    # frame 2's pull raised before frame 1's window could complete)
    assert [(s, f) for d, s, f in good if d == 2] == [(0, 0), (1, 0)]
    assert errs == [2]


def test_decode_features_webp_on_error_null_and_lossy(spark):
    """The WebP operator's crawl contract: a truncated stream, a NULL
    payload, and an honest standalone-ALPH NotImplementedError all land
    as decode_error rows under on_error='null'; valid rows — lossless,
    (since r14) lossy VP8, and an animation's first composed frame — are
    unaffected and default 'raise' fails fast."""
    import struct as _struct

    import pytest as _pytest

    from edgy_spark.functions.webp import (
        encode_webp_anim,
        encode_webp_lossless,
        encode_webp_lossy_flat,
    )
    from edgy_spark.operators.multimodal import decode_features_webp

    good = encode_webp_lossless(2, 2, bytes(range(16)), subtract_green=True)
    lossy = encode_webp_lossy_flat(1, 1, [100])  # BT.601 gray 100 -> RGB 98
    anim = encode_webp_anim(
        2, 2,
        [{"x": 0, "y": 0, "w": 2, "h": 2,
          "rgba": bytes((60, 60, 60, 255)) * 4, "blend": False}],
    )
    alph = (
        b"RIFF"
        + _struct.pack("<I", 4 + 8 + 2)
        + b"WEBP"
        + b"ALPH"
        + _struct.pack("<I", 2)
        + b"\x00\x00"
    )
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:15])), (3, None),
         (4, bytearray(lossy)), (5, bytearray(anim)), (6, bytearray(alph))],
        "doc_id long, media binary",
    )
    with _pytest.raises(Exception):
        decode_features_webp(df).collect()
    rows = {r["doc_id"]: r for r in decode_features_webp(df, on_error="null").collect()}
    assert rows[1]["mean_luma"] is not None and rows[1]["decode_error"] is None
    assert (rows[1]["width"], rows[1]["height"]) == (2, 2)
    assert rows[2]["mean_luma"] is None and rows[2]["decode_error"]
    assert rows[3]["decode_error"] == "NULL media payload"
    assert (rows[4]["width"], rows[4]["height"]) == (16, 16)
    assert rows[4]["mean_luma"] == 98 and rows[4]["decode_error"] is None
    assert rows[5]["mean_luma"] == 60 and rows[5]["decode_error"] is None
    assert "ALPH" in rows[6]["decode_error"]  # honest scope boundary


def test_decode_features_webp_lossy_on_error_null(spark):
    """The lossy-lane operator (native Y-plane luma): valid rows are
    integer-exact; truncated/NULL/lossless-mismatch rows land as
    decode_error under on_error='null'."""
    import pytest as _pytest

    from edgy_spark.functions.webp import (
        encode_webp_lossless,
        encode_webp_lossy_flat,
    )
    from edgy_spark.operators.multimodal import decode_features_webp_lossy

    good = encode_webp_lossy_flat(2, 1, [40, 200], modes=[0, 4])
    lossless = encode_webp_lossless(2, 2, bytes(range(16)))
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:20])), (3, None),
         (4, bytearray(lossless))],
        "doc_id long, media binary",
    )
    with _pytest.raises(Exception):
        decode_features_webp_lossy(df).collect()
    rows = {
        r["doc_id"]: r
        for r in decode_features_webp_lossy(df, on_error="null").collect()
    }
    assert (rows[1]["width"], rows[1]["height"]) == (32, 16)
    assert rows[1]["mean_luma"] == 120  # exact mean of the Y plane
    assert rows[2]["mean_luma"] is None and rows[2]["decode_error"]
    assert rows[3]["decode_error"] == "NULL media payload"
    assert "no YUV planes" in rows[4]["decode_error"]


def test_decode_features_flac_on_error_null(spark):
    """FLAC operator crawl contract: corrupt payload (CRC-caught), NULL
    payload, and a non-FLAC byte string all land as decode_error rows;
    a valid stream decodes to the WAV-identical loudness columns."""
    import pytest as _pytest

    from edgy_spark.functions.flac import encode_flac
    from edgy_spark.operators.multimodal import decode_features_flac

    good = encode_flac(8000, 1, [10, -20, 30, -40] * 32, block_size=64)
    corrupt = bytearray(good)
    corrupt[-3] ^= 0x40  # payload flip the frame CRC-16 must catch
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, corrupt), (3, None), (4, bytearray(b"ID3junk"))],
        "doc_id long, media binary",
    )
    with _pytest.raises(Exception):
        decode_features_flac(df).collect()
    rows = {r["doc_id"]: r for r in decode_features_flac(df, on_error="null").collect()}
    assert rows[1]["peak_amplitude"] == 40 and rows[1]["decode_error"] is None
    assert rows[1]["n_frames"] == 128 and rows[1]["sample_rate"] == 8000
    assert rows[2]["peak_amplitude"] is None and rows[2]["decode_error"]
    assert rows[3]["decode_error"] == "NULL media payload"
    assert rows[4]["peak_amplitude"] is None and rows[4]["decode_error"]


# ---------------------------------------------------------------------------
# APNG (acTL/fcTL/fdAT) — r14: composition, all three dispose ops,
# sequence validation, crawl robustness
# ---------------------------------------------------------------------------


def _apng_fixture(dispose: int):
    from edgy_spark.functions.png import encode_apng

    c0 = bytes((10, 10, 10, 255)) * 16
    f1 = bytes(
        b
        for i in range(8)
        for b in ((0, 0, 0, 0) if i % 2 == 0 else (200, 200, 200, 255))
    )
    f2 = bytes((99, 99, 99, 255)) * 8
    return encode_apng(
        4, 4,
        [
            {"x": 0, "y": 0, "w": 4, "h": 4, "rgba": c0, "blend": 0,
             "delay": (5, 100)},
            {"x": 0, "y": 0, "w": 2, "h": 4, "rgba": f1, "blend": 1,
             "dispose": dispose},
            {"x": 2, "y": 0, "w": 2, "h": 4, "rgba": f2, "blend": 0},
        ],
    )


def test_apng_composition_all_three_dispose_ops():
    from edgy_spark.functions.png import iter_apng_frames_composed

    for dispose, left_after in ((0, [10, 200]), (1, [0, 0]), (2, [10, 10])):
        frames = list(iter_apng_frames_composed(_apng_fixture(dispose)))
        assert len(frames) == 3
        reds = [[px[4 * k] for k in range(16)] for (_w, _h, _c, px) in frames]
        assert reds[0] == [10] * 16
        # OVER blend: transparent even columns show frame 0 through
        assert reds[1] == [10, 200, 10, 10] * 4
        assert reds[2] == (left_after + [99, 99]) * 4, dispose


def test_apng_delays_and_default_denominator():
    from edgy_spark.functions.png import iter_apng_frames_composed

    delays = [
        d for d, *_ in iter_apng_frames_composed(
            _apng_fixture(0), with_delay=True
        )
    ]
    # frame 0: 5/100 s = 50 ms; frames 1-2 default (1, 10) = 100 ms
    assert delays == [50, 100, 100]


def test_apng_still_decoder_serves_default_image():
    from edgy_spark.functions.png import decode_png

    w, h, ch, px = decode_png(_apng_fixture(0))
    assert (w, h, ch) == (4, 4, 4)
    assert set(px[0::4]) == {10}  # the full-canvas default image


def test_apng_rejects_plain_png_and_bad_sequences():
    import struct as _struct

    import pytest as _pytest

    from edgy_spark.functions.png import (
        encode_png,
        iter_apng_frames_composed,
    )

    with _pytest.raises(ValueError, match="no acTL"):
        list(iter_apng_frames_composed(encode_png(2, 1, [bytes(6)])))
    # corrupt a sequence number: consecutive-from-0 validation fires
    data = bytearray(_apng_fixture(0))
    idx = data.find(b"fdAT")
    seq = _struct.unpack(">I", data[idx + 4 : idx + 8])[0]
    data[idx + 4 : idx + 8] = _struct.pack(">I", seq + 7)
    # fix the chunk CRC so only the SEQUENCE is wrong
    import zlib as _zlib

    (length,) = _struct.unpack(">I", data[idx - 4 : idx])
    payload = bytes(data[idx + 4 : idx + 4 + length])
    data[idx + 4 + length : idx + 8 + length] = _struct.pack(
        ">I", _zlib.crc32(b"fdAT" + payload) & 0xFFFFFFFF
    )
    with _pytest.raises(ValueError, match="consecutive"):
        list(iter_apng_frames_composed(bytes(data)))


def test_apng_truncation_never_crashes():
    from edgy_spark.functions.png import iter_apng_frames_composed

    data = _apng_fixture(2)
    for cut in range(8, len(data), 3):
        try:
            list(iter_apng_frames_composed(data[:cut]))
        except (ValueError, NotImplementedError):
            pass


def test_apng_encoder_validates():
    import pytest as _pytest

    from edgy_spark.functions.png import encode_apng

    rgba = bytes((1, 1, 1, 255)) * 4
    with _pytest.raises(ValueError, match="cover the canvas"):
        encode_apng(4, 4, [{"x": 0, "y": 0, "w": 2, "h": 2, "rgba": rgba}])
    with _pytest.raises(ValueError, match="outside"):
        encode_apng(
            2, 2,
            [{"x": 0, "y": 0, "w": 2, "h": 2, "rgba": rgba},
             {"x": 2, "y": 0, "w": 2, "h": 2, "rgba": rgba}],
        )
    with _pytest.raises(ValueError, match="at least one"):
        encode_apng(2, 2, [])


def test_apng_time_sampling_windows_and_clamp():
    from edgy_spark.functions.png import (
        iter_time_sampled_composed_apng_frames,
    )

    # delays 50 / 100 (default 1/10) / 100: windows [0,50), [50,150),
    # [150, inf) at 30 ms ticks — same contract as the GIF/WebP lanes
    got = [
        (k, t, fi)
        for k, t, fi, _f in iter_time_sampled_composed_apng_frames(
            _apng_fixture(0), every_ms=30
        )
    ]
    assert got == [
        (0, 0, 0), (1, 30, 0),
        (2, 60, 1), (3, 90, 1), (4, 120, 1),
        (5, 150, 2),
    ]


def test_apng_time_sampling_banks_head_before_corruption():
    from edgy_spark.functions.png import (
        iter_time_sampled_composed_apng_frames,
    )

    data = bytearray(_apng_fixture(0))
    data[-20] ^= 0xFF  # corrupt the tail
    head = [
        s[:3]
        for s in iter_time_sampled_composed_apng_frames(
            bytes(data), every_ms=30, max_samples=2
        )
    ]
    assert head == [(0, 0, 0), (1, 30, 0)]


def test_apng_short_ihdr_is_value_error():
    import struct as _struct

    import pytest as _pytest

    from edgy_spark.functions.png import iter_apng_frames_composed

    data = (
        b"\x89PNG\r\n\x1a\n"
        + _struct.pack(">I", 4) + b"IHDR" + b"\x00" * 4 + b"\x00" * 4
    )
    with _pytest.raises(ValueError, match="truncated IHDR"):
        list(iter_apng_frames_composed(data))
