"""Multimodal plumbing tests: exact decode/resize/frame-sample values
on a tiny fixture, plus the NotImplementedError codec seam."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_bowl_spark.multimodal.media import (
    MEDIA_SCHEMA,
    decode_payload,
    extract_image_features,
    resize_images,
    sample_frames,
)


def media_df(spark, rows):
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_fake_tiles_bytes():
    img = decode_payload(b"\x01\x02\x03", "fake", width=2, height=2)
    assert img.shape == (2, 2)
    # tiled [1,2,3,1] -> [[1,2],[3,1]]
    assert img.tolist() == [[1, 2], [3, 1]]


def test_decode_unsupported_format_raises():
    # jpeg graduated to a real codec in round 5; mp4 remains the
    # documented plug-PIL/ffmpeg-here seam
    with pytest.raises(NotImplementedError):
        decode_payload(b"\x00\x00\x00\x18ftypmp42", "mp4", 1, 1)


def test_decode_nonbaseline_png_raises():
    # every legal depth/color combination decodes since round 8
    # (16-bit included); spec-ILLEGAL combinations (16-bit palette)
    # and a palette file without PLTE are hard errors, not seams
    import struct
    import zlib

    def png(ihdr_fields):
        ihdr = struct.pack(">IIBBBBB", *ihdr_fields)
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        )

    with pytest.raises(ValueError, match="depth"):
        decode_payload(png((1, 1, 16, 3, 0, 0, 0)), "png", 1, 1)
    with pytest.raises(ValueError, match="PLTE"):
        decode_payload(png((1, 1, 8, 3, 0, 0, 0)), "png", 1, 1)


def test_decode_empty_payload_zero_fills():
    img = decode_payload(b"", "fake", width=3, height=1)
    assert img.tolist() == [[0, 0, 0]]


def test_extract_image_features_exact(spark):
    df = media_df(
        spark, [(1, "image", "fake", 2, 2, 1, bytearray(b"\x0a\x14\x1e"))]
    )
    r = extract_image_features(df).collect()[0]
    # pixels tiled: [10,20,30,10] -> mean 17.5, max 30, 3 source bytes
    assert (r.media_id, r.n_bytes, r.mean_intensity, r.max_intensity) == (
        1, 3, 17.5, 30,
    )


def test_resize_nearest_neighbor(spark):
    payload = bytearray(range(16))  # 4x4 image 0..15
    df = media_df(spark, [(1, "image", "fake", 4, 4, 1, payload)])
    out = resize_images(df, out_w=2, out_h=2).collect()[0]
    assert (out.width, out.height) == (2, 2)
    resized = np.frombuffer(bytes(out.payload), dtype=np.uint8).reshape(2, 2)
    # rows/cols 0 and 2 of the 4x4 grid
    assert resized.tolist() == [[0, 2], [8, 10]]


def test_sample_frames_every_other(spark):
    payload = bytearray(b"aabbccdd")  # 4 frames x 2 bytes
    rows = [
        (7, "video", "fake", 1, 1, 4, payload),
        (8, "image", "fake", 1, 1, 1, bytearray(b"xx")),  # skipped
    ]
    frames = sample_frames(media_df(spark, rows), every_n=2).collect()
    got = {(r.media_id, r.frame_idx): bytes(r.frame_payload) for r in frames}
    assert got == {(7, 0): b"aa", (7, 2): b"cc"}


# --- real pure-Python codecs (VERDICT r2 #6) --------------------------------


def _img44():
    return np.arange(16, dtype=np.uint8).reshape(4, 4) * 10


def test_pgm_roundtrip_exact():
    from big_data_bowl_spark.multimodal.media import encode_pgm

    img = _img44()
    assert decode_payload(encode_pgm(img), "pgm", 4, 4).tolist() == img.tolist()


def test_pgm_header_with_comment():
    img = _img44()
    payload = b"P5\n# a comment\n4 4\n255\n" + img.tobytes()
    assert decode_payload(payload, "pgm", 4, 4).tolist() == img.tolist()


def test_ppm_rgb_to_luma():
    # one pure-red, one pure-green pixel: luma 76 / 150 (BT.601)
    payload = b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0])
    assert decode_payload(payload, "ppm", 2, 1).tolist() == [[76, 149]]


def test_bmp_roundtrip_exact():
    from big_data_bowl_spark.multimodal.media import encode_bmp

    img = _img44()[:, :3]  # 3 wide: exercises row padding
    assert decode_payload(encode_bmp(img), "bmp", 3, 4).tolist() == img.tolist()


def test_png_roundtrip_every_filter():
    from big_data_bowl_spark.multimodal.media import encode_png

    img = _img44()
    for ftype in range(5):  # None, Sub, Up, Average, Paeth
        payload = encode_png(img, filter_type=ftype)
        got = decode_payload(payload, "png", 4, 4)
        assert got.tolist() == img.tolist(), f"filter {ftype}"


def test_png16_roundtrip_every_filter():
    """16-bit grayscale PNG (VERDICT r7 item 3): v*257 widens 8->16
    bit exactly, filters run at bpp=2 byte distance, and the decoder's
    rint(v*255/65535) rescale recovers every pixel bit-for-bit — for
    all five filter types. Arbitrary 16-bit values decode to the
    rounded 8-bit rescale."""
    from big_data_bowl_spark.multimodal.media import encode_png

    img = _img44()
    img16 = img.astype(np.uint16) * 257
    for ftype in range(5):
        got = decode_payload(encode_png(img16, filter_type=ftype), "png", 4, 4)
        assert got.tolist() == img.tolist(), f"16-bit filter {ftype}"

    arb = (np.arange(12, dtype=np.uint16).reshape(3, 4) * 5471) % 65536
    want = np.rint(arb.astype(np.float64) * 255.0 / 65535.0).astype(np.uint8)
    got = decode_payload(encode_png(arb.astype(np.uint16), filter_type=4), "png", 4, 3)
    assert got.tolist() == want.tolist()


def test_png16_truecolor_to_luma():
    # hand-built color-type-2 16-bit PNG: 16-bit red + green pixels
    # rescale to 8-bit then reduce to BT.601 luma — same expectation
    # as the 8-bit truecolor path
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0)
    px = struct.pack(">6H", 65535, 0, 0, 0, 65535, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" + px)) + chunk(b"IEND", b"")
    )
    assert decode_payload(payload, "png", 2, 1).tolist() == [[76, 149]]


def test_png_truecolor_to_luma():
    # hand-built color-type-2 PNG: red + green pixels -> BT.601 luma,
    # same expectation as the PPM path
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    raster = b"\x00" + bytes([255, 0, 0, 0, 255, 0])
    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster)) + chunk(b"IEND", b"")
    )
    assert decode_payload(payload, "png", 2, 1).tolist() == [[76, 149]]


def test_wav_roundtrip_exact():
    from big_data_bowl_spark.multimodal.media import decode_audio, encode_wav

    samples = np.array([0, 1000, -1000, 32767, -32768], dtype=np.int16)
    assert decode_audio(encode_wav(samples), "wav").tolist() == samples.tolist()


def test_mm_features_and_resize_on_real_bmp_pgm_png(spark):
    """mm02/mm04 end-to-end against REAL encoded bytes — including a
    COMPRESSED payload (PNG/zlib) — through the same mapInPandas
    operators, no fake codec anywhere in the path."""
    from big_data_bowl_spark.multimodal.media import (
        encode_bmp,
        encode_pgm,
        encode_png,
    )

    img = _img44()
    rows = [
        (1, "image", "pgm", 4, 4, 1, bytearray(encode_pgm(img))),
        (2, "image", "bmp", 4, 4, 1, bytearray(encode_bmp(img))),
        (3, "image", "png", 4, 4, 1, bytearray(encode_png(img, filter_type=4))),
    ]
    feats = {
        r.media_id: r for r in extract_image_features(media_df(spark, rows)).collect()
    }
    for mid in (1, 2, 3):
        assert feats[mid].mean_intensity == float(img.mean())
        assert feats[mid].max_intensity == 150

    out = {r.media_id: r for r in resize_images(media_df(spark, rows), 2, 2).collect()}
    expect = img[np.ix_([0, 2], [0, 2])]
    for mid in (1, 2, 3):
        got = np.frombuffer(bytes(out[mid].payload), np.uint8).reshape(2, 2)
        assert got.tolist() == expect.tolist()


# --- codec fuzzing (hypothesis) ---------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 17),
        h=st.integers(1, 9),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_pgm_bmp_png_roundtrip_fuzz(w, h, seed):
        from big_data_bowl_spark.multimodal.media import (
            encode_bmp,
            encode_pgm,
            encode_png,
        )

        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert decode_payload(encode_pgm(img), "pgm", w, h).tolist() == img.tolist()
        # odd widths exercise BMP 4-byte row padding
        assert decode_payload(encode_bmp(img), "bmp", w, h).tolist() == img.tolist()
        # random filter type exercises the whole unfilter matrix
        ftype = int(seed) % 5
        assert (
            decode_payload(encode_png(img, ftype), "png", w, h).tolist()
            == img.tolist()
        )

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(1, 300),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_wav_roundtrip_fuzz(n, seed):
        from big_data_bowl_spark.multimodal.media import (
            decode_audio,
            encode_wav,
        )

        rng = np.random.default_rng(seed)
        samples = rng.integers(-32768, 32768, size=n, dtype=np.int16)
        assert decode_audio(encode_wav(samples), "wav").tolist() == samples.tolist()


def test_jpeg_block_constant_roundtrip_exact():
    """Block-constant image + DC quant 8 => bit-exact round-trip (the
    regime the mm07 oracle pins)."""
    from big_data_bowl_spark.multimodal.media import (
        decode_payload,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    flat8 = [8] + [16] * 63
    for _ in range(10):
        bh, bw = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        vals = rng.integers(0, 256, (bh, bw), dtype=np.uint8)
        img = np.kron(vals, np.ones((8, 8), np.uint8))
        # crop to non-multiple-of-8 dims: exercises pad + trim
        h = bh * 8 - int(rng.integers(0, 3))
        w = bw * 8 - int(rng.integers(0, 3))
        img = img[:h, :w]
        dec = decode_payload(encode_jpeg(img, quant=flat8), "jpeg", w, h)
        assert dec.shape == (h, w)
        assert np.array_equal(dec, img)


def test_jpeg_near_lossless_unit_quant():
    """All-ones quant table: only float DCT rounding remains; error is
    bounded by +/-2 per pixel on arbitrary images."""
    from big_data_bowl_spark.multimodal.media import (
        decode_payload,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    ones = [1] * 64
    for _ in range(5):
        h, w = int(rng.integers(5, 40)), int(rng.integers(5, 40))
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        dec = decode_payload(encode_jpeg(img, quant=ones), "jpeg", w, h)
        assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 2


def test_jpeg_std_table_lossy_but_close_on_smooth():
    from big_data_bowl_spark.multimodal.media import (
        decode_payload,
        encode_jpeg,
    )

    y, x = np.mgrid[0:32, 0:48]
    img = ((np.sin(x / 9) + np.cos(y / 7)) * 50 + 128).astype(np.uint8)
    dec = decode_payload(encode_jpeg(img), "jpeg", 48, 32)
    assert int(np.abs(dec.astype(int) - img.astype(int)).max()) < 30


def test_jpeg_unsupported_variants_raise():
    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    with _pytest.raises(ValueError):
        _decode_jpeg(b"\x00\x01\x02")
    img = np.zeros((8, 8), np.uint8)
    payload = encode_jpeg(img)
    assert payload.count(b"\xff\xc0") == 1
    # SOF1 (extended sequential) decodes since r11 — an 8-bit SOF1 is
    # decode-identical to SOF0 (T.81 Table B.2), so the marker flip
    # yields the same plane, not a seam
    flipped = _decode_jpeg(payload.replace(b"\xff\xc0", b"\xff\xc1"))
    assert (flipped == _decode_jpeg(payload)).all()
    # a lossless/arithmetic SOF still raises honestly
    with _pytest.raises(NotImplementedError, match="SOF3"):
        _decode_jpeg(payload.replace(b"\xff\xc0", b"\xff\xc3"))
    # SOF2 is now SUPPORTED — but flipping the marker on a BASELINE
    # single full-band scan yields an inconsistent progressive header
    # (a DC scan with Se=63), which must be rejected, not misdecoded
    with _pytest.raises(ValueError, match="Se=0"):
        _decode_jpeg(payload.replace(b"\xff\xc0", b"\xff\xc2"))


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn: restart markers every N MCUs with DC-predictor reset;
    round-trip accuracy must be unchanged, and an out-of-sequence
    restart marker must be rejected."""
    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(13)
    ones = [1] * 64
    for ri in (1, 2, 7):
        img = rng.integers(0, 256, (24, 32), dtype=np.uint8)
        payload = encode_jpeg(img, quant=ones, restart_interval=ri)
        dec = _decode_jpeg(payload)
        assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 2
    # >8 restarts exercises the RST0..RST7 cyclic sequence
    img = rng.integers(0, 256, (8, 8 * 20), dtype=np.uint8)
    payload = encode_jpeg(img, quant=ones, restart_interval=2)
    assert payload.count(b"\xff\xd0") >= 2  # cycle wrapped
    dec = _decode_jpeg(payload)
    assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 2
    # corrupt the first restart marker: decoder must notice
    idx = payload.find(b"\xff\xd0")
    bad = payload[:idx] + b"\xff\xd5" + payload[idx + 2 :]
    with pytest.raises(ValueError):
        _decode_jpeg(bad)


def test_jpeg_420_interleaved_mcu_roundtrip():
    """4:2:0: Y at 2x2 with neutral chroma — the decoder must walk the
    interleaved 4xY+Cb+Cr MCU layout and reassemble the Y plane,
    including non-MCU-aligned dimensions and restart markers."""
    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(17)
    ones = [1] * 64
    for h, w in ((16, 16), (15, 17), (33, 49), (5, 5)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        dec = _decode_jpeg(encode_jpeg(img, quant=ones, color_420=True))
        assert dec.shape == (h, w)
        assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 2
    img = rng.integers(0, 256, (33, 49), dtype=np.uint8)
    dec = _decode_jpeg(
        encode_jpeg(img, quant=ones, color_420=True, restart_interval=2)
    )
    assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 2


def test_jpeg_scan_order_differs_from_sof_order():
    """T.81 B.2.3: scan components bind by the Cs selector, not by
    position — a spec-valid file listing (Cb, Y, Cr) in the scan while
    SOF lists (Y, Cb, Cr) must decode identically to the canonical
    order (ADVICE r5: positional binding decoded this silently wrong)."""
    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(23)
    ones = [1] * 64
    img = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    canonical = _decode_jpeg(encode_jpeg(img, quant=ones, color_420=True))
    for order in ((1, 0, 2), (2, 1, 0), (1, 2, 0)):
        dec = _decode_jpeg(
            encode_jpeg(img, quant=ones, color_420=True, scan_order=order)
        )
        assert np.array_equal(dec, canonical), order


def test_jpeg_noninterleaved_scans_roundtrip():
    """T.81 non-interleaved baseline (one component per scan — the
    libjpeg layout, VERDICT r6 item 5): a 3-scan 4:2:0 file must
    decode identically to its interleaved twin, across non-aligned
    dimensions, reordered scans, and per-scan restart numbering;
    block-constant content with the flat-8 table round-trips
    BIT-exactly (mm07's oracle property)."""
    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(31)
    ones = [1] * 64
    for h, w in ((16, 16), (15, 17), (33, 49), (5, 5)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        inter = _decode_jpeg(encode_jpeg(img, quant=ones, color_420=True))
        non = _decode_jpeg(
            encode_jpeg(img, quant=ones, color_420=True, interleaved=False)
        )
        assert non.shape == (h, w)
        assert np.array_equal(non, inter), (h, w)
    img = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    canonical = _decode_jpeg(
        encode_jpeg(img, quant=ones, color_420=True, interleaved=False)
    )
    for kwargs in (
        dict(scan_order=(2, 0, 1)),  # Y not the first scan
        dict(scan_order=(1, 2, 0)),
        dict(restart_interval=2),  # RSTn resets each scan
        dict(restart_interval=3, scan_order=(2, 1, 0)),
    ):
        dec = _decode_jpeg(
            encode_jpeg(
                img, quant=ones, color_420=True, interleaved=False, **kwargs
            )
        )
        assert np.array_equal(dec, canonical), kwargs
    # bit-exact: block-constant image, flat-8 quantization
    base = rng.integers(0, 32, size=(4, 6), dtype=np.uint8) * 8
    exact = np.kron(base, np.ones((8, 8), np.uint8))[:27, :41]
    flat = [8] + [255] * 63
    dec = _decode_jpeg(
        encode_jpeg(exact, quant=flat, color_420=True, interleaved=False)
    )
    assert np.array_equal(dec, exact)


def test_jpeg_progressive_roundtrip_matches_baseline():
    """SOF2 spectral-selection progressive (VERDICT r6 'what's
    missing' #2 — the most common real-lake JPEG after baseline):
    a DC scan + two AC band scans per component, with EOB-run coded
    zero blocks, must decode IDENTICALLY to the same image's
    baseline encoding — grayscale and 4:2:0, aligned and non-aligned
    sizes, dense (noise) and sparse (EOBRUN-heavy) content."""
    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(41)
    ones = [1] * 64
    for h, w in ((16, 16), (15, 17), (33, 49), (5, 5)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        for kw in (dict(), dict(color_420=True)):
            base = _decode_jpeg(encode_jpeg(img, quant=ones, **kw))
            prog = _decode_jpeg(
                encode_jpeg(img, quant=ones, progressive=True, **kw)
            )
            assert prog.shape == (h, w)
            assert np.array_equal(prog, base), (h, w, kw)
    # block-constant + flat-8 quant: bit-exact through the EOBRUN-
    # heavy path (every AC band of every block is a zero run)
    grid = rng.integers(0, 32, size=(4, 6), dtype=np.uint8) * 8
    exact = np.kron(grid, np.ones((8, 8), np.uint8))[:27, :41]
    flat = [8] + [255] * 63
    assert np.array_equal(
        _decode_jpeg(encode_jpeg(exact, quant=flat, progressive=True)),
        exact,
    )
    # sparse: one bright pixel -> a lone nonzero block interrupting
    # long EOB runs on both sides
    img = np.zeros((40, 72), np.uint8)
    img[20, 40] = 255
    assert np.array_equal(
        _decode_jpeg(encode_jpeg(img, quant=ones, progressive=True)),
        _decode_jpeg(encode_jpeg(img, quant=ones)),
    )


def test_jpeg_progressive_successive_approximation_roundtrip():
    """Full two-dimensional progression (spectral selection AND
    successive approximation — the libjpeg default script shape):
    Al=1 first scans + Ah=1/Al=0 refinement scans must reconstruct
    the EXACT coefficients, so decode equals the baseline decode
    bit-for-bit. Exercises DC arithmetic-shift + raw refinement
    bits, AC truncated point transform, newly-significant s=1
    codes, buffered correction bits, and EOB runs that still carry
    correction bits for their nonzero history."""
    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(43)
    ones = [1] * 64
    for h, w in ((16, 16), (15, 17), (33, 49), (5, 5)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        for kw in (dict(), dict(color_420=True)):
            base = _decode_jpeg(encode_jpeg(img, quant=ones, **kw))
            sa = _decode_jpeg(
                encode_jpeg(
                    img, quant=ones, progressive=True,
                    successive=True, **kw,
                )
            )
            assert np.array_equal(sa, base), (h, w, kw)
    # sparse content: long EOB runs whose covered blocks still carry
    # correction bits once the first scan made neighbors significant
    img = np.zeros((40, 72), np.uint8)
    img[20, 40] = 255
    assert np.array_equal(
        _decode_jpeg(
            encode_jpeg(
                img, quant=ones, progressive=True, successive=True
            )
        ),
        _decode_jpeg(encode_jpeg(img, quant=ones)),
    )


def test_jpeg_progressive_invalid_sa_header_rejected():
    """A refinement scan must declare Al = Ah - 1 (T.81 G.1.1.1.1);
    anything else is a malformed header, rejected not misdecoded."""
    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    payload = encode_jpeg(
        np.zeros((16, 16), np.uint8), quant=[1] * 64, progressive=True
    )
    # first SOS is the DC scan: FF DA len(2) ns=1 (cid, TdTa) Ss Se AhAl
    i = payload.index(b"\xff\xda")
    ahal = i + 4 + 1 + 2 + 2  # -> the AhAl byte
    assert payload[ahal] == 0
    for bad in (0x20, 0x31, 0x12):  # Ah with Al != Ah - 1
        with _pytest.raises(ValueError, match="Al = Ah - 1"):
            _decode_jpeg(
                payload[:ahal] + bytes([bad]) + payload[ahal + 1 :]
            )


def test_jpeg_partially_interleaved_scans_roundtrip():
    """r11 seam closure: 1 < Ns < Nf. A color stream split as
    ([Y, Cb] interleaved, [Cr] non-interleaved) — and the reverse
    grouping — must decode to the same Y plane as the fully
    interleaved encode, with restart markers working per scan; a
    malformed group (unknown component id) still raises."""
    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(47)
    img = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    ones = [1] * 64
    want = _decode_jpeg(encode_jpeg(img, quant=ones, color_420=True))
    for groups in (((0, 1), (2,)), ((2,), (0, 1)), ((1, 2), (0,))):
        payload = encode_jpeg(
            img, quant=ones, color_420=True, scan_groups=groups
        )
        # the wire really carries a 2-component scan
        i = payload.index(b"\xff\xda")
        assert payload[i + 4] == len(groups[0])
        got = _decode_jpeg(payload)
        assert (got == want).all(), groups
    # restart markers per scan
    payload = encode_jpeg(
        img, quant=ones, color_420=True,
        scan_groups=((0, 1), (2,)), restart_interval=2,
    )
    assert payload.count(b"\xff\xd0") >= 2
    assert (_decode_jpeg(payload) == want).all()
    with _pytest.raises(ValueError, match="partition"):
        encode_jpeg(img, quant=ones, color_420=True,
                    scan_groups=((0, 1),))
    with _pytest.raises(ValueError, match="partition"):
        encode_jpeg(img, quant=ones, scan_groups=((0, 1), (2,)))


def test_mp4_container_roundtrip_and_edge_boxes():
    """ISO BMFF walker: plain round-trip, 64-bit largesize, size==0
    (to-EOF), and v1 mvhd (64-bit duration) all parse; fragmented and
    truncated files raise at the seam."""
    import struct

    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import (
        encode_mp4_container,
        parse_mp4_metadata,
    )

    p = encode_mp4_container(duration=5000, timescale=1000, n_tracks=2,
                             mdat_size=77)
    assert parse_mp4_metadata(p) == {
        "major_brand": "isom", "timescale": 1000, "duration": 5000,
        "n_tracks": 2, "mdat_bytes": 77, "n_fragments": 0,
    }

    # rewrite the trailing mdat as a largesize (size==1 + 64-bit) box
    i = p.index(b"mdat") - 4
    body = p[i + 8 :]
    large = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", len(body) + 16)
        + body
    )
    assert parse_mp4_metadata(p[:i] + large)["mdat_bytes"] == 77

    # size==0: mdat extends to end of file
    zero = struct.pack(">I", 0) + b"mdat" + body
    assert parse_mp4_metadata(p[:i] + zero)["mdat_bytes"] == 77

    # v1 mvhd: 64-bit creation/modification/duration — build a minimal
    # file from scratch (patching in place would need moov resizing)
    def box(typ, b):
        return struct.pack(">I", len(b) + 8) + typ + b

    mvhd1 = box(
        b"mvhd",
        struct.pack(">I", 0x0100_0000)  # version 1, flags 0
        + struct.pack(">QQIQ", 0, 0, 90000, 1 << 33)
        + b"\x00" * 80,  # rate..next_track_ID (unread by the walker)
    )
    v1 = (
        box(b"ftyp", b"dash" + struct.pack(">I", 0))
        + box(b"moov", mvhd1 + box(b"trak", b""))
    )
    meta = parse_mp4_metadata(v1)
    assert (meta["major_brand"], meta["timescale"], meta["duration"]) == (
        "dash", 90000, 1 << 33,
    )
    assert meta["n_tracks"] == 1

    # a trailing (empty) moof no longer raises: fragments are counted
    assert parse_mp4_metadata(
        p + struct.pack(">I", 8) + b"moof"
    )["n_fragments"] == 1
    with _pytest.raises(ValueError):
        parse_mp4_metadata(p[: len(p) - 3])


def test_fmp4_fragmented_seek_layer():
    """fMP4 / DASH (14496-12 8.8): empty moov tables + mvex, media in
    moof(traf(tfhd + trun)) + mdat fragments. The seek layer must
    resolve per-sample byte ranges from trun sizes + default-base-is-
    moof addressing, numbering chunks by fragment and continuing
    sample ordinals across fragments; metadata takes the total
    duration from mehd (mvhd is 0, the streaming convention) and
    counts fragments."""
    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import (
        MEDIA_SCHEMA,
        encode_mp4_container,
        parse_mp4_metadata,
        parse_mp4_sample_ranges,
    )

    sizes = [[10, 20, 30, 40, 50], [7, 8, 9]]
    data = [
        [bytes([0x20 + t * 16 + i]) * s for i, s in enumerate(tk)]
        for t, tk in enumerate(sizes)
    ]
    p = encode_mp4_container(
        5000, n_tracks=2, sample_sizes=sizes, sample_data=data,
        fragment_samples=2,
    )
    meta = parse_mp4_metadata(p)
    assert meta["n_fragments"] == 5  # ceil(5/2) + ceil(3/2)
    assert meta["duration"] == 5000  # mvhd 0 -> mehd
    assert meta["mdat_bytes"] == sum(map(sum, sizes))

    rr = parse_mp4_sample_ranges(p)
    assert len(rr) == 8
    for s in rr:
        assert (
            p[s["offset"]:s["offset"] + s["size"]]
            == data[s["track_idx"]][s["sample_idx"]]
        )
        assert s["chunk_idx"] == s["sample_idx"] // 2
    # per-track ordinals are contiguous from 0
    for tk, n in ((0, 5), (1, 3)):
        assert sorted(
            s["sample_idx"] for s in rr if s["track_idx"] == tk
        ) == list(range(n))

    # offset-less truns (8.8.8.1) decode since r11: the builder's
    # base_data_offset layout omits every trun data_offset, and the
    # seek layer must resolve byte-identical sample content
    p2 = encode_mp4_container(
        5000, n_tracks=2, sample_sizes=sizes, sample_data=data,
        fragment_samples=2, trun_data_offsets=False,
    )
    assert p2.count(b"trun") == 5
    rr2 = parse_mp4_sample_ranges(p2)
    assert len(rr2) == 8
    for s in rr2:
        assert (
            p2[s["offset"]:s["offset"] + s["size"]]
            == data[s["track_idx"]][s["sample_idx"]]
        )
    _ = _pytest  # the seam is closed; nothing raises here any more


def test_sample_frames_range_reads_fmp4(spark):
    """Frame sampling must range-read fragmented mp4 payloads too —
    the DASH/streaming layout a video lake actually contains."""
    from big_data_bowl_spark.multimodal.media import (
        MEDIA_SCHEMA,
        encode_mp4_container,
        sample_frames,
    )

    sizes = [[11, 22, 33, 44, 55]]
    data = [[bytes([0x70 + i]) * s for i, s in enumerate(sizes[0])]]
    payload = encode_mp4_container(
        9000, n_tracks=1, sample_sizes=sizes, sample_data=data,
        fragment_samples=2,
    )
    media = spark.createDataFrame(
        [(9, "video", "mp4", 16, 9, 5, payload)], schema=MEDIA_SCHEMA
    )
    rows = sorted(
        (r.media_id, r.frame_idx, bytes(r.frame_payload))
        for r in sample_frames(media, every_n=2).collect()
    )
    assert rows == [
        (9, 0, data[0][0]),
        (9, 2, data[0][2]),
        (9, 4, data[0][4]),
    ]


def test_mp4_sample_index_roundtrip_and_forms():
    """stsz parsing: per-sample entry tables round-trip exactly, the
    constant-sample_size form expands correctly, tracks without a
    sample table report zero, and metadata parsing is unaffected by
    the added mdia chain."""
    import struct

    from big_data_bowl_spark.multimodal.media import (
        encode_mp4_container,
        parse_mp4_metadata,
        parse_mp4_sample_index,
    )

    p = encode_mp4_container(
        7000, n_tracks=3, mdat_size=64,
        sample_sizes=[[100, 120, 90], [55]],  # track 3 has no stbl
    )
    meta = parse_mp4_metadata(p)
    assert meta["n_tracks"] == 3 and meta["duration"] == 7000
    idx = parse_mp4_sample_index(p)
    assert [e["n_samples"] for e in idx] == [3, 1, 0]
    assert idx[0]["total_bytes"] == 310
    assert idx[0]["max_bytes"] == 120 and idx[0]["min_bytes"] == 90
    assert idx[1]["total_bytes"] == 55

    # constant-sample_size form (sample_size != 0, no entry table):
    # hand-patch a minimal stsz into the encoder's output shape
    def box(typ, payload):
        return struct.pack(">I", len(payload) + 8) + typ + payload

    stsz = box(b"stsz", struct.pack(">III", 0, 200, 4))
    stbl = box(b"stbl", stsz + box(b"stco", struct.pack(">II", 0, 0)))
    mdia = box(b"mdia", box(b"minf", stbl))
    trak = box(b"trak", mdia)
    moov = box(b"moov", trak)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512))
    idx2 = parse_mp4_sample_index(ftyp + moov)
    assert idx2 == [
        {
            "track_idx": 0,
            "n_samples": 4,
            "total_bytes": 800,
            "max_bytes": 200,
            "min_bytes": 200,
        }
    ]


def test_mp4_sample_index_truncated_raises_valueerror():
    """Truncated containers must fail with the documented ValueError
    (matching parse_mp4_metadata's contract), never a raw
    struct.error from an out-of-bounds header read."""
    import pytest

    from big_data_bowl_spark.multimodal.media import (
        encode_mp4_container,
        parse_mp4_sample_index,
    )

    p = encode_mp4_container(1000, n_tracks=1, sample_sizes=[[10, 20]])
    for cut in (3, 11, len(p) - 3):
        with pytest.raises(ValueError):
            parse_mp4_sample_index(p[:cut] if cut < 12 else p[:-3])


def test_mp4_stsz_count_overrun_raises_valueerror():
    """ADVICE r6: a malformed stsz whose sample_count points past the
    stsz box end must raise ValueError — neither silently reading
    sibling-box bytes as sizes nor surfacing a raw struct.error."""
    import struct

    import pytest

    from big_data_bowl_spark.multimodal.media import (
        encode_mp4_container,
        parse_mp4_sample_index,
        parse_mp4_sample_ranges,
    )

    p = encode_mp4_container(1000, n_tracks=1, sample_sizes=[[10, 20]])
    # patch the stsz sample_count (offset +8 hdr +8 ver/flags+fixed)
    # from 2 to 1000: entries would run far past the box (and file)
    i = p.index(b"stsz") + 4 + 8
    bad = p[:i] + struct.pack(">I", 1000) + p[i + 4:]
    with pytest.raises(ValueError, match="overruns"):
        parse_mp4_sample_index(bad)
    # count 9: overruns the box but stays inside the file — the
    # silently-wrong-stats case; must also raise
    bad9 = p[:i] + struct.pack(">I", 9) + p[i + 4:]
    with pytest.raises(ValueError, match="overruns"):
        parse_mp4_sample_index(bad9)
    # stsz shorter than its own 12-byte header
    j = p.index(b"stsz") - 4
    short = p[:j] + struct.pack(">I", 14) + p[j + 4:]
    with pytest.raises(ValueError):
        parse_mp4_sample_index(short)
    # the seek layer shares the same bounds checks
    chunked = encode_mp4_container(
        1000, n_tracks=1, sample_sizes=[[10, 20]], samples_per_chunk=2
    )
    k = chunked.index(b"stsz") + 4 + 8
    with pytest.raises(ValueError, match="overruns"):
        parse_mp4_sample_ranges(
            chunked[:k] + struct.pack(">I", 1000) + chunked[k + 4:]
        )


def test_mp4_seek_layer_slices_real_samples():
    """The full stsz x stsc x stco join: every parsed byte range,
    sliced out of the synthesized file, is bit-exactly the sample
    that went in — short tail chunks, multi-track sequential layout,
    and the 64-bit co64 path included (VERDICT r6 item 2)."""
    from big_data_bowl_spark.multimodal.media import (
        encode_mp4_container,
        parse_mp4_metadata,
        parse_mp4_sample_ranges,
    )

    sizes = [[10, 20, 30, 40, 50], [7, 8, 9]]
    data = [
        [bytes([0x40 + t * 8 + i]) * s for i, s in enumerate(tk)]
        for t, tk in enumerate(sizes)
    ]
    for spc, co64 in ((2, False), (3, True), (1, False), (100, False)):
        p = encode_mp4_container(
            5000, n_tracks=2, sample_sizes=sizes,
            samples_per_chunk=spc, sample_data=data, use_co64=co64,
        )
        got = parse_mp4_sample_ranges(p)
        assert len(got) == 8
        for s in got:
            assert s["chunk_idx"] == s["sample_idx"] // spc
            assert (
                p[s["offset"]:s["offset"] + s["size"]]
                == data[s["track_idx"]][s["sample_idx"]]
            )
        # the mdat carries exactly the sample bytes, metadata intact
        meta = parse_mp4_metadata(p)
        assert meta["mdat_bytes"] == sum(map(sum, sizes))
        assert meta["n_tracks"] == 2

    # metadata-only skeleton (no chunk layout): nothing to seek to
    legacy = encode_mp4_container(1000, n_tracks=1, sample_sizes=[[10]])
    assert parse_mp4_sample_ranges(legacy) == []


def test_sample_frames_range_reads_real_mp4(spark):
    """mm03's frame sampler, pointed at a REAL mp4 row: the emitted
    frames are the track-0 samples picked by stride, each sliced via
    the seek layer's byte ranges — not equal-width payload slices."""
    from big_data_bowl_spark.multimodal.media import (
        MEDIA_SCHEMA,
        encode_mp4_container,
        sample_frames,
    )

    sizes = [[11, 22, 33, 44, 55], [5, 6]]
    data = [
        [bytes([0x60 + t * 16 + i]) * s for i, s in enumerate(tk)]
        for t, tk in enumerate(sizes)
    ]
    payload = encode_mp4_container(
        9000, n_tracks=2, sample_sizes=sizes,
        samples_per_chunk=2, sample_data=data,
    )
    media = spark.createDataFrame(
        [
            (1, "video", "mp4", 16, 9, 5, payload),
            # a fake-codec video row still takes the legacy path
            (2, "video", "fake", 4, 2, 2, b"abcdef"),
            (3, "image", "fake", 4, 2, 0, b"xx"),
        ],
        schema=MEDIA_SCHEMA,
    )
    rows = sorted(
        (r.media_id, r.frame_idx, bytes(r.frame_payload))
        for r in sample_frames(media, every_n=2).collect()
    )
    assert rows == [
        (1, 0, data[0][0]),
        (1, 2, data[0][2]),
        (1, 4, data[0][4]),
        (2, 0, b"abc"),
    ]


def test_jpeg_16bit_quant_table_decodes():
    """Pq=1 DQT (16-bit quantization entries): re-emitting the same
    table in wide form must decode identically to the 8-bit file —
    and a table value > 255 (the reason Pq=1 exists) is honored."""
    import struct

    from big_data_bowl_spark.multimodal.media import _decode_jpeg, encode_jpeg

    rng = np.random.default_rng(47)
    img = rng.integers(0, 256, (17, 23), dtype=np.uint8)
    ones = [1] * 64
    p = encode_jpeg(img, quant=ones)
    # rewrite the DQT segment from Pq=0 (65-byte table) to Pq=1
    # (129-byte table) carrying the identical values
    i = p.index(b"\xff\xdb")
    body = p[i + 4 : i + 2 + struct.unpack_from(">H", p, i + 2)[0]]
    assert body[0] >> 4 == 0
    wide_body = bytes([0x10 | (body[0] & 0x0F)]) + b"".join(
        struct.pack(">H", v) for v in body[1:65]
    )
    wide = (
        p[:i]
        + struct.pack(">HH", 0xFFDB, len(wide_body) + 2)
        + wide_body
        + p[i + 4 + len(body):]
    )
    assert np.array_equal(_decode_jpeg(wide), _decode_jpeg(p))
    # invalid precision nibble is rejected
    import pytest as _pytest

    bad_body = bytes([0x20 | (body[0] & 0x0F)]) + body[1:]
    bad = (
        p[:i]
        + struct.pack(">HH", 0xFFDB, len(bad_body) + 2)
        + bad_body
        + p[i + 4 + len(body):]
    )
    with _pytest.raises(ValueError, match="DQT precision"):
        _decode_jpeg(bad)


def _png_chunks(*chunks):
    import struct
    import zlib

    out = b"\x89PNG\r\n\x1a\n"
    for ctype, data in chunks:
        out += (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )
    return out


def test_png_palette_and_subbyte_depths():
    """Color type 3 (PLTE-indexed) at depths 8/4/2/1 and sub-byte
    grayscale: indices unpack MSB-first from packed bytes, map
    through the palette to BT.601 luma; 1-bit gray scales 0/1 to
    0/255."""
    import struct
    import zlib

    # palette: idx0 = red (luma 76), idx1 = green (149), idx2 = blue (29)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])

    # depth 8: 3 pixels, one per palette entry
    ihdr = struct.pack(">IIBBBBB", 3, 1, 8, 3, 0, 0, 0)
    raster = b"\x00" + bytes([0, 1, 2])
    p = _png_chunks(
        (b"IHDR", ihdr), (b"PLTE", plte),
        (b"IDAT", zlib.compress(raster)), (b"IEND", b""),
    )
    assert decode_payload(p, "png", 3, 1).tolist() == [[76, 149, 29]]

    # depth 4: indices 0,1,2 pack two-per-byte MSB-first
    ihdr = struct.pack(">IIBBBBB", 3, 1, 4, 3, 0, 0, 0)
    raster = b"\x00" + bytes([0x01, 0x20])  # (0,1), (2,pad)
    p = _png_chunks(
        (b"IHDR", ihdr), (b"PLTE", plte),
        (b"IDAT", zlib.compress(raster)), (b"IEND", b""),
    )
    assert decode_payload(p, "png", 3, 1).tolist() == [[76, 149, 29]]

    # depth 1 palette: 8 pixels alternating 0,1
    ihdr = struct.pack(">IIBBBBB", 8, 1, 1, 3, 0, 0, 0)
    raster = b"\x00" + bytes([0b01010101])
    p = _png_chunks(
        (b"IHDR", ihdr), (b"PLTE", plte),
        (b"IDAT", zlib.compress(raster)), (b"IEND", b""),
    )
    assert decode_payload(p, "png", 8, 1).tolist() == [[76, 149] * 4]

    # depth 1 GRAYSCALE: bits scale to 0/255
    ihdr = struct.pack(">IIBBBBB", 8, 1, 1, 0, 0, 0, 0)
    raster = b"\x00" + bytes([0b10110001])
    p = _png_chunks(
        (b"IHDR", ihdr), (b"IDAT", zlib.compress(raster)), (b"IEND", b""),
    )
    assert decode_payload(p, "png", 8, 1).tolist() == [
        [255, 0, 255, 255, 0, 0, 0, 255]
    ]


def test_png_alpha_channels_dropped():
    """Gray+alpha (4) and RGBA (6): the alpha byte advances the
    filter stride but is dropped in the output."""
    import struct
    import zlib

    # RGBA 2x1: red@50%, green@0% -> luma ignores alpha
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0)
    raster = b"\x00" + bytes([255, 0, 0, 128, 0, 255, 0, 0])
    p = _png_chunks(
        (b"IHDR", ihdr), (b"IDAT", zlib.compress(raster)), (b"IEND", b""),
    )
    assert decode_payload(p, "png", 2, 1).tolist() == [[76, 149]]

    # gray+alpha with a Sub filter: bpp=2, so Sub predicts from the
    # value two bytes back (the previous PIXEL's gray, not its alpha)
    ihdr = struct.pack(">IIBBBBB", 3, 1, 8, 4, 0, 0, 0)
    # pixels (10, a=1), (+5 -> 15, a+0=1), (+7 -> 22, a+9=10)
    raster = b"\x01" + bytes([10, 1, 5, 0, 7, 9])
    p = _png_chunks(
        (b"IHDR", ihdr), (b"IDAT", zlib.compress(raster)), (b"IEND", b""),
    )
    assert decode_payload(p, "png", 3, 1).tolist() == [[10, 15, 22]]


def test_png_adam7_interlace_roundtrip():
    """Adam7: seven independently-filtered sub-rasters scatter back
    to the pixel grid — the de-interlaced image must equal the same
    pixels decoded from a non-interlaced file, for sizes that leave
    several passes empty."""
    import struct
    import zlib

    rng = np.random.default_rng(53)
    for h, w in ((8, 8), (9, 13), (3, 3), (1, 1), (2, 5)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        # non-interlaced reference file
        ihdr0 = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        plain = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
        ref = _png_chunks(
            (b"IHDR", ihdr0), (b"IDAT", zlib.compress(plain)),
            (b"IEND", b""),
        )
        # Adam7 file: passes in spec order, filter 0 rows
        passes = [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]
        inter = bytearray()
        for x0, y0, dx, dy in passes:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                inter += b"\x00" + row.tobytes()
        ihdr1 = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)
        lace = _png_chunks(
            (b"IHDR", ihdr1), (b"IDAT", zlib.compress(bytes(inter))),
            (b"IEND", b""),
        )
        got = decode_payload(lace, "png", w, h)
        want = decode_payload(ref, "png", w, h)
        assert np.array_equal(got, want) and np.array_equal(want, img)


def test_wav_8bit_and_stereo_variants():
    """8-bit unsigned PCM recenters/scales to int16; stereo downmixes
    by per-frame mean; 24-bit stays an honest seam."""
    import io
    import wave

    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import decode_audio

    def wav(width, nch, frames_bytes, rate=16000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(nch)
            wf.setsampwidth(width)
            wf.setframerate(rate)
            wf.writeframes(frames_bytes)
        return buf.getvalue()

    # 8-bit: 128 is silence, 0 / 255 are the rails
    got = decode_audio(wav(1, 1, bytes([128, 0, 255, 192])), "wav")
    assert got.tolist() == [0, -32768, 32512, 16384]

    # stereo 16-bit: per-frame mean
    frames = np.array([100, 300, -50, 50, 7, 8], "<i2").tobytes()
    got = decode_audio(wav(2, 2, frames), "wav")
    assert got.tolist() == [200, 0, 8]  # (7+8)/2 rounds half-even -> 8

    # 24-bit decodes since r11 (seam closed): two zero samples
    got = decode_audio(wav(3, 1, b"\x00" * 6), "wav")
    assert got.tolist() == [0, 0]
    # stereo 24-bit downmix composes with the width conversion
    frames = b"".join(
        bytes([(v >> 0) & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF])
        for v in [100 << 8, 300 << 8, (-50 << 8) + (1 << 24), 50 << 8]
    )
    got = decode_audio(wav(3, 2, frames), "wav")
    assert got.tolist() == [200, 0]
    _ = _pytest  # seam removed; decode_audio no longer raises here


def test_exif_roundtrip_both_endians_and_edge_cases():
    """APP1/TIFF walker: both byte orders, inline + out-of-line
    values, the Exif sub-IFD chain; a JPEG without APP1 yields {};
    malformed TIFF structures raise ValueError; and the image still
    decodes with the segment spliced in."""
    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import (
        _decode_jpeg,
        encode_exif_app1,
        encode_jpeg,
        insert_app1,
        parse_exif,
    )

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    base = encode_jpeg(img, quant=[1] * 64)
    fields = {
        "make": "CamCo", "model": "X100", "orientation": 6,
        "x_resolution": (300, 2), "datetime": "2024:01:02 03:04:05",
        "pixel_x": 640, "pixel_y": 480,
    }
    for be in (False, True):
        j = insert_app1(base, encode_exif_app1(fields, big_endian=be))
        meta = parse_exif(j)
        assert meta == {
            "byte_order": "MM" if be else "II",
            "make": "CamCo", "model": "X100", "orientation": 6,
            "x_resolution": 150.0,  # RATIONAL 300/2
            "datetime": "2024:01:02 03:04:05",
            "pixel_x": 640, "pixel_y": 480,
        }
        # splicing the segment must not disturb the decode
        assert np.array_equal(_decode_jpeg(j), _decode_jpeg(base))

    assert parse_exif(base) == {}  # no APP1: empty, not an error
    # minimal fields, no sub-IFD
    j = insert_app1(base, encode_exif_app1({"orientation": 3}))
    assert parse_exif(j)["orientation"] == 3

    # malformed: bad byte order mark / truncated IFD. Truncation must
    # be length-consistent (a shorter segment with a matching length
    # field), otherwise the following JPEG bytes just slide into the
    # declared body and parse as garbage-but-in-bounds values.
    import struct

    app1 = encode_exif_app1(fields)
    bad = app1[:10] + b"XX" + app1[12:]
    with _pytest.raises(ValueError, match="byte order"):
        parse_exif(insert_app1(base, bad))
    short_body = app1[4:20]  # 'Exif\0\0' + 10 TIFF bytes
    short = b"\xff\xe1" + struct.pack(">H", len(short_body) + 2) + short_body
    with _pytest.raises(ValueError):
        parse_exif(insert_app1(base, short))


def test_netpbm_16bit_gray_and_color():
    """16-bit netpbm (2-byte big-endian samples): maxval = 65535 with
    v = u*257 recovers u exactly; a P6 16-bit red/green pair reduces
    to the same BT.601 luma as the 8-bit path."""
    import struct

    img = _img44()
    body = (img.astype(">u2") * 257).tobytes()
    p5 = b"P5\n4 4\n65535\n" + body
    assert decode_payload(p5, "pgm", 4, 4).tolist() == img.tolist()

    px = struct.pack(">6H", 65535, 0, 0, 0, 65535, 0)
    p6 = b"P6\n2 1\n65535\n" + px
    assert decode_payload(p6, "ppm", 2, 1).tolist() == [[76, 149]]


def test_bmp_rle8_roundtrip_with_escapes():
    """Hand-built BI_RLE8 BMP exercising every opcode: encoded runs,
    absolute mode (with word padding), end-of-line, delta skip, end of
    bitmap. Identity-gray palette, bottom-up rows."""
    import struct

    w, h = 6, 3
    palette = b"".join(bytes([i, i, i, 0]) for i in range(256))
    # target rows (top-down): row0 = run of 5s + one 7 (absolute);
    # row1 = delta-skip 2 (zeros) then run of 9s;
    # row2 = absolute run of 1..4 padded, then 0s to row end
    # bottom-up: the FIRST encoded row is the BOTTOM image row
    rle = (
        bytes([4, 1])            # bottom row: 4 pixels of index 1
        + bytes([0, 3, 2, 3, 4, 0])  # absolute: literals 2,3,4 + pad
        # (the 4 falls past x=6 and is clipped)
        + bytes([0, 0])          # end of line -> y=1
        + bytes([0, 2, 2, 1])    # delta: 2 right, 1 row up -> (2, 2);
        #                          skipped pixels stay index 0
        + bytes([3, 9])          # three pixels of index 9
        + bytes([0, 1])          # end of bitmap
    )
    data_offset = 14 + 40 + len(palette)
    hdr = (
        b"BM" + struct.pack("<IHHI", data_offset + len(rle), 0, 0, data_offset)
        + struct.pack("<Iii", 40, w, h)
        + struct.pack("<HHI", 1, 8, 1)  # planes, bpp, BI_RLE8
        + struct.pack("<IiiII", len(rle), 0, 0, 256, 0)
    )
    payload = hdr + palette + rle
    got = decode_payload(payload, "bmp", w, h)
    want = [
        [0, 0, 9, 9, 9, 0],       # delta target row (encoded last)
        [0, 0, 0, 0, 0, 0],       # row skipped entirely by the delta
        [1, 1, 1, 1, 2, 3],       # bottom (encoded first)
    ]
    assert got.tolist() == want, got.tolist()


def test_gif_roundtrip_exact_and_table_reset():
    """Animated GIF89a: LZW is lossless, so decode(encode(frames)) is
    bit-exact — including a noise frame large enough to fill the 4096-
    entry LZW table and force the mid-stream CLEAR/reset path."""
    from big_data_bowl_spark.multimodal.media import (
        decode_gif_frames,
        encode_gif,
    )

    rng = np.random.default_rng(11)
    frames = [
        rng.integers(0, 256, (9, 13)).astype(np.uint8) for _ in range(4)
    ]
    got, pal = decode_gif_frames(encode_gif(frames, delay_cs=7))
    assert len(got) == 4
    assert all((a == b).all() for a, b in zip(got, frames))
    assert pal.shape == (256, 3) and (pal[:, 0] == np.arange(256)).all()

    noise = rng.integers(0, 256, (80, 160)).astype(np.uint8)
    got, _ = decode_gif_frames(encode_gif([noise]))
    assert (got[0] == noise).all()


def test_gif_matches_javax_imageio(tmp_path):
    """Spec-compliance cross-check against an INDEPENDENT decoder:
    javax.imageio (present wherever Spark runs). A symmetric LZW bug
    (e.g. the early-change code-width off-by-one) would pass the
    self-round-trip above but fail this."""
    import os
    import subprocess

    java_home = os.environ.get("JAVA_HOME")
    if not java_home or not os.path.exists(f"{java_home}/bin/java"):
        pytest.skip("no JAVA_HOME")

    from big_data_bowl_spark.multimodal.media import encode_gif

    src = tmp_path / "GifDump.java"
    src.write_text(
        """
import javax.imageio.ImageIO;
import javax.imageio.ImageReader;
import javax.imageio.stream.ImageInputStream;
import java.awt.image.BufferedImage;
import java.io.*;
import java.util.Iterator;
public class GifDump {
  public static void main(String[] a) throws Exception {
    ImageInputStream s = ImageIO.createImageInputStream(new File(a[0]));
    Iterator<ImageReader> it = ImageIO.getImageReaders(s);
    ImageReader r = it.next();
    r.setInput(s);
    DataOutputStream o = new DataOutputStream(
        new BufferedOutputStream(new FileOutputStream(a[1])));
    for (int i = 0; i < r.getNumImages(true); i++) {
      BufferedImage b = r.read(i);
      for (int y = 0; y < b.getHeight(); y++)
        for (int x = 0; x < b.getWidth(); x++)
          o.writeByte(b.getRGB(x, y) & 0xFF);
    }
    o.close();
  }
}
"""
    )
    subprocess.run(
        [f"{java_home}/bin/javac", str(src)], check=True, cwd=tmp_path
    )
    rng = np.random.default_rng(5)
    frames = [
        rng.integers(0, 256, (60, 130)).astype(np.uint8),
        ((np.arange(60)[:, None] * 3 + np.arange(130)[None, :] * 5) % 256
         ).astype(np.uint8),
    ]
    gif = tmp_path / "t.gif"
    gif.write_bytes(encode_gif(frames))
    raw = tmp_path / "t.raw"
    subprocess.run(
        [f"{java_home}/bin/java", "-cp", str(tmp_path), "GifDump",
         str(gif), str(raw)],
        check=True,
    )
    got = np.fromfile(raw, dtype=np.uint8)
    want = np.concatenate([f.reshape(-1) for f in frames])
    assert got.shape == want.shape and (got == want).all()


def test_animate_control_surfaces_sink(spark, sf_dir, tmp_path):
    """The gganimate-analogue sink end-to-end: e03's first frames ->
    animated GIF on disk, decodable by the repo's own decoder with one
    frame per frame_id and the diverging palette."""
    from big_data_bowl_spark.multimodal.media import decode_gif_frames
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sinks.viz import (
        animate_control_surfaces,
        diverging_palette,
    )

    surfaces = REGISTRY["e03_field_control_season"].fn(spark, sf_dir)
    three = surfaces.filter("frame_id < 3")
    path = animate_control_surfaces(three, str(tmp_path / "play.gif"))
    frames, pal = decode_gif_frames(open(path, "rb").read())
    n_frames = three.select("frame_id").distinct().count()
    assert len(frames) == n_frames >= 1
    assert (pal == diverging_palette()).all()
    h, w = frames[0].shape
    assert (
        three.select("grid_x").distinct().count() == w
        and three.select("grid_y").distinct().count() == h
    )


def test_save_table_html_sink(spark, sf_dir, tmp_path):
    """The gt-table analogue: a7's contingency table rendered to a
    self-contained HTML file — headers, formatted floats, escaping."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sinks.viz import save_table_html

    agg = REGISTRY["a07_contingency_table"].fn(spark, sf_dir)
    path = save_table_html(
        agg, str(tmp_path / "t.html"), title="returnflag <&> linestatus"
    )
    doc = open(path, encoding="utf-8").read()
    assert doc.startswith("<!DOCTYPE html>")
    for c in agg.columns:
        assert f"<th>{c}</th>" in doc
    assert "returnflag &lt;&amp;&gt; linestatus" in doc
    assert doc.count("<tr>") == agg.count() + 1


def test_netpbm_sample_above_maxval_raises():
    """ADVICE r8: a 16-bit netpbm sample above the declared maxval must
    raise instead of scaling past 255 and wrapping on the uint8 cast."""
    import struct

    import pytest

    # maxval 1000, one sample at 4000 (legal wire encoding, illegal value)
    p5 = b"P5\n1 1\n1000\n" + struct.pack(">H", 4000)
    with pytest.raises(ValueError, match="exceeds declared maxval"):
        decode_payload(p5, "pgm", 1, 1)


def test_truncated_gif_raises_value_error():
    """ADVICE r8: truncation anywhere in the block stream must surface
    as the documented ValueError, not an IndexError."""
    import numpy as np
    import pytest

    from big_data_bowl_spark.multimodal.media import (
        decode_gif_frames,
        encode_gif,
    )

    frame = (np.arange(16, dtype=np.uint8) * 3).reshape(4, 4)
    full = encode_gif([frame, frame.T.copy()])
    # sweep EVERY cut point in the block stream past the header/global
    # color table: each must either raise the documented ValueError or
    # (at a block boundary) return a clean partial decode — never an
    # IndexError / struct.error
    raised = 0
    for cut in range(13, len(full)):
        try:
            decode_gif_frames(full[:cut])
        except ValueError:
            raised += 1
        except NotImplementedError:
            pass  # cut inside a flags byte can mimic an unsupported mode
    assert raised > 50  # most interior cuts are mid-structure


def test_zorder_quantize_degenerate_range_raises(spark):
    """ADVICE r8: quantize on an empty [lo, hi] range must refuse
    rather than divide by zero into NaN/null codes."""
    import pytest

    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.zorder import quantize, quantize_sql

    with pytest.raises(ValueError, match="lo < hi"):
        quantize(F.col("x"), 5.0, 5.0, 8)
    with pytest.raises(ValueError, match="lo < hi"):
        quantize_sql("x", 7.0, 3.0, 8)


def test_control_frames_sparse_grid_raises(spark):
    """ADVICE r8: a control surface missing grid cells must raise in
    control_frames instead of casting NaN to uint8 garbage."""
    import pytest

    from big_data_bowl_spark.sinks.viz import control_frames

    df = spark.createDataFrame(
        # 2x2 grid with one missing cell -> NaN after the pandas pivot
        [(1, 0, 0, 0.5), (1, 0, 1, 0.25), (1, 1, 0, 1.0)],
        "frame_id int, grid_x int, grid_y int, control double",
    )
    with pytest.raises(ValueError, match="missing"):
        control_frames(df)


def test_animate_play_sink(spark, sf_dir, tmp_path):
    """The animated play-plot sink (Tutorial.R:71-122): E2's derived
    players advanced along their velocity over 4 synthetic frames ->
    GIF with field furniture, team-colored markers, jersey digits."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_data_bowl_spark.multimodal.media import decode_gif_frames
    from big_data_bowl_spark.queries.pipelines import _players
    from big_data_bowl_spark.plans.e2_control import attach_kinematics
    from big_data_bowl_spark.sinks.viz import (
        _FIELD_BG,
        _FIELD_LINE,
        _TEAM_IDX,
        animate_play,
        field_palette,
    )

    kin = _players(spark, sf_dir).transform(attach_kinematics).limit(8)
    frames_ix = spark.range(4).select(F.col("id").alias("frame_id"))
    tracking = kin.crossJoin(F.broadcast(frames_ix)).select(
        "frame_id",
        # clamp the projected path to the field so markers stay visible
        F.least(
            F.greatest(F.col("px") + F.col("v_x") * 0.1 * F.col("frame_id"),
                       F.lit(0.0)), F.lit(120.0)
        ).alias("px"),
        F.least(
            F.greatest(F.col("py") + F.col("v_y") * 0.1 * F.col("frame_id"),
                       F.lit(0.0)), F.lit(160.0 / 3.0)
        ).alias("py"),
        "team",
        (F.col("player_id") % 100).alias("jersey"),
    )
    path = animate_play(
        tracking, str(tmp_path / "play.gif"), jersey_col="jersey"
    )
    frames, pal = decode_gif_frames(open(path, "rb").read())
    assert len(frames) == 4
    assert (pal == field_palette()).all()
    f0 = frames[0]
    # field furniture present: turf majority, line pixels, both teams
    assert (f0 == _FIELD_BG).mean() > 0.5
    assert (f0 == _FIELD_LINE).sum() > 100
    teams = {r.team for r in tracking.select("team").distinct().collect()}
    for tname in teams:
        assert (f0 == _TEAM_IDX[tname]).sum() > 10, tname
    # players moved: some frame differs from frame 0
    assert any(not np.array_equal(f0, f) for f in frames[1:])


def test_animate_play_rejects_null_coords(spark, tmp_path):
    import pytest

    from big_data_bowl_spark.sinks.viz import animate_play

    df = spark.createDataFrame(
        [(0, None, 10.0, "home")],
        "frame_id int, px double, py double, team string",
    )
    with pytest.raises(ValueError, match="null coordinates"):
        animate_play(df, str(tmp_path / "x.gif"))


def test_save_ridgeline_html_sink(spark, sf_dir, tmp_path):
    """The geom_density_ridges analogue: a21's oracle-checked bins
    table -> stacked SVG ridges, one polygon + label per group, x-zero
    line only when 0 is inside the range."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sinks.viz import save_ridgeline_html

    bins = REGISTRY["a21_grouped_histogram"].fn(spark, sf_dir)
    path = save_ridgeline_html(
        bins, str(tmp_path / "ridges.html"), title="value ridge"
    )
    doc = open(path, encoding="utf-8").read()
    assert doc.startswith("<!DOCTYPE html>")
    n_groups = bins.select("grp").distinct().count()
    assert doc.count("<polygon") == n_groups
    for r in bins.select("grp").distinct().collect():
        assert f">{r.grp}</text>" in doc
    assert "value ridge" in doc


def test_save_ridgeline_empty_bins_raises(spark, tmp_path):
    import pytest

    from big_data_bowl_spark.sinks.viz import save_ridgeline_html

    empty = spark.createDataFrame(
        [], "grp string, bin_lo double, bin_hi double, n long"
    )
    with pytest.raises(ValueError, match="empty bins"):
        save_ridgeline_html(empty, str(tmp_path / "r.html"))


def test_image_dhash_brightness_invariant_and_neardup(spark):
    """mm15's operator properties: dHash is invariant under monotone
    brightness change (ordinal comparisons), and a small perturbation
    moves only a few bits — while a structurally different image moves
    many."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import image_dhash

    rng = np.random.RandomState(7)
    base = rng.randint(0, 180, size=(8, 16), dtype=np.uint8)
    brighter = (base + 60).astype(np.uint8)          # monotone, no clip
    tweaked = base.copy()
    tweaked[3, 5] = np.uint8(min(179, int(tweaked[3, 5]) + 4))
    different = rng.randint(0, 180, size=(8, 16), dtype=np.uint8)

    rows = [
        (i, "image", "fake", 16, 8, 1, bytearray(a.tobytes()))
        for i, a in enumerate((base, brighter, tweaked, different))
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, media_type string, format string, width int, "
        "height int, n_frames int, payload binary",
    )
    got = {r.media_id: r.dhash for r in image_dhash(media).collect()}
    assert got[0] == got[1], "monotone brightness must not change dHash"
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert 0 <= ham(got[0], got[2]) <= 6
    assert ham(got[0], got[3]) > 6


def test_video_frame_dhashes_slice_parity(spark, sf_dir):
    """mm16's frame hashes must cover exactly mm03's non-empty frames
    (same slice arithmetic), and a video paired with its bytewise
    duplicate must surface at containment 1.0."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.multimodal.media import (
        as_media_table,
        sample_frames,
        video_frame_dhashes,
    )
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    media = as_media_table(load_table(spark, sf_dir, "documents")).filter(
        (F.col("media_type") == "video") & (F.col("n_frames") > 0)
    )
    dh = video_frame_dhashes(media)
    # every frame emitted once per (video, frame)
    n_frames_expected = (
        media.select(
            F.least(
                F.col("n_frames"),
                # frames past the payload end are empty and skipped
                F.ceil(
                    F.octet_length("payload")
                    / F.greatest(
                        F.floor(
                            F.octet_length("payload") / F.col("n_frames")
                        ),
                        F.lit(1),
                    )
                ),
            ).alias("k")
        )
        .agg(F.sum("k"))
        .collect()[0][0]
    )
    assert dh.count() == n_frames_expected

    # plant an exact duplicate video pair -> containment 1.0
    two = media.limit(1).collect()[0]
    dup = spark.createDataFrame(
        [
            (1000001, "video", "fake", two.width, two.height,
             two.n_frames, bytes(two.payload)),
            (1000002, "video", "fake", two.width, two.height,
             two.n_frames, bytes(two.payload)),
        ],
        "media_id long, media_type string, format string, width int, "
        "height int, n_frames int, payload binary",
    )
    hs = (
        video_frame_dhashes(dup)
        .filter(F.col("fhash") != 0)
        .select("media_id", "fhash")
        .distinct()
    )
    a = {r.fhash for r in hs.filter("media_id = 1000001").collect()}
    b = {r.fhash for r in hs.filter("media_id = 1000002").collect()}
    assert a and a == b


def test_mm17_peak_detection_exact(spark, sf_dir):
    """mm17's threshold-free peak detection must recover EXACTLY the
    synthesized tone bins for every audio clip (integer-cycle tones
    concentrate all energy; codec round-trip must not smear it)."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.multimodal import MM17_TONE_MULTS

    # re-run just the peaks stage via the registered query's pair
    # output is indirect; assert on the oracle identity instead:
    # every pair's shared count equals the closed-form bin overlap
    rows = REGISTRY["mm17_audio_fingerprint_neardup"].fn(
        spark, sf_dir
    ).collect()
    assert rows, "no near-dup audio pairs found (vacuous)"
    for r in rows[:20]:
        bins_a = {(r.id_a * m) % 160 + 8 for m in MM17_TONE_MULTS}
        bins_b = {(r.id_b * m) % 160 + 8 for m in MM17_TONE_MULTS}
        assert r.n_shared == len(bins_a & bins_b) >= 2


def test_bmp_rle8_truncation_raises_value_error():
    """RLE8 payloads cut mid-delta or mid-absolute-run must raise the
    documented ValueError, not IndexError (the GIF walkers' contract,
    applied to BMP)."""
    import struct

    import pytest

    w, h = 6, 3
    palette = b"".join(bytes([i, i, i, 0]) for i in range(256))

    def bmp(rle: bytes) -> bytes:
        data_offset = 14 + 40 + len(palette)
        hdr = (
            b"BM"
            + struct.pack(
                "<IHHI", data_offset + len(rle), 0, 0, data_offset
            )
            + struct.pack("<Iii", 40, w, h)
            + struct.pack("<HHI", 1, 8, 1)
            + struct.pack("<IiiII", len(rle), 0, 0, 256, 0)
        )
        return hdr + palette + rle

    # delta escape (0, 2) with the (dx, dy) bytes missing entirely
    with pytest.raises(ValueError, match="truncated BMP RLE8"):
        decode_payload(bmp(bytes([4, 1, 0, 2])), "bmp", w, h)
    # delta escape with only dx present
    with pytest.raises(ValueError, match="truncated BMP RLE8"):
        decode_payload(bmp(bytes([4, 1, 0, 2, 1])), "bmp", w, h)
    # absolute mode announcing 5 literals but carrying 2
    with pytest.raises(ValueError, match="truncated BMP RLE8"):
        decode_payload(bmp(bytes([0, 5, 7, 7])), "bmp", w, h)


def test_play_frames_reference_orientation(spark):
    """ADVICE r9: Tutorial.R:104 renders players at x = (xmax - y), so
    a player at y≈0 must land near the RIGHT edge of the raster and a
    player at y≈53.3 near the LEFT edge — the field furniture is
    symmetric, so only this assertion pins the orientation."""
    import numpy as np

    from big_data_bowl_spark.sinks.viz import _TEAM_IDX, play_frames

    df = spark.createDataFrame(
        [(0, 60.0, 1.0, "home"), (0, 60.0, 52.0, "away")],
        "frame_id int, px double, py double, team string",
    )
    (img,) = play_frames(df, px_per_yard=4)
    h, w = img.shape
    home_cols = np.where((img == _TEAM_IDX["home"]).any(axis=0))[0]
    away_cols = np.where((img == _TEAM_IDX["away"]).any(axis=0))[0]
    # y=1 → right side (mirrored), y=52 → left side
    assert home_cols.mean() > 0.8 * w
    assert away_cols.mean() < 0.2 * w


def test_gif_local_color_tables_roundtrip_and_rgb():
    """r11 seam closure: per-frame local color tables (with and
    without a global table) must round-trip indices exactly, and
    decode_gif_frames_rgb must resolve each frame through ITS table —
    local overriding global per GIF89a §20-21 — against a pure-numpy
    palette lookup."""
    import numpy as np
    import pytest

    from big_data_bowl_spark.multimodal.media import (
        decode_gif_frames,
        decode_gif_frames_rgb,
        encode_gif,
    )

    rng = np.random.default_rng(11)
    frames = [
        rng.integers(0, 256, size=(5, 7), dtype=np.uint8)
        for _ in range(3)
    ]
    ident = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    locs = [np.roll(ident, k * 17, axis=0) for k in range(3)]

    # locals over a global: indices survive, rgb uses the LOCAL table
    payload = encode_gif(frames, local_palettes=locs)
    got, pal = decode_gif_frames(payload)
    assert all((g == f).all() for g, f in zip(got, frames))
    assert pal is not None and pal.shape == (256, 3)
    rgb = decode_gif_frames_rgb(payload)
    for r, f, lp in zip(rgb, frames, locs):
        assert (r == lp[f]).all()

    # mixed: frame 1 falls back to the global table
    payload = encode_gif(frames, local_palettes=[locs[0], None, locs[2]])
    rgb = decode_gif_frames_rgb(payload)
    assert (rgb[1] == ident[frames[1]]).all()
    assert (rgb[0] == locs[0][frames[0]]).all()

    # no global table at all: decode still yields indices, palette None
    payload = encode_gif(frames, local_palettes=locs, include_global=False)
    got, pal = decode_gif_frames(payload)
    assert pal is None
    assert all((g == f).all() for g, f in zip(got, frames))
    rgb = decode_gif_frames_rgb(payload)
    for r, f, lp in zip(rgb, frames, locs):
        assert (r == lp[f]).all()

    # spec guards: omitting the global needs a local on EVERY frame;
    # a colorless stream has no defined rgb
    with pytest.raises(ValueError, match="local palette on every frame"):
        encode_gif(frames, local_palettes=[locs[0], None, locs[2]],
                   include_global=False)


def test_gif_interlaced_roundtrip_and_known_order():
    """r11 seam closure #2: Appendix-E interlacing. The 4-pass row
    order is pinned on a tiny known case (h=5 -> stored order
    [0,4,2,1,3]), the encode->decode round-trip must recover indices
    exactly at several awkward heights (including h<8 where passes
    are empty), interlace must compose with local color tables, and
    a NON-interlaced decode of interlaced bytes must NOT equal the
    original (the de-interleave is real, not a no-op)."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        _gif_interlace_order,
        decode_gif_frames,
        encode_gif,
    )

    assert _gif_interlace_order(5) == [0, 4, 2, 1, 3]
    assert _gif_interlace_order(1) == [0]
    assert _gif_interlace_order(8) == [0, 4, 2, 6, 1, 3, 5, 7]
    # every order is a permutation
    for h in (1, 2, 3, 7, 8, 9, 16, 23):
        assert sorted(_gif_interlace_order(h)) == list(range(h))

    rng = np.random.default_rng(7)
    for h, w in [(1, 4), (2, 3), (5, 5), (9, 4), (23, 3)]:
        frames = [
            rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            for _ in range(2)
        ]
        payload = encode_gif(frames, interlace=True)
        got, _ = decode_gif_frames(payload)
        assert all((g == f).all() for g, f in zip(got, frames))

    # composes with local tables; and the row permutation is real:
    # clearing the interlace flag on the same bytes mis-orders rows
    frames = [rng.integers(0, 256, size=(11, 6), dtype=np.uint8)]
    ident = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    payload = encode_gif(
        frames, local_palettes=[np.roll(ident, 3, axis=0)],
        interlace=True,
    )
    got, _ = decode_gif_frames(payload)
    assert (got[0] == frames[0]).all()
    flat = bytearray(payload)
    # image descriptor lives at a computable offset: header+global
    # table (13+768) + netscape ext (19) + graphic control (8);
    # clear bit 6 of its flags byte (offset +9)
    i = 13 + 768 + 19 + 8
    assert flat[i] == 0x2C
    assert flat[i + 9] & 0x40
    flat[i + 9] &= ~0x40
    wrong, _ = decode_gif_frames(bytes(flat))
    assert not (wrong[0] == frames[0]).all()
    # ...and it differs by exactly the documented row permutation:
    # the raw raster IS the frame in transmission order
    assert (
        wrong[0] == frames[0][_gif_interlace_order(11)]
    ).all()


def test_gif_partial_frames_composite_like_reference():
    """r11 seam closure #3 (the last GIF seam): partial-frame delta
    animations. Random subrect paints with all four disposal methods
    and a transparent index must composite exactly like a pure-numpy
    reference of GIF89a §23, in both the index view and the RGB view
    (which resolves tables at paint time)."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        decode_gif_frames,
        decode_gif_frames_rgb,
        encode_gif,
    )

    rng = np.random.default_rng(23)
    sw, sh = 13, 9
    t_idx = 7
    n = 6
    frames, offsets, disposals = [], [], []
    first = rng.integers(0, 256, size=(sh, sw), dtype=np.uint8)
    frames.append(first); offsets.append((0, 0)); disposals.append(0)
    for i in range(1, n):
        fh = int(rng.integers(1, sh + 1))
        fw = int(rng.integers(1, sw + 1))
        fr = rng.integers(0, 256, size=(fh, fw), dtype=np.uint8)
        fr.flat[0] = t_idx  # plant a transparent pixel per frame
        frames.append(fr)
        offsets.append(
            (int(rng.integers(0, sw - fw + 1)),
             int(rng.integers(0, sh - fh + 1)))
        )
        disposals.append(int(rng.integers(0, 4)))

    payload = encode_gif(
        frames,
        offsets=offsets,
        screen=(sw, sh),
        disposals=disposals,
        transparent_idx=t_idx,
    )
    got, pal = decode_gif_frames(payload)

    # pure-python §23 reference (background index 0: header bg byte)
    canvas = np.zeros((sh, sw), np.uint8)
    want = []
    for fr, (x0, y0), disp in zip(frames, offsets, disposals):
        before = canvas.copy()
        fh, fw = fr.shape
        sub = canvas[y0:y0 + fh, x0:x0 + fw]
        m = fr != t_idx
        sub[m] = fr[m]
        want.append(canvas.copy())
        if disp == 2:
            canvas[y0:y0 + fh, x0:x0 + fw] = 0
        elif disp == 3:
            canvas = before
    assert len(got) == n
    for g, w_ in zip(got, want):
        assert g.shape == (sh, sw)
        assert (g == w_).all()
    # rgb view agrees through the (identity) global table
    rgb = decode_gif_frames_rgb(payload)
    for r, w_ in zip(rgb, want):
        assert (r == np.stack([w_] * 3, axis=2)).all()
    # non-vacuous: disposal 2 and 3 both occurred, and at least one
    # transparent pixel actually preserved an underlying value
    assert {2, 3} <= set(disposals)
    assert any((fr == t_idx).any() for fr in frames[1:])


def test_gif_partial_frames_rgb_mixes_tables_at_paint_time():
    """A canvas painted by images with DIFFERENT local tables has no
    single index interpretation — the RGB compositor must resolve
    each subrect through its own table at paint time."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        decode_gif_frames_rgb,
        encode_gif,
    )

    ident = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    red = ident.copy(); red[:, 1] = 0; red[:, 2] = 0
    base = np.full((4, 6), 9, np.uint8)
    patch = np.full((2, 2), 9, np.uint8)
    payload = encode_gif(
        [base, patch],
        local_palettes=[ident, red],
        offsets=[(0, 0), (2, 1)],
        screen=(6, 4),
    )
    rgb = decode_gif_frames_rgb(payload)
    # frame 2: the patch is red-table 9 = (9,0,0), the rest identity
    assert (rgb[1][1:3, 2:4] == np.array([9, 0, 0], np.uint8)).all()
    assert (rgb[1][0, 0] == np.array([9, 9, 9], np.uint8)).all()


def test_wav_24_and_32_bit_roundtrip():
    """r11 WAV seam closure: 24-bit (3-byte little-endian, sign
    extension by hand) and 32-bit PCM round-trip int16 content
    exactly, including negative extremes; a reference 24-bit byte
    assembly pins the layout independent of the codec."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        decode_audio,
        encode_wav,
    )

    rng = np.random.default_rng(24)
    samples = np.concatenate(
        [
            np.array([-32768, -1, 0, 1, 32767], np.int16),
            rng.integers(-32768, 32768, size=200).astype(np.int16),
        ]
    )
    for width in (2, 3, 4):
        got = decode_audio(encode_wav(samples, sample_width=width), "wav")
        assert got.dtype == np.int16 and (got == samples).all(), width

    # independent byte-level reference for the 24-bit layout: value v
    # occupies the high 16 bits of a 3-byte little-endian word
    payload = encode_wav(np.array([-2, 3], np.int16), sample_width=3)
    data = payload[payload.rindex(b"data") + 8 :]
    # -2 << 8 = -512 -> 0xFFFE00 LE = 00 FE FF ; 3 << 8 = 768 -> 00 03 00
    assert data == bytes([0x00, 0xFE, 0xFF, 0x00, 0x03, 0x00])

    import pytest

    with pytest.raises(ValueError, match="sample_width"):
        encode_wav(samples, sample_width=5)


def test_fmp4_trex_default_sample_sizes():
    """r11 seam closure: DASH fragments whose sample size lives ONLY
    in the mvex/trex default (tfhd carries just the track id, truns
    carry just a data_offset — the minimal-overhead layout). The seek
    layer must resolve identical (track, chunk, ordinal, bytes)
    records to the explicit-per-sample-size build, and a stream with
    the size in none of trun/tfhd/trex must raise ValueError naming
    all three."""
    import struct

    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import (
        encode_mp4_container,
        parse_mp4_sample_ranges,
    )

    sizes = [[16] * 5, [9] * 3]  # constant per track, as trex requires
    data = [
        [bytes([0x30 + t * 16 + i]) * s for i, s in enumerate(tk)]
        for t, tk in enumerate(sizes)
    ]
    explicit = encode_mp4_container(
        5000, n_tracks=2, sample_sizes=sizes, sample_data=data,
        fragment_samples=2,
    )
    via_trex = encode_mp4_container(
        5000, n_tracks=2, sample_sizes=sizes, sample_data=data,
        fragment_samples=2, trex_default_sizes=True,
    )
    assert len(via_trex) < len(explicit)  # truns really shrank
    re_, rt = (
        parse_mp4_sample_ranges(explicit),
        parse_mp4_sample_ranges(via_trex),
    )
    key = lambda s: (s["track_idx"], s["chunk_idx"], s["sample_idx"])  # noqa: E731
    assert [key(s) for s in rt] == [key(s) for s in re_]
    for s in rt:
        assert (
            via_trex[s["offset"]:s["offset"] + s["size"]]
            == data[s["track_idx"]][s["sample_idx"]]
        )

    # varying sizes cannot ride a single trex default
    with _pytest.raises(ValueError, match="constant sample size"):
        encode_mp4_container(
            5000, n_tracks=1, sample_sizes=[[1, 2]],
            fragment_samples=2, trex_default_sizes=True,
        )

    # zero out the trex default: size now defined nowhere -> honest error
    i = via_trex.index(b"trex")
    broken = bytearray(via_trex)
    struct.pack_into(">I", broken, i + 4 + 16, 0)
    with _pytest.raises(ValueError, match="none of trun, tfhd"):
        parse_mp4_sample_ranges(bytes(broken))


def _bmp_header(w, h, bpp, compression, palette_bgrx=b"", img_bytes=b"",
                clr_used=0):
    import struct

    off = 14 + 40 + len(palette_bgrx)
    size = off + len(img_bytes)
    return (
        b"BM" + struct.pack("<IHHI", size, 0, 0, off)
        + struct.pack("<Iii", 40, w, h)
        + struct.pack("<HHI", 1, bpp, compression)
        + struct.pack("<IiiII", len(img_bytes), 0, 0, clr_used, 0)
        + palette_bgrx + img_bytes
    )


def test_bmp_subbyte_16_32_bit_and_rle4():
    """r11 BMP seam closure: 1/4-bit palettized, 16-bit RGB555,
    32-bit BGRx, and BI_RLE4 (encoded runs with alternating nibbles,
    absolute mode with nibble packing, EOL/EOB/delta escapes) — each
    against hand-assembled fixtures with known luma."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import _decode_bmp

    # 4-bit, top-down (negative height): palette entry i -> gray 17*i
    pal = b"".join(bytes([17 * i, 17 * i, 17 * i, 0]) for i in range(16))
    # 5 px/row: nibbles [1,2,3,4,5] -> bytes 12 34 50 + pad to 4
    rows = bytes([0x12, 0x34, 0x50, 0x00]) + bytes([0xFE, 0xDC, 0xB0, 0x00])
    img = _decode_bmp(_bmp_header(5, -2, 4, 0, pal, rows))
    assert img.tolist() == [
        [17, 34, 51, 68, 85],
        [255, 238, 221, 204, 187],
    ]

    # 1-bit: palette [black, white]; row 0b10110000 -> w=4: 1,0,1,1
    pal1 = bytes([0, 0, 0, 0]) + bytes([255, 255, 255, 0])
    img = _decode_bmp(
        _bmp_header(4, -1, 1, 0, pal1, bytes([0b10110000, 0, 0, 0]))
    )
    assert img.tolist() == [[255, 0, 255, 255]]

    # 32-bit BGRx: pure blue / pure white (BT.601: blue -> 29)
    px = bytes([255, 0, 0, 9]) + bytes([255, 255, 255, 0])
    img = _decode_bmp(_bmp_header(2, -1, 32, 0, b"", px))
    assert img.tolist() == [[29, 255]]

    # 16-bit RGB555: white = 0x7FFF -> 255; black = 0 -> 0
    px = (0x7FFF).to_bytes(2, "little") + (0).to_bytes(2, "little")
    img = _decode_bmp(_bmp_header(2, -1, 16, 0, b"", px))
    assert img.tolist() == [[255, 0]]

    # RLE4, bottom-up 2x7: run of 5 alternating nibbles 1,2 then EOL;
    # absolute mode 3 literals 3,4,5 then delta(2,0) then EOB
    pal = b"".join(bytes([17 * i, 17 * i, 17 * i, 0]) for i in range(16))
    rle = bytes(
        [5, 0x12, 0, 0,            # row y=0: 1,2,1,2,1 then EOL
         0, 3, 0x34, 0x50,         # absolute: 3,4,5 (2 bytes, word pad)
         2, 0x66,                  # run of 2 nibble 6
         0, 2, 2, 0,               # delta +2 right
         0, 1]                     # end of bitmap
    )
    img = _decode_bmp(_bmp_header(7, 2, 4, 2, pal, rle, clr_used=16))
    # bottom-up: file row 0 is DISPLAY row 1
    assert img.tolist() == [
        [51, 68, 85, 102, 102, 0, 0],   # abs 3,4,5 + run 6,6 + delta skip
        [17, 34, 17, 34, 17, 0, 0],     # run of 5 alternating
    ]


def test_jpeg_12bit_extended_sequential_roundtrip():
    """r11 JPEG seam closure: 12-bit extended sequential (SOF1).
    Block-constant 12-bit content with quant[0]=8 round-trips
    bit-exactly through the 2048 level shift and the extended
    16-category DC table (values way above the 8-bit range included);
    smooth 12-bit gradients survive within quantization error; the
    wire really is SOF1/12-bit; and amplitude overflows raise the
    documented guard instead of emitting an undecodable stream."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        _decode_jpeg,
        _jpeg_to_uint8,
        encode_jpeg,
    )

    flat8 = [8] + [1] * 63

    # block-constant: DC-only, exact (the mm07 property at 12 bits)
    vals = np.array(
        [[0, 1000], [2048, 4095]], np.uint16
    ).repeat(8, axis=0).repeat(8, axis=1)
    payload = encode_jpeg(vals, quant=flat8, precision=12)
    assert b"\xff\xc1" in payload and b"\xff\xc0" not in payload
    assert payload[payload.index(b"\xff\xc1") + 4] == 12  # precision byte
    dec8 = _decode_jpeg(payload)
    assert dec8.dtype == np.uint8
    want = _jpeg_to_uint8(vals, 12)
    assert (dec8 == want).all()

    # a value with no 8-bit preimage survives the 12-bit pipeline:
    # 2048 -> uint8 128 only via rint(2048*255/4095), and the DC
    # diff 0->4095*8/8 range exercises categories > 11
    grad = np.rint(
        np.linspace(0, 4095, 24 * 16).reshape(24, 16)
    ).astype(np.uint16)
    dec = _decode_jpeg(encode_jpeg(grad, quant=[4] * 64, precision=12))
    want = _jpeg_to_uint8(grad, 12)
    assert int(np.abs(dec.astype(int) - want.astype(int)).max()) <= 1

    # widen-then-narrow is lossless for every uint8 value
    u = np.arange(256, dtype=np.float64)
    v = np.rint(u * 4095.0 / 255.0)
    back = np.rint(v * 255.0 / 4095.0)
    assert (back == u).all()

    import pytest as _pytest

    # high-contrast content at quant 1 overflows the Annex K AC SSSS
    checker = np.zeros((8, 8), np.uint16)
    checker[::2, 1::2] = 4095
    checker[1::2, ::2] = 4095
    with _pytest.raises(ValueError, match="SSSS range"):
        encode_jpeg(checker, quant=[1] * 64, precision=12)
    with _pytest.raises(ValueError, match="grayscale sequential"):
        encode_jpeg(checker, precision=12, color_420=True)
    with _pytest.raises(ValueError, match="precision"):
        encode_jpeg(checker, precision=10)

    # r12 (ADVICE): the DQT is written Pq=0 (8-bit entries) at either
    # precision, so "use a coarser quant" tops out at 255 — a quant
    # past that must fail up front with a clear message, not crash in
    # bytes(quant) mid-emit; ditto entries of 0 (T.81 forbids them)
    with _pytest.raises(ValueError, match="1..255"):
        encode_jpeg(vals, quant=[256] * 64, precision=12)
    with _pytest.raises(ValueError, match="1..255"):
        encode_jpeg(np.zeros((8, 8), np.uint8), quant=[0] * 64)
    # ...and q=255 itself encodes and decodes (the advice IS
    # followable right up to the cap)
    p255 = encode_jpeg(vals, quant=[255] * 64, precision=12)
    assert _decode_jpeg(p255).shape == vals.shape

    # r12 (ADVICE): 12-bit input outside 0..4095 is rejected at the
    # door, mirroring the uint8 contract of the 8-bit path — a uint16
    # sample of 5000 previously level-shifted wrong silently
    hot = vals.copy()
    hot[0, 0] = 5000
    with _pytest.raises(ValueError, match="0..4095"):
        encode_jpeg(hot, quant=flat8, precision=12)
    # ...and the LOWER bound too: a negative int16 sample would wrap
    # to 65532 in the uint16 MCU padding buffer with no error
    with _pytest.raises(ValueError, match="0..4095"):
        encode_jpeg(
            np.full((8, 8), -4, np.int16), quant=flat8, precision=12
        )
    # non-integral quant entries would pass an int()-based range
    # check and still crash in bytes(quant) mid-emit
    with _pytest.raises(ValueError, match="integral"):
        encode_jpeg(vals, quant=[200.5] * 64, precision=12)
    # integral floats are fine (they carry an exact byte value)
    pf = encode_jpeg(vals, quant=[8.0] + [1.0] * 63, precision=12)
    assert (_decode_jpeg(pf) == _jpeg_to_uint8(vals, 12)).all()


def test_fail_closed_lets_memory_error_through():
    """r12 (ADVICE): _fail_closed normalizes parser bugs to
    ValueError, but a MemoryError from a decompression bomb is
    resource exhaustion, not bad data — it must NOT be re-labeled
    'malformed payload'."""
    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import _fail_closed

    def bomb(_payload):
        raise MemoryError("simulated decompression bomb")

    with _pytest.raises(MemoryError):
        _fail_closed(bomb, b"x", "png")

    def buggy(_payload):
        raise IndexError("oob")

    with _pytest.raises(ValueError, match="malformed png"):
        _fail_closed(buggy, b"x", "png")


def test_gif_r11_layouts_match_javax_imageio(tmp_path):
    """Independent-decoder cross-check for every r11 GIF layout:
    javax.imageio reads each IMAGE as stored (de-interlaced rows,
    colors through the applicable local-over-global table, subrect
    dimensions, transparency as alpha) — so a symmetric bug in the
    new interlace permutation, local-table byte walk, or subrect
    emission that self-round-trips would fail HERE."""
    import os
    import subprocess

    java_home = os.environ.get("JAVA_HOME")
    if not java_home or not os.path.exists(f"{java_home}/bin/java"):
        pytest.skip("no JAVA_HOME")

    from big_data_bowl_spark.multimodal.media import encode_gif

    src = tmp_path / "GifDump2.java"
    src.write_text(
        """
import javax.imageio.ImageIO;
import javax.imageio.ImageReader;
import javax.imageio.stream.ImageInputStream;
import java.awt.image.BufferedImage;
import java.io.*;
import java.util.Iterator;
public class GifDump2 {
  public static void main(String[] a) throws Exception {
    ImageInputStream s = ImageIO.createImageInputStream(new File(a[0]));
    Iterator<ImageReader> it = ImageIO.getImageReaders(s);
    ImageReader r = it.next();
    r.setInput(s);
    DataOutputStream o = new DataOutputStream(
        new BufferedOutputStream(new FileOutputStream(a[1])));
    for (int i = 0; i < r.getNumImages(true); i++) {
      BufferedImage b = r.read(i);
      o.writeInt(b.getWidth()); o.writeInt(b.getHeight());
      for (int y = 0; y < b.getHeight(); y++)
        for (int x = 0; x < b.getWidth(); x++)
          o.writeInt(b.getRGB(x, y));
    }
    o.close();
  }
}
"""
    )
    subprocess.run(
        [f"{java_home}/bin/javac", str(src)], check=True, cwd=tmp_path
    )

    def javax_frames(payload):
        gif = tmp_path / "t2.gif"
        gif.write_bytes(payload)
        raw = tmp_path / "t2.raw"
        subprocess.run(
            [f"{java_home}/bin/java", "-cp", str(tmp_path), "GifDump2",
             str(gif), str(raw)],
            check=True,
        )
        buf = np.fromfile(raw, dtype=">i4")
        frames, pos = [], 0
        while pos < len(buf):
            w, h = int(buf[pos]), int(buf[pos + 1])
            pos += 2
            frames.append(
                buf[pos : pos + w * h].reshape(h, w).astype(np.int64)
            )
            pos += w * h
        return frames  # ARGB ints

    ident = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    rng = np.random.default_rng(31)

    def rgb_of(argb):
        return np.stack(
            [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF],
            axis=2,
        )

    # 1) interlaced + local tables without a global table
    frames = [rng.integers(0, 256, (23, 31), dtype=np.uint8)
              for _ in range(2)]
    locs = [np.roll(ident, 50 * k + 3, axis=0) for k in range(2)]
    jf = javax_frames(
        encode_gif(frames, local_palettes=locs, include_global=False,
                   interlace=True)
    )
    assert len(jf) == 2
    for got, fr, lp in zip(jf, frames, locs):
        assert (rgb_of(got) == lp[fr]).all()

    # 2) partial frames with transparency + disposal: javax returns
    # each image AS STORED (subrect dims, alpha 0 at the transparent
    # index)
    t_idx = 5
    base = rng.integers(0, 256, (9, 13), dtype=np.uint8)
    patch = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    patch[0, 0] = t_idx
    payload = encode_gif(
        [base, patch],
        offsets=[(0, 0), (3, 2)],
        screen=(13, 9),
        disposals=[0, 2],
        transparent_idx=t_idx,
    )
    jf = javax_frames(payload)
    assert jf[1].shape == (4, 6)
    alpha = (jf[1] >> 24) & 0xFF
    assert (alpha == np.where(patch == t_idx, 0, 255)).all()
    opaque = patch != t_idx
    assert (rgb_of(jf[1])[opaque] == ident[patch][opaque]).all()


def test_jpeg_encoder_matches_javax_imageio(tmp_path):
    """Independent-decoder cross-check of the JPEG ENCODER: javax's
    own Huffman+IDCT pipeline decodes our baseline, restart-marker,
    4:2:0 (interleaved AND one-scan-per-component) and progressive
    (spectral + successive) streams to within IDCT rounding of the
    source — a symmetric entropy-coding bug that self-round-trips
    would fail here."""
    import os
    import subprocess

    java_home = os.environ.get("JAVA_HOME")
    if not java_home or not os.path.exists(f"{java_home}/bin/java"):
        pytest.skip("no JAVA_HOME")

    from big_data_bowl_spark.multimodal.media import encode_jpeg

    src = tmp_path / "JpegDump.java"
    src.write_text(
        """
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.*;
public class JpegDump {
  public static void main(String[] a) throws Exception {
    BufferedImage b = ImageIO.read(new File(a[0]));
    DataOutputStream o = new DataOutputStream(
        new BufferedOutputStream(new FileOutputStream(a[1])));
    int bands = b.getRaster().getNumBands();
    o.writeInt(b.getWidth()); o.writeInt(b.getHeight());
    o.writeInt(bands);
    // raw raster samples: getRGB would push grayscale through the
    // colorimetric CS_GRAY->sRGB transform and wreck the comparison
    for (int y = 0; y < b.getHeight(); y++)
      for (int x = 0; x < b.getWidth(); x++)
        for (int c = 0; c < bands; c++)
          o.writeInt(b.getRaster().getSample(x, y, c));
    o.close();
  }
}
"""
    )
    subprocess.run(
        [f"{java_home}/bin/javac", str(src)], check=True, cwd=tmp_path
    )

    def javax_gray(payload):
        f = tmp_path / "t.jpg"
        f.write_bytes(payload)
        raw = tmp_path / "t.jraw"
        subprocess.run(
            [f"{java_home}/bin/java", "-cp", str(tmp_path), "JpegDump",
             str(f), str(raw)],
            check=True,
        )
        buf = np.fromfile(raw, dtype=">i4")
        w, h, bands = int(buf[0]), int(buf[1]), int(buf[2])
        px = buf[3:].reshape(h, w, bands).astype(np.float64)
        if bands == 1:
            g = px[:, :, 0]
            return g, (g, g, g)
        r, g, bch = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        return ((r + g + bch) / 3.0), (r, g, bch)

    rng = np.random.default_rng(41)
    img = rng.integers(30, 226, (24, 40), dtype=np.uint8)  # headroom
    ones = [1] * 64
    cases = [
        encode_jpeg(img, quant=ones),
        encode_jpeg(img, quant=ones, restart_interval=3),
        encode_jpeg(img, quant=ones, color_420=True),
        encode_jpeg(img, quant=ones, color_420=True, interleaved=False),
        encode_jpeg(img, quant=ones, progressive=True),
        encode_jpeg(img, quant=ones, progressive=True, successive=True),
        encode_jpeg(img, quant=ones, color_420=True, progressive=True),
        encode_jpeg(img, quant=ones, color_420=True,
                    scan_groups=((0, 1), (2,))),
    ]
    for n, payload in enumerate(cases):
        gray, (r, g, bch) = javax_gray(payload)
        # neutral-chroma color decodes to R=G=B within chroma rounding
        assert int(np.abs(r - bch).max()) <= 3, n
        err = np.abs(gray - img.astype(np.float64))
        assert float(err.max()) <= 3.5, (n, float(err.max()))


def test_bmp_bitfields_565_and_32bit():
    """r11: BI_BITFIELDS masks — RGB565 16-bit and an ARGB8888 32-bit
    layout, channels extracted through their masks and scaled by each
    mask's own width."""
    import struct

    import numpy as np

    from big_data_bowl_spark.multimodal.media import _decode_bmp

    masks565 = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    # white (all ones) -> 255; pure green 0x07E0 -> 0.587*255 = 150
    px = (0xFFFF).to_bytes(2, "little") + (0x07E0).to_bytes(2, "little")
    img = _decode_bmp(_bmp_header(2, -1, 16, 3, masks565, px))
    assert img.tolist() == [[255, 150]]

    masks8888 = struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
    px = struct.pack("<II", 0x00FF0000, 0x12FFFFFF)  # pure red, white
    img = _decode_bmp(_bmp_header(2, -1, 32, 3, masks8888, px))
    assert img.tolist() == [[76, 255]]  # 0.299*255 = 76.245 -> 76

    # a 10-bit channel (1010102 layout) scales by ITS width
    masks101010 = struct.pack("<III", 0x3FF00000, 0x000FFC00, 0x000003FF)
    px = struct.pack("<I", 0x3FF)  # pure blue at full 10-bit amplitude
    img = _decode_bmp(_bmp_header(1, -1, 32, 3, masks101010, px))
    assert img.tolist() == [[29]]  # 0.114*255 = 29.07 -> 29

    import pytest as _pytest

    with _pytest.raises(ValueError, match="zero channel mask"):
        _decode_bmp(
            _bmp_header(1, -1, 16, 3,
                        struct.pack("<III", 0, 0x07E0, 0x001F),
                        b"\x00\x00")
        )


def test_fmp4_implicit_tfhd_base_addressing():
    """r11: a tfhd with NEITHER base_data_offset NOR
    default-base-is-moof uses the implicit base (14496-12 8.8.7.1):
    the moof start for a moof's first traf — so clearing the
    default-base-is-moof flag on a conforming stream must decode
    identically, not raise."""
    import struct

    from big_data_bowl_spark.multimodal.media import (
        encode_mp4_container,
        parse_mp4_sample_ranges,
    )

    sizes = [[10, 20, 30]]
    data = [[bytes([0x50 + i]) * s for i, s in enumerate(sizes[0])]]
    p = encode_mp4_container(
        3000, n_tracks=1, sample_sizes=sizes, sample_data=data,
        fragment_samples=2,
    )
    want = [
        (s["track_idx"], s["sample_idx"], s["offset"], s["size"])
        for s in parse_mp4_sample_ranges(p)
    ]
    # clear default-base-is-moof (0x020000) in every tfhd flags field
    patched = bytearray(p)
    pos = 0
    n_patched = 0
    while True:
        i = patched.find(b"tfhd", pos)
        if i < 0:
            break
        flags = struct.unpack_from(">I", patched, i + 4)[0]
        assert flags & 0x020000
        struct.pack_into(">I", patched, i + 4, flags & ~0x020000)
        n_patched += 1
        pos = i + 4
    assert n_patched == 2  # ceil(3/2) fragments
    got = [
        (s["track_idx"], s["sample_idx"], s["offset"], s["size"])
        for s in parse_mp4_sample_ranges(bytes(patched))
    ]
    assert got == want


def test_jpeg_sampling_factor_three():
    """r11: T.81 allows sampling factors 1..4 — a hand-assembled
    3:1:1 stream (Y at hs=3, one 24x8 MCU of [Y0 Y1 Y2 Cb Cr]
    DC-only blocks) must decode to the three constant Y stripes;
    factors above 4 are now a ValueError (invalid per spec), not a
    NotImplementedError seam."""
    import struct

    import numpy as np
    import pytest as _pytest

    from big_data_bowl_spark.multimodal.media import (
        _BitWriter,
        _decode_jpeg,
        _huffman_codes,
        _JPEG_STD_AC_BITS,
        _JPEG_STD_AC_VALS,
        _JPEG_STD_DC_BITS,
        _JPEG_STD_DC_VALS,
        _jpeg_category,
    )

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    quant = [8] + [1] * 63
    dc = _huffman_codes(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    ac = _huffman_codes(_JPEG_STD_AC_BITS, _JPEG_STD_AC_VALS)
    bw = _BitWriter()
    prev = {0: 0, 1: 0, 2: 0}

    def dc_block(comp, value):
        # constant block: DC = 8*(value-128)/quant[0] = value-128
        coef = value - 128
        diff = coef - prev[comp]
        prev[comp] = coef
        cat = _jpeg_category(diff)
        code, ln = dc[cat]
        bw.write(code, ln)
        if cat:
            bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        code, ln = ac[0x00]  # EOB: all AC zero
        bw.write(code, ln)

    stripes = [40, 128, 220]
    for v in stripes:       # Y0 Y1 Y2 (hs=3)
        dc_block(0, v)
    dc_block(1, 128)        # Cb
    dc_block(2, 128)        # Cr

    payload = (
        b"\xff\xd8"
        + seg(0xFFDB, bytes([0]) + bytes(quant))
        # SOF0: 8-bit, 8 rows x 24 cols, Y 3x1, Cb 1x1, Cr 1x1
        + seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 8, 24, 3)
            + bytes([1, 0x31, 0, 2, 0x11, 0, 3, 0x11, 0]),
        )
        + seg(0xFFC4, bytes([0x00]) + bytes(_JPEG_STD_DC_BITS)
              + bytes(_JPEG_STD_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(_JPEG_STD_AC_BITS)
              + bytes(_JPEG_STD_AC_VALS))
        + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + bw.flush()
        + b"\xff\xd9"
    )
    got = _decode_jpeg(payload)
    assert got.shape == (8, 24)
    want = np.repeat(np.array(stripes, np.uint8), 8)[None, :].repeat(
        8, axis=0
    )
    assert (got == want).all()

    # factor 5 is invalid per spec, not a seam
    bad = payload.replace(bytes([1, 0x31, 0]), bytes([1, 0x51, 0]))
    with _pytest.raises(ValueError, match="1..4"):
        _decode_jpeg(bad)


def test_decode_payload_routes_gif():
    """decode_payload('gif'): the first composited frame's luma,
    resolved through the applicable color table — so GIFs sitting in
    an image column flow through the same feature extraction as
    PNG/JPEG/BMP rows."""
    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        decode_payload,
        encode_gif,
    )

    ident = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    img = np.arange(48, dtype=np.uint8).reshape(6, 8)
    # identity-gray palette: luma == index
    got = decode_payload(encode_gif([img]), "gif", 8, 6)
    assert (got == img).all()
    # a rolled LOCAL table changes the luma (table really resolved)
    got2 = decode_payload(
        encode_gif([img], local_palettes=[np.roll(ident, 7, axis=0)]),
        "gif", 8, 6,
    )
    assert not (got2 == img).all()


def test_r11_parsers_fail_closed_on_corruption():
    """Adversarial robustness for the r11 parser surface: every
    truncation and a byte-flip sweep of valid GIF (partial-frame /
    local-table / interlaced), BMP (BITFIELDS / RLE4) and fMP4
    (offset-less trun) payloads must either decode or raise a clean
    ValueError/NotImplementedError — never an IndexError, numpy
    broadcast error, or hang."""
    import struct

    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        _decode_bmp,
        decode_gif_frames,
        decode_gif_frames_rgb,
        encode_gif,
        encode_mp4_container,
        parse_mp4_sample_ranges,
    )

    rng = np.random.default_rng(59)
    ident = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    gif = encode_gif(
        [rng.integers(0, 256, (7, 9), dtype=np.uint8),
         rng.integers(0, 256, (3, 4), dtype=np.uint8)],
        offsets=[(0, 0), (2, 1)],
        screen=(9, 7),
        disposals=[0, 3],
        transparent_idx=3,
        local_palettes=[None, np.roll(ident, 5, axis=0)],
        interlace=True,
    )
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    bmp = _bmp_header(
        3, -2, 16, 3, masks, bytes(16)
    )
    mp4 = encode_mp4_container(
        1000, n_tracks=1, sample_sizes=[[6, 7]],
        sample_data=[[b"a" * 6, b"b" * 7]],
        fragment_samples=2, trun_data_offsets=False,
    )

    cases = [
        (gif, lambda b: (decode_gif_frames(b), decode_gif_frames_rgb(b))),
        (bmp, _decode_bmp),
        (mp4, parse_mp4_sample_ranges),
    ]
    for payload, fn in cases:
        for cut in range(0, len(payload), max(1, len(payload) // 60)):
            try:
                fn(payload[:cut])
            except (ValueError, NotImplementedError):
                pass
        for i in range(0, len(payload), max(1, len(payload) // 80)):
            mut = bytearray(payload)
            mut[i] ^= 0xFF
            try:
                fn(bytes(mut))
            except (ValueError, NotImplementedError):
                pass


def test_decode_dispatch_fails_closed_all_formats():
    """The r11 parser-boundary contract on the whole dispatch surface:
    decode_payload / decode_audio convert ANY codec-internal blowup on
    truncated or bit-flipped payloads into ValueError (chaining the
    original as __cause__) — zlib.error, struct.error, IndexError,
    wave.Error and friends never escape to a Spark task."""
    import struct

    import numpy as np

    from big_data_bowl_spark.multimodal.media import (
        decode_audio,
        decode_payload,
        encode_bmp,
        encode_gif,
        encode_jpeg,
        encode_pgm,
        encode_png,
        encode_wav,
    )

    rng = np.random.default_rng(67)
    img = rng.integers(0, 256, (9, 11), dtype=np.uint8)
    fixtures = [
        ("png", encode_png(img)),
        ("jpeg", encode_jpeg(img, quant=[1] * 64)),
        ("jpeg", encode_jpeg(img, quant=[1] * 64, progressive=True)),
        ("bmp", encode_bmp(img)),
        ("pgm", encode_pgm(img)),
        ("gif", encode_gif([img])),
    ]
    for fmt, payload in fixtures:
        for cut in range(0, len(payload), max(1, len(payload) // 40)):
            try:
                decode_payload(payload[:cut], fmt, 11, 9)
            except (ValueError, NotImplementedError):
                pass
        for i in range(0, len(payload), max(1, len(payload) // 60)):
            mut = bytearray(payload)
            mut[i] ^= 0xFF
            try:
                decode_payload(bytes(mut), fmt, 11, 9)
            except (ValueError, NotImplementedError):
                pass
    wav = encode_wav(rng.integers(-100, 100, 50).astype(np.int16))
    for cut in range(0, len(wav), 3):
        try:
            decode_audio(wav[:cut], "wav")
        except (ValueError, NotImplementedError):
            pass
    # the cause rides along for debugging
    try:
        decode_payload(encode_png(img)[:30], "png", 11, 9)
    except ValueError as e:
        assert e.__cause__ is not None or "PNG" in str(e)
    # header-inflated: IHDR claims ~2^31 x 2^31 over the 9x11 IDAT —
    # must be rejected against the decompressed raster length, never
    # allocated (MemoryError would escape _fail_closed on purpose)
    png = bytearray(encode_png(img))
    png[16:24] = struct.pack(">II", 0x7FFFFFF0, 0x7FFFFFF0)
    with pytest.raises(ValueError):
        decode_payload(bytes(png), "png", 11, 9)
    # header-inflated RLE canvases (~1.1 KB files): the decoders must
    # reject the header's size before allocating, not escape as
    # MemoryError (2^31-1 squared) or ask for 1.49 GiB (40000 squared)
    for bpp, compression, colors in ((8, 1, 256), (4, 2, 16)):
        palette = b"".join(bytes([i, i, i, 0]) for i in range(colors))
        rle = bytes([4, 1, 0, 0, 0, 1])  # a run, end of line, end
        data_offset = 14 + 40 + len(palette)
        for side in (0x7FFFFFFF, 40000):
            bmp = (
                b"BM"
                + struct.pack("<IHHI", data_offset + len(rle), 0, 0, data_offset)
                + struct.pack("<Iii", 40, side, side)
                + struct.pack("<HHI", 1, bpp, compression)
                + struct.pack("<IiiII", len(rle), 0, 0, colors, 0)
                + palette
                + rle
            )
            with pytest.raises(ValueError, match="RLE canvas"):
                decode_payload(bmp, "bmp", 11, 9)


# ---------------------------------------------------------------------------
# VERDICT r16 item 1: the perceptual triad's adversarial-skew caps
# (planted hot buckets; capped == documented recall contract)
# ---------------------------------------------------------------------------


def _mm15_expected(dhashes, cap):
    """Brute-force the capped recall contract: a pair survives iff
    hamming <= IMG_HAM_K and its LOWEST agreeing band's bucket holds
    <= cap members (cap None => any agreeing band qualifies)."""
    from big_data_bowl_spark.queries.multimodal import (
        IMG_BANDS,
        IMG_HAM_K,
        _IMG_BAND_BITS,
    )

    def key(h, b):
        return (h >> (b * _IMG_BAND_BITS)) & ((1 << _IMG_BAND_BITS) - 1)

    sizes = {}
    for _, h in dhashes:
        for b in range(IMG_BANDS):
            sizes[(b, key(h, b))] = sizes.get((b, key(h, b)), 0) + 1
    out = set()
    items = sorted(dhashes)
    for i, (ia, ha) in enumerate(items):
        for ib, hb in items[i + 1:]:
            agree = [
                b for b in range(IMG_BANDS) if key(ha, b) == key(hb, b)
            ]
            if not agree or bin(ha ^ hb).count("1") > IMG_HAM_K:
                continue
            low = min(agree)
            if cap is None or sizes[(low, key(ha, low))] <= cap:
                out.add((ia, ib, bin(ha ^ hb).count("1")))
    return out


def test_mm15_bucket_cap_under_adversarial_skew(spark):
    """Plant a 40-member viral cluster (identical dhash — every band
    bucket hot) next to normal near-pairs and a victim pair whose
    lowest agreeing band is the hot bucket but which also agrees on
    a small higher band. Pin the exact recall contract: a pair is
    dropped iff its LOWEST agreeing band is oversized (the victim
    drops; normal pairs survive), uncapped == brute force, and the
    audit reports exactly the hot buckets."""
    from big_data_bowl_spark.functions.banding import oversized_buckets
    from big_data_bowl_spark.queries.multimodal import (
        _mm15_band_rows,
        _mm15_pairs,
    )

    hot_hash = 0x0123456789ABCD  # 56-bit; 40 copies -> 7 hot buckets
    rows = [(i, hot_hash) for i in range(40)]
    # normal near-pair: differs only in bit 0 -> hamming 1, lowest
    # agreeing band 1 (band 0 differs); band keys disjoint from hot's
    base = 0x00FE00FE00FE00
    rows += [(100, base), (101, base ^ 1)]
    # victim pair: band 0 key EQUALS the hot cluster's band-0 key
    # (joins the oversized bucket), higher bands differ from hot but
    # agree with each other within hamming <= 6 -> lowest agreeing
    # band is 0 (hot) -> dropped by the contract, found by band 1+
    # in the uncapped spelling
    vic = (0x00AA00AA00AA00 & ~0xFF) | (hot_hash & 0xFF)
    # differ in band 1 (two bits, so neither side's band-1 key can
    # collide with the hot cluster's 0xAB)
    rows += [(200, vic), (201, vic ^ (3 << 8))]
    dh = spark.createDataFrame(rows, "media_id long, dhash long")

    cap = 16
    got_uncapped = {
        (r.id_a, r.id_b, r.hamming)
        for r in _mm15_pairs(dh).collect()
    }
    got_capped = {
        (r.id_a, r.id_b, r.hamming)
        for r in _mm15_pairs(dh, max_bucket=cap).collect()
    }
    assert got_uncapped == _mm15_expected(rows, None)
    assert got_capped == _mm15_expected(rows, cap)
    # the victim pair is the named casualty; normal pair survives
    assert (200, 201, 2) in got_uncapped
    assert (200, 201, 2) not in got_capped
    assert (100, 101, 1) in got_capped
    # hot-cluster pairs never survive the cap
    assert not any(a < 40 and b < 40 for a, b, _ in got_capped)
    audit = {
        (r.band, r.bkey): r.bucket_size
        for r in oversized_buckets(
            _mm15_band_rows(dh), ("band", "bkey"), cap
        ).collect()
    }
    # exactly the hot cluster's 7 band buckets (the victim pair adds
    # 2 members to hot band 0: 42; bands 1-6 hold the 40 clones)
    want_audit = {}
    for b in range(7):
        k = (hot_hash >> (b * 8)) & 255
        want_audit[(b, k)] = 42 if b == 0 else 40
    assert audit == want_audit


def test_mm15_cap_below_two_rejected(spark):
    from big_data_bowl_spark.queries.multimodal import _mm15_pairs

    dh = spark.createDataFrame([(1, 7)], "media_id long, dhash long")
    with pytest.raises(ValueError, match="max_bucket"):
        _mm15_pairs(dh, max_bucket=1).collect()


def test_mm16_viral_frame_cap_is_stop_frame_removal(spark):
    """Plant a viral frame hash carried by 31 videos. Capped
    semantics = the uncapped query on the corpus minus hot hashes:
    (a) a pair held together ONLY by the viral frame disappears,
    (b) a genuine pair keeps matching with the viral frame removed
    from numerator AND denominator, (c) the documented IDF flip-in —
    a pair diluted below threshold by the viral frame crosses it
    once the frame stops counting, (d) the audit reports the viral
    hash with its carrier count."""
    from big_data_bowl_spark.functions.banding import oversized_buckets
    from big_data_bowl_spark.queries.multimodal import _mm16_pairs

    H = 999  # the viral frame hash
    rows = []
    # 26 background videos exist only to make H hot (each: H + one
    # unique hash so their pair-space contributes nothing else)
    for i in range(26):
        rows += [(500 + i, H), (500 + i, 10_000 + i)]
    # (a) held together only by H
    rows += [(1, H), (1, 11), (2, H), (2, 12)]
    # (b) genuine near-dups that also both carry H
    rows += [(3, H), (3, 21), (3, 22), (4, H), (4, 21), (4, 22), (4, 23)]
    # (c) flip-in: shares 1 of 3 uncapped (0.33 < 0.5), 1 of 2 once
    # H is removed from the smaller side (0.5 >= 0.5)
    rows += [(5, 31), (5, 32), (5, H), (6, 31), (6, 41), (6, 42)]
    hs = spark.createDataFrame(rows, "media_id long, fhash long")

    cap = 16
    pair = lambda df: {  # noqa: E731
        (r.id_a, r.id_b): (r.n_shared, r.containment)
        for r in df.collect()
    }
    uncapped = pair(_mm16_pairs(hs))
    capped = pair(_mm16_pairs(hs, max_bucket=cap))
    # stop-frame-removal equivalence: capped == uncapped on corpus
    # with the hot hash deleted
    from pyspark.sql import functions as F

    filtered = pair(_mm16_pairs(hs.where(F.col("fhash") != H)))
    assert capped == filtered
    assert (1, 2) in uncapped and (1, 2) not in capped          # (a)
    assert uncapped[(3, 4)] == (3, 1.0)                         # (b)
    assert capped[(3, 4)] == (2, 1.0)
    assert (5, 6) not in uncapped and capped[(5, 6)] == (1, 0.5)  # (c)
    audit = {
        r.fhash: r.bucket_size
        for r in oversized_buckets(hs, ("fhash",), cap).collect()
    }
    assert audit == {H: 31}                                     # (d)


def test_mm17_hot_bin_cap_is_strict_subset(spark):
    """Plant a hot frequency bin (30 clips). mm17's match rule is an
    absolute shared-count, so capped output must be a strict SUBSET
    of uncapped: a pair relying on the hot bin for its second shared
    peak drops below MM17_SHARED_MIN; a pair sharing two informative
    bins is untouched. The audit reports the hot bin."""
    from big_data_bowl_spark.functions.banding import oversized_buckets
    from big_data_bowl_spark.queries.multimodal import _mm17_pairs

    B = 77  # the hot bin
    rows = [(600 + i, B) for i in range(26)]
    rows += [(1, B), (1, 10), (2, B), (2, 10)]   # relies on hot bin
    rows += [(3, 20), (3, 21), (3, B), (4, 20), (4, 21), (4, B)]
    peaks = spark.createDataFrame(rows, "media_id long, bin long")

    cap = 16
    pairs = lambda df: {  # noqa: E731
        (r.id_a, r.id_b): r.n_shared for r in df.collect()
    }
    uncapped = pairs(_mm17_pairs(peaks))
    capped = pairs(_mm17_pairs(peaks, max_bucket=cap))
    assert set(capped) < set(uncapped)
    assert all(capped[k] <= uncapped[k] for k in capped)
    assert uncapped[(1, 2)] == 2 and (1, 2) not in capped
    assert uncapped[(3, 4)] == 3 and capped[(3, 4)] == 2
    audit = {
        r.bin: r.bucket_size
        for r in oversized_buckets(peaks, ("bin",), cap).collect()
    }
    assert audit == {B: 30}
