"""Multimodal codec tests (SURVEY §2 Part C5): every dependency-free
image, audio and video codec, its quarantine contract, the Arrow-batched
decode operators, and the synth fixtures' payload bytes and spread policy.
"""

from __future__ import annotations

import pytest

from etl_drone_sense_spark.operators import multimodal as M


def _ppm(w: int, h: int, raster: bytes, header: bytes | None = None) -> bytes:
    head = header if header is not None else b"P6\n%d %d\n255\n" % (w, h)
    return head + raster


class TestParsePpm:
    def test_roundtrip(self):
        raster = bytes(range(2 * 2 * 3))
        w, h, px = M.parse_ppm(_ppm(2, 2, raster))
        assert (w, h, px) == (2, 2, raster)

    def test_comments_and_padding_whitespace(self):
        # netpbm allows comments and arbitrary whitespace between tokens.
        raster = bytes([7] * 3)
        payload = b"P6 # a comment\n# another\n 1\t1 # dims\n255\n" + raster
        assert M.parse_ppm(payload) == (1, 1, raster)

    def test_raster_starting_with_whitespace_byte(self):
        # Only ONE whitespace byte follows maxval; a raster whose first
        # pixel is 0x0A (newline) must not be eaten by header parsing.
        raster = b"\n\n\n"
        assert M.parse_ppm(_ppm(1, 1, raster)) == (1, 1, raster)

    @pytest.mark.parametrize(
        "payload",
        [
            None,
            b"",
            b"P5\n1 1\n255\n" + b"\x00",  # PGM, not PPM
            b"P6\n1 1\n65535\n" + b"\x00" * 6,  # 2-byte samples unsupported
            b"P6\n2 2\n255\n" + b"\x00" * 5,  # truncated raster
            b"P6\n0 1\n255\n",  # zero dimension
            b"P6\nx 1\n255\n" + b"\x00" * 3,  # non-numeric token
            b"P6\n1 1",  # truncated header
        ],
    )
    def test_rejects_malformed(self, payload):
        with pytest.raises(ValueError):
            M.parse_ppm(payload)


def test_decode_image_features_quarantines_corrupt(spark):
    good = _ppm(2, 1, bytes([10, 20, 30, 40, 50, 60]))
    rows = [(1, bytearray(good)), (2, bytearray(b"JFIF not a ppm")), (3, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in M.decode_image_features(media).collect()}
    assert out[1]["decode_ok"] and (out[1]["width"], out[1]["height"]) == (2, 1)
    assert out[1]["mean_r"] == (10 + 40) / 2
    assert out[1]["mean_g"] == (20 + 50) / 2
    assert out[1]["mean_b"] == (30 + 60) / 2
    assert not out[2]["decode_ok"] and out[2]["width"] is None
    assert not out[3]["decode_ok"]


def test_synth_then_decode_matches_arithmetic(spark, sf_dir):
    """End-to-end: synthesized PPM bytes decode back to the arithmetic
    features the oracle predicts (same formulas, independently coded)."""
    from etl_drone_sense_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").limit(20)
    feats = M.decode_image_features(M.synth_ppm_media(docs)).collect()
    assert len(feats) == 20
    for r in feats:
        did = r["media_id"]
        w, h = 4 + did % 5, 3 + did % 4
        assert r["decode_ok"]
        assert (r["width"], r["height"]) == (w, h)
        for c, col in enumerate(("mean_r", "mean_g", "mean_b")):
            expect = sum((did * 31 + i) % 256 for i in range(w * h * 3) if i % 3 == c)
            assert r[col] == expect / (w * h)


def test_resize_identity_and_quarantine(spark):
    """Nearest-neighbor resize: a 2x2 image resized to 2x2 is the
    identity (selected pixels are exactly the originals), and corrupt
    payloads quarantine with resize_ok=false instead of failing the
    batch."""
    from etl_drone_sense_spark.operators.multimodal import (
        resize_image_features,
    )

    # 2x2 RGB image with distinct channel values per pixel.
    raster = bytes(range(12))
    good = b"P6\n2 2\n255\n" + raster
    media = spark.createDataFrame(
        [(1, good), (2, b"not an image")], "media_id long, payload binary"
    )
    out = {r.media_id: r for r in resize_image_features(media, 2, 2).collect()}
    assert out[1].resize_ok and (out[1].out_w, out[1].out_h) == (2, 2)
    # identity resize -> means equal the full-image channel means
    assert out[1].mean_r == (0 + 3 + 6 + 9) / 4
    assert out[1].mean_g == (1 + 4 + 7 + 10) / 4
    assert out[1].mean_b == (2 + 5 + 8 + 11) / 4
    assert not out[2].resize_ok and out[2].mean_r is None
    # a target size below 1 is a config error, refused eagerly: it used
    # to select no pixels and emit resize_ok=true rows with NaN means
    for out_w, out_h in ((0, 2), (2, 0), (-1, 1)):
        with pytest.raises(ValueError, match="must be >= 1"):
            resize_image_features(media, out_w, out_h)


def test_resize_downsample_picks_grid_pixels(spark):
    """3x3 -> 2x2 must select rows {0, 1} and cols {0, 1} (floor(k*3/2)),
    i.e. the TOP-LEFT 2x2 block — pinning the grid convention the oracle
    replicates."""
    from etl_drone_sense_spark.operators.multimodal import (
        resize_image_features,
    )

    raster = bytes(range(27))  # 3x3x3: pixel (r,c) channel ch = (r*3+c)*3+ch
    media = spark.createDataFrame(
        [(1, b"P6\n3 3\n255\n" + raster)], "media_id long, payload binary"
    )
    r = resize_image_features(media, 2, 2).collect()[0]
    # selected pixels: (0,0)=0.., (0,1)=3.., (1,0)=9.., (1,1)=12..
    assert r.mean_r == (0 + 3 + 9 + 12) / 4
    assert r.mean_g == (1 + 4 + 10 + 13) / 4
    assert r.mean_b == (2 + 5 + 11 + 14) / 4


def test_png_roundtrip_all_filters():
    """encode_png cycles scanline filters y % 5, so any image with ≥5
    rows drives every reconstruction path (None/Sub/Up/Average/Paeth);
    the round trip must be byte-exact."""
    import random

    from etl_drone_sense_spark.operators.multimodal import (
        encode_png,
        parse_image,
        parse_png,
    )

    rng = random.Random(11)
    for w, h in [(1, 1), (3, 5), (7, 6), (16, 16), (5, 9)]:
        raster = bytes(rng.randrange(256) for _ in range(w * h * 3))
        png = encode_png(w, h, raster)
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        assert parse_png(png) == (w, h, raster)
        # magic-byte dispatch picks the right codec
        assert parse_image(png) == (w, h, raster)


def test_png_rejects_corruption_and_unsupported():
    import struct
    import zlib

    import pytest

    from etl_drone_sense_spark.operators.multimodal import encode_png, parse_png

    png = encode_png(4, 5, bytes(range(60)))
    # flipped byte inside IHDR → CRC mismatch, loud
    bad = bytearray(png)
    bad[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        parse_png(bytes(bad))
    # truncation → loud
    with pytest.raises(ValueError):
        parse_png(png[: len(png) // 2])
    # unsupported variant (16-bit greyscale — RGBA/palette became real
    # codec paths in r7) → loud, not garbage pixels
    ihdr = struct.pack(">IIBBBBB", 4, 5, 16, 0, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="unsupported"):
        parse_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_decode_features_mixed_codecs(spark):
    """One media relation carrying BOTH PPM and PNG payloads (plus a
    corrupt row) decodes in a single mapInPandas pass — the per-payload
    magic-byte dispatch — with the corrupt row quarantined, not fatal."""
    from etl_drone_sense_spark.operators.multimodal import (
        decode_image_features,
        encode_png,
    )

    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    png = encode_png(2, 2, bytes(range(12, 24)))
    rows = [(1, bytearray(ppm)), (2, bytearray(png)), (3, bytearray(b"JFIF?"))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_image_features(media).collect()}
    assert out[1].decode_ok and (out[1].width, out[1].height) == (2, 2)
    assert out[2].decode_ok and (out[2].width, out[2].height) == (2, 2)
    assert out[1].mean_r == (0 + 3 + 6 + 9) / 4
    assert out[2].mean_r == (12 + 15 + 18 + 21) / 4
    assert not out[3].decode_ok


def test_png_bad_deflate_quarantines_not_crashes(spark):
    """Review catch r6: a CRC-valid IDAT holding invalid DEFLATE bytes
    raises zlib.error internally — it must surface as the codec's
    ValueError so the per-row quarantine emits decode_ok=False instead of
    killing the Arrow task."""
    import struct
    import zlib

    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        decode_image_features,
        encode_png,
        parse_png,
    )

    png = bytearray(encode_png(2, 2, bytes(range(12))))
    # locate the IDAT chunk and replace its payload with garbage + re-CRC
    i = 8
    while True:
        (ln,) = struct.unpack(">I", png[i : i + 4])
        typ = bytes(png[i + 4 : i + 8])
        if typ == b"IDAT":
            garbage = b"\xff" * ln
            png[i + 8 : i + 8 + ln] = garbage
            crc = zlib.crc32(b"IDAT" + garbage) & 0xFFFFFFFF
            png[i + 8 + ln : i + 12 + ln] = struct.pack(">I", crc)
            break
        i += 12 + ln
    with pytest.raises(ValueError, match="inflate"):
        parse_png(bytes(png))
    media = spark.createDataFrame(
        [(1, bytes(png))], "media_id long, payload binary"
    )
    out = decode_image_features(media).collect()
    assert len(out) == 1 and not out[0].decode_ok


def test_png_palette_and_rgba_roundtrip():
    """r7 colour-type extension: RGBA decodes with the alpha lane
    dropped, palette images map indices through PLTE — both against a
    pure-Python reference raster, across every filter type (encode_png
    cycles y % 5)."""
    from etl_drone_sense_spark.operators.multimodal import encode_png, parse_png

    w, h = 5, 7  # ≥5 rows → all five filters at each bpp
    # RGBA: reference output strips every 4th byte
    rgba = bytes((11 * j + 3) % 256 for j in range(w * h * 4))
    want_rgb = bytes(
        b for j, b in enumerate(rgba) if j % 4 != 3
    )
    assert parse_png(encode_png(w, h, rgba, ctype=6)) == (w, h, want_rgb)

    # palette: indices map through PLTE entries
    idx = bytes((3 * p + 1) % 16 for p in range(w * h))
    plte = bytes((7 * b + 5) % 256 for b in range(16 * 3))
    want_pal = b"".join(plte[i * 3 : i * 3 + 3] for i in idx)
    assert parse_png(encode_png(w, h, idx, ctype=3, palette=plte)) == (
        w,
        h,
        want_pal,
    )


def test_png_palette_errors_are_loud():
    import struct
    import zlib

    import pytest

    from etl_drone_sense_spark.operators.multimodal import encode_png, parse_png

    # encoder refuses out-of-range indices and missing palettes
    with pytest.raises(ValueError, match="palette"):
        encode_png(2, 2, bytes([0, 1, 2, 9]), ctype=3, palette=bytes(9))
    with pytest.raises(ValueError, match="palette"):
        encode_png(2, 2, bytes(4), ctype=3)
    # decoder refuses a palette image whose PLTE chunk is absent:
    # re-assemble a type-3 PNG without its PLTE
    png = encode_png(2, 2, bytes([0, 1, 1, 0]), ctype=3, palette=bytes(6))
    sig, rest = png[:8], png[8:]
    chunks = []
    i = 0
    while i < len(rest):
        (ln,) = struct.unpack(">I", rest[i : i + 4])
        chunks.append(rest[i : i + 12 + ln])
        i += 12 + ln
    no_plte = sig + b"".join(c for c in chunks if c[4:8] != b"PLTE")
    with pytest.raises(ValueError, match="PLTE"):
        parse_png(no_plte)


def test_png_unfilter_matches_bytewise_reference():
    """The numpy unfilter (r7 vectorization) must be bit-identical to a
    per-byte spec transcription on adversarial content at every bpp."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        _unfilter_scanlines,
        encode_png,
    )

    def reference(raw, width, height, bpp):
        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        stride = width * bpp
        out = bytearray()
        prior = bytes(stride)
        for y in range(height):
            ft = raw[y * (stride + 1)]
            line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
            rec = bytearray(stride)
            for k in range(stride):
                left = rec[k - bpp] if k >= bpp else 0
                up = prior[k]
                ul = prior[k - bpp] if k >= bpp else 0
                v = line[k] + (
                    0 if ft == 0
                    else left if ft == 1
                    else up if ft == 2
                    else (left + up) // 2 if ft == 3
                    else paeth(left, up, ul)
                )
                rec[k] = v & 0xFF
            out += rec
            prior = bytes(rec)
        return bytes(out)

    import random
    import struct
    import zlib

    rng = random.Random(7)
    for bpp, ctype in ((3, 2), (4, 6), (1, 3)):
        w, h = 9, 11
        raster = bytes(rng.randrange(256 if ctype != 3 else 64) for _ in range(w * h * bpp))
        plte = bytes(range(192)) if ctype == 3 else None
        png = encode_png(w, h, raster, ctype=ctype, palette=plte)
        # pull the filtered stream back out of the IDAT chunk
        i, idat = 8, b""
        while i < len(png):
            (ln,) = struct.unpack(">I", png[i : i + 4])
            if png[i + 4 : i + 8] == b"IDAT":
                idat += png[i + 8 : i + 8 + ln]
            i += 12 + ln
        raw = zlib.decompress(idat)
        got = _unfilter_scanlines(raw, w, h, bpp)
        assert got.tobytes() == reference(raw, w, h, bpp)
        assert np.frombuffer(got.tobytes(), dtype=np.uint8).size == w * h * bpp


def test_wav_roundtrip_mono_stereo():
    """RIFF/WAVE codec pair (r7): mono and stereo 16-bit PCM round-trip
    byte-exact, including the full int16 dynamic range (the |-32768|
    widening contract)."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import encode_wav, parse_wav

    for ch in (1, 2):
        samples = np.array(
            [-32768, 32767, 0, -1, 12345, -12345] * ch, dtype=np.int64
        )
        rate, got_ch, got = parse_wav(encode_wav(44100, ch, samples))
        assert (rate, got_ch) == (44100, ch)
        assert got.tolist() == samples.tolist()


def test_wav_skips_unknown_chunks_word_aligned():
    """RIFF chunks are word-aligned: an odd-length unknown chunk (e.g. a
    LIST/INFO tag) must be skipped with its pad byte, not desync the
    walk."""
    import struct

    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import encode_wav, parse_wav

    samples = np.arange(8, dtype=np.int64) - 4
    wav = bytearray(encode_wav(8000, 1, samples))
    # splice an odd-length chunk between fmt and data
    tag = b"note" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad to even
    fmt_end = 12 + 8 + 16
    spliced = bytes(wav[:fmt_end]) + tag + bytes(wav[fmt_end:])
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    rate, ch, got = parse_wav(spliced)
    assert (rate, ch) == (8000, 1) and got.tolist() == samples.tolist()


def test_wav_rejects_malformed_and_unsupported():
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import encode_wav, parse_wav

    good = encode_wav(8000, 1, [1, 2, 3, 4])
    with pytest.raises(ValueError, match="RIFF"):
        parse_wav(b"OggS" + good[4:])
    with pytest.raises(ValueError, match="truncated"):
        parse_wav(good[: len(good) - 3])
    # IEEE-float format (3) refused loudly
    bad = bytearray(good)
    struct.pack_into("<H", bad, 20, 3)
    with pytest.raises(ValueError, match="unsupported WAV"):
        parse_wav(bytes(bad))
    # 8-bit refused loudly
    bad = bytearray(good)
    struct.pack_into("<H", bad, 34, 8)
    with pytest.raises(ValueError, match="unsupported WAV"):
        parse_wav(bytes(bad))
    # stereo data not frame-aligned
    with pytest.raises(ValueError, match="frame-aligned"):
        mono = encode_wav(8000, 1, [1, 2, 3])
        b2 = bytearray(mono)
        struct.pack_into("<H", b2, 22, 2)  # claim 2 channels
        parse_wav(bytes(b2))


def test_decode_audio_features_quarantines(spark):
    from etl_drone_sense_spark.operators.multimodal import (
        decode_audio_features,
        encode_wav,
    )

    good = encode_wav(8000, 2, [100, -200, 300, -32768])
    rows = [(1, bytearray(good)), (2, bytearray(b"not audio")), (3, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_audio_features(media).collect()}
    assert out[1].decode_ok
    assert (out[1].sample_rate, out[1].channels, out[1].n_frames) == (8000, 2, 2)
    assert out[1].peak == 32768
    assert out[1].mean_abs == (100 + 200 + 300 + 32768) / 4
    assert not out[2].decode_ok and out[2].peak is None
    assert not out[3].decode_ok


def test_png_greyscale_types_roundtrip():
    """r7: colour types 0 (grey) and 4 (grey+alpha) complete the 8-bit
    colour-type matrix — grey replicates into RGB, alpha drops, across
    every filter type at bpp 1 and 2."""
    from etl_drone_sense_spark.operators.multimodal import encode_png, parse_png

    w, h = 6, 7
    grey = bytes((13 * p + 5) % 256 for p in range(w * h))
    want = b"".join(bytes([g, g, g]) for g in grey)
    assert parse_png(encode_png(w, h, grey, ctype=0)) == (w, h, want)

    ga = bytes((11 * j + 2) % 256 for j in range(w * h * 2))
    want4 = b"".join(bytes([ga[2 * p]] * 3) for p in range(w * h))
    assert parse_png(encode_png(w, h, ga, ctype=4)) == (w, h, want4)


def test_wav_zeroed_fmt_quarantines_not_crashes(spark):
    """r8 (ADVICE): a fmt chunk declaring channels=0 divided by zero in
    the frame-alignment check, and rate=0 survived parse to divide by
    zero in decode_audio_features — ZeroDivisionError is NOT caught by
    the ValueError quarantine, so one adversarial blob killed the whole
    Arrow task. Both must raise ValueError at parse time."""
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        decode_audio_features,
        encode_wav,
        parse_wav,
    )

    good = encode_wav(8000, 1, [1, 2, 3, 4])
    zero_ch = bytearray(good)
    struct.pack_into("<H", zero_ch, 22, 0)  # channels := 0
    with pytest.raises(ValueError, match="malformed WAV fmt"):
        parse_wav(bytes(zero_ch))
    zero_rate = bytearray(good)
    struct.pack_into("<I", zero_rate, 24, 0)  # sample rate := 0
    with pytest.raises(ValueError, match="malformed WAV fmt"):
        parse_wav(bytes(zero_rate))

    # end-to-end: the corrupt payloads quarantine (decode_ok=false),
    # the good sibling in the same Arrow batch still decodes
    rows = [(1, bytearray(good)), (2, zero_ch), (3, zero_rate)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_audio_features(media).collect()}
    assert out[1].decode_ok and out[1].n_frames == 4
    assert not out[2].decode_ok and not out[3].decode_ok


def test_jpeg_grayscale_constant_blocks_exact():
    """r8: the lossy-codec oracle trick — grayscale constant 8x8 blocks
    with even offsets from 128 are DC-only with exactly-representable
    coefficients (8*2k under q0=16), so baseline JPEG decodes them
    BIT-EXACTLY. This is the property the multimodal_decode_jpeg oracle
    rests on."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    for did in (0, 1, 2, 5, 17, 123, 499):
        wb, hb = 1 + did % 2, 1 + did % 3
        w, h = 8 * wb, 8 * hb
        img = np.empty((h, w), dtype=np.uint8)
        for bi in range(wb * hb):
            by, bx = divmod(bi, wb)
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 128 + 2 * (
                (did * 7 + bi * 13) % 81 - 40
            )
        w2, h2, raster = parse_jpeg(encode_jpeg(w, h, img.tobytes(), ncomp=1))
        dec = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
        assert (w2, h2) == (w, h)
        # grayscale replicates into RGB, all three channels exact
        assert (dec == img[..., None]).all(), f"did={did}"


def test_jpeg_color_roundtrip_tolerance():
    """Color JPEG is lossy by nature: 4:4:4 and 4:2:0 round-trips on a
    smooth gradient must stay within a small tolerance, at dimensions
    that are NOT multiples of the MCU (padding + crop exercised)."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    w, h = 22, 19
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = (
        np.stack([100 + xx * 2, 80 + yy * 3, 120 + xx + yy], axis=-1)
        .clip(0, 255)
        .astype(np.uint8)
    )
    for sub in ("4:4:4", "4:2:0"):
        pay = encode_jpeg(w, h, rgb.tobytes(), subsampling=sub)
        w2, h2, raster = parse_jpeg(pay)
        assert (w2, h2) == (w, h)
        dec = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
        err = np.abs(dec.astype(int) - rgb.astype(int)).max()
        assert err <= 12, (sub, err)


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn segmentation: byte-aligned segments with reset DC
    predictors must decode identically to the unsegmented scan."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    w, h = 40, 24  # 15 MCUs at 4:4:4 -> several restart segments
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = (
        np.stack([50 + xx * 4, 200 - yy * 5, 30 + xx + 2 * yy], axis=-1)
        .clip(0, 255)
        .astype(np.uint8)
    )
    plain = parse_jpeg(encode_jpeg(w, h, rgb.tobytes()))
    for ri in (1, 2, 7):
        paced = parse_jpeg(
            encode_jpeg(w, h, rgb.tobytes(), restart_interval=ri)
        )
        assert paced == plain, f"restart_interval={ri}"


def test_jpeg_rejects_unsupported_and_corrupt():
    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    img = np.full((8, 8), 100, dtype=np.uint8)
    pay = bytearray(encode_jpeg(8, 8, img.tobytes(), ncomp=1))
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg(b"\x00\x00" + bytes(pay[2:]))
    i = bytes(pay).index(b"\xff\xc0")
    prog = bytearray(pay)
    prog[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        parse_jpeg(bytes(prog))
    # SOF9/SOF10 arithmetic decode for real since r13 late; the
    # lossless arithmetic process (SOF11) remains quarantined
    arith = bytearray(pay)
    arith[i + 1] = 0xCB
    with pytest.raises(ValueError, match="arithmetic"):
        parse_jpeg(bytes(arith))
    with pytest.raises(ValueError, match="truncated"):
        parse_jpeg(bytes(pay[: len(pay) // 2]))
    # 12-bit precision refused loudly (precision byte follows SOF length)
    deep = bytearray(pay)
    deep[i + 4] = 12
    with pytest.raises(ValueError, match="12-bit"):
        parse_jpeg(bytes(deep))


def test_jpeg_end_to_end_decode_with_quarantine(spark):
    """JPEG payloads flow through the same decode_image_features Arrow
    path as PPM/PNG (parse_image dispatches on the SOI magic); corrupt
    siblings quarantine without killing the batch."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        decode_image_features,
        encode_jpeg,
    )

    img = np.full((16, 8), 150, dtype=np.uint8)  # even offset from 128
    good = encode_jpeg(8, 16, img.tobytes(), ncomp=1)
    rows = [(1, bytearray(good)), (2, bytearray(b"\xff\xd8garbage")), (3, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_image_features(media).collect()}
    assert out[1].decode_ok
    assert (out[1].width, out[1].height) == (8, 16)
    assert out[1].mean_r == 150.0 and out[1].mean_b == 150.0
    assert not out[2].decode_ok and not out[3].decode_ok


def test_avi_mjpeg_roundtrip_and_quarantine():
    """r8: MJPEG-in-AVI container codec — RIFF walk (the WAV chunk
    discipline), avih/strh headers, '00dc' frame extraction. Frames
    round-trip byte-identically; wrong form type, truncation, and
    non-MJPG streams quarantine as ValueError."""
    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg,
        parse_avi,
        parse_jpeg,
    )

    w, h = 16, 24
    frames = [
        encode_jpeg(
            w, h, np.full((h, w), 128 + 2 * f * 4, np.uint8).tobytes(), ncomp=1
        )
        for f in range(3)
    ]
    avi = encode_avi_mjpeg(w, h, frames, fps=5)
    w2, h2, uspf, got = parse_avi(avi)
    assert (w2, h2, uspf) == (w, h, 200_000)
    assert got == frames  # byte-identical frame payloads
    for f, jp in enumerate(got):
        _, _, raster = parse_jpeg(jp)
        assert (np.frombuffer(raster, np.uint8) == 128 + 2 * f * 4).all()

    with pytest.raises(ValueError, match="RIFF/AVI"):
        parse_avi(b"RIFF\x10\x00\x00\x00WAVE" + b"\x00" * 8)
    with pytest.raises(ValueError, match="truncated"):
        parse_avi(avi[:40])
    h264 = bytearray(avi)
    i = h264.index(b"vids")
    h264[i + 4 : i + 8] = b"H264"
    with pytest.raises(ValueError, match="unsupported AVI video codec"):
        parse_avi(bytes(h264))


def test_decode_video_features_sampling_and_quarantine(spark):
    """every_n frame sampling decodes exactly the strided frames; a
    corrupt sibling payload quarantines as one decode_ok=false row
    without killing the Arrow batch."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        decode_video_features,
        encode_avi_mjpeg,
        encode_jpeg,
    )

    w, h = 8, 8
    frames = [
        encode_jpeg(
            w, h, np.full((h, w), 100 + 2 * f, np.uint8).tobytes(), ncomp=1
        )
        for f in range(5)
    ]
    good = encode_avi_mjpeg(w, h, frames)
    rows = [(1, bytearray(good)), (2, bytearray(b"RIFFgarbage~~~~~"))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = decode_video_features(media, every_n=2).collect()
    ok = sorted(
        (r.frame_idx, r.mean_r) for r in out if r.media_id == 1
    )
    assert ok == [(0, 100.0), (2, 104.0), (4, 108.0)]  # stride 2
    assert all(r.n_frames == 5 for r in out if r.media_id == 1)
    bad = [r for r in out if r.media_id == 2]
    assert len(bad) == 1 and not bad[0].decode_ok


def test_avi_and_jpeg_adversarial_hardening():
    """r8 self-audit: (a) deeply-nested LIST chunks must quarantine as
    ValueError, not blow the stack as RecursionError (which escapes the
    Arrow-task quarantine); (b) JPEG 0xFF fill bytes and standalone
    RST/TEM markers between segments parse fine; (c) a bad sampling
    stride raises eagerly instead of quarantining every payload."""
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        decode_video_features,
        encode_jpeg,
        parse_avi,
        parse_jpeg,
    )

    # (a) 1000-deep LIST nesting
    inner = b""
    for _ in range(1000):
        inner = b"LIST" + struct.pack("<I", len(inner) + 4) + b"xxxx" + inner
    evil = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    with pytest.raises(ValueError, match="nesting too deep"):
        parse_avi(evil)

    # (b) fill bytes / standalone markers between header segments
    img = np.full((8, 8), 150, dtype=np.uint8)
    pay = encode_jpeg(8, 8, img.tobytes(), ncomp=1)
    padded = pay[:2] + b"\xff\xff\xff\x01" + pay[2:]  # fill, fill, TEM
    w, h, raster = parse_jpeg(padded)
    assert (w, h) == (8, 8)
    assert np.frombuffer(raster, np.uint8)[0] == 150

    # (c) eager stride validation
    with pytest.raises(ValueError, match="every_n"):
        decode_video_features(None, every_n=0)


# --- GIF (LZW) ---------------------------------------------------------------

CANONICAL_1PX_GIF = (
    # hand-packed white 1x1 GIF89a (2-entry GCT, LZW min code size 2):
    # codes clear(100b) 0(000b) eoi(101b) LSB-packed -> 0x44 0x01.
    # EXTERNAL bytes, not this encoder's output — pins the decoder's bit
    # order and width convention against the spec, not against itself.
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
    b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
)


def test_gif_decodes_canonical_external_bytes():
    from etl_drone_sense_spark.operators.multimodal import parse_gif

    assert parse_gif(CANONICAL_1PX_GIF) == (1, 1, b"\xff\xff\xff")


def test_gif_roundtrip_crosses_width_boundaries():
    """Raster long enough that the LZW table crosses the 512/1024/2048
    width bumps AND the 4096 reset — the off-by-one desync surface."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import encode_gif, parse_gif

    w, h = 120, 90  # 10,800 px > 4096 table entries on random content
    rng = np.random.default_rng(11)
    idx = rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
    pal = bytes((k * 3 + c) % 256 for k in range(256) for c in range(3))
    got_w, got_h, rgb = parse_gif(encode_gif(w, h, idx, pal))
    assert (got_w, got_h) == (w, h)
    exp = np.frombuffer(pal, np.uint8).reshape(-1, 3)[
        np.frombuffer(idx, np.uint8)
    ].reshape(-1)
    assert rgb == exp.tobytes()


def test_gif_skips_extensions_and_honors_local_table():
    from etl_drone_sense_spark.operators.multimodal import encode_gif, parse_gif

    pal = bytes(range(6)) + bytes(762)
    base = encode_gif(2, 1, b"\x00\x01", pal)
    # splice a GCE extension block between the GCT and image descriptor
    head, img = base[: 13 + 768], base[13 + 768 :]
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    w, h, rgb = parse_gif(head + gce + img)
    assert (w, h, rgb) == (2, 1, bytes(pal[:6]))


def test_gif_quarantines_malformed():
    import pytest

    from etl_drone_sense_spark.operators.multimodal import encode_gif, parse_gif

    pal = bytes(768)
    good = encode_gif(3, 2, bytes(6), pal)

    with pytest.raises(ValueError, match="signature"):
        parse_gif(b"NOTGIF" + good[6:])
    with pytest.raises(ValueError):
        parse_gif(good[:40])  # truncated mid-structure
    with pytest.raises(ValueError):
        parse_gif(good[:-2])  # missing terminator+trailer


def test_gif_interlaced_roundtrip():
    """Interlaced storage (four-pass row order + flag) decodes to the
    SAME raster as progressive storage — and the two payloads differ on
    the wire, so the reorder is actually exercised."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import encode_gif, parse_gif

    w, h = 7, 13  # odd height: all four passes non-empty and uneven
    rng = np.random.default_rng(3)
    idx = rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
    pal = bytes((k * 5 + c) % 256 for k in range(256) for c in range(3))
    plain = encode_gif(w, h, idx, pal)
    inter = encode_gif(w, h, idx, pal, interlaced=True)
    assert plain != inter
    assert parse_gif(inter) == parse_gif(plain)
    for hh in (1, 2, 3, 4, 8, 9):  # degenerate heights: passes collapse
        idx2 = bytes(range(w * hh))
        assert parse_gif(
            encode_gif(w, hh, idx2, pal, interlaced=True)
        ) == parse_gif(encode_gif(w, hh, idx2, pal))


def test_gif_end_to_end_decode_matches_formula(spark):
    from etl_drone_sense_spark.operators import multimodal

    docs = spark.range(6).withColumnRenamed("id", "doc_id")
    media = multimodal.synth_gif_media(docs)
    feats = multimodal.decode_image_features(media).collect()
    assert len(feats) == 6
    for r in feats:
        did = r["media_id"]
        w, h = 4 + did % 5, 3 + did % 4
        assert r["decode_ok"], did
        assert (r["width"], r["height"]) == (w, h)
        vals = [
            (did * 47 + ((did * 43 + p) % 64) * 3) % 256 for p in range(w * h)
        ]
        assert abs(r["mean_r"] - sum(vals) / len(vals)) < 1e-9


def test_gif_animation_roundtrip_and_partial_rect_quarantine():
    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_gif_animated,
        parse_gif_frames,
    )

    w, h = 5, 4
    pal = bytes((k + c) % 256 for k in range(256) for c in range(3))
    frames = [bytes((f * 7 + p) % 64 for p in range(w * h)) for f in range(3)]
    gw, gh, got = parse_gif_frames(encode_gif_animated(w, h, frames, pal))
    assert (gw, gh, len(got)) == (w, h, 3)
    palv = np.frombuffer(pal, np.uint8).reshape(-1, 3)
    for f, fr in enumerate(frames):
        exp = palv[np.frombuffer(fr, np.uint8)].reshape(-1).tobytes()
        assert got[f] == exp

    # r13 quarantines: a rect past the canvas edge, and disposal 3
    payload = bytearray(encode_gif_animated(w, h, frames, pal))
    first = payload.index(b"\x2c", 13 + 768)
    second = payload.index(b"\x2c", first + 1)
    # make sure we found a descriptor, not a pixel byte: descriptor is
    # preceded by the GCE terminator \x00
    while payload[second - 1] != 0:
        second = payload.index(b"\x2c", second + 1)
    payload[second + 1] = 1  # left = 1 -> 1 + w > sw
    with pytest.raises(ValueError, match="outside the canvas"):
        parse_gif_frames(bytes(payload))
    with pytest.raises(ValueError, match="64M-pixel"):
        parse_gif_frames(
            b"GIF89a" + (60000).to_bytes(2, "little") * 2 + b"\x00\x00\x00;"
        )


def test_gif_partial_rect_disposal_compositing():
    """r13 (r12 VERDICT item 8): sub-rect frames composite onto the
    retained canvas — disposal 1 persists, disposal 2 restores the rect
    to the background color, disposal 3 restores the rect to its
    pre-render pixels, transparent pixels leave the underlying canvas
    pixel. Reference canvases computed independently with plain Python
    loops."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_gif_animated,
        parse_gif_frames,
    )

    w, h = 6, 5
    pal = bytes((k * 7 + c * 3) % 256 for k in range(256) for c in range(3))
    palv = np.frombuffer(pal, np.uint8).reshape(-1, 3)
    bg = 9
    base = bytes((3 + p) % 64 for p in range(w * h))  # frame 0 full-rect
    # frame 1: row 1, disposal 2, index 17 everywhere, transparent 63
    row1 = bytes([17, 63, 17, 63, 17, 17])
    # frame 2: rows 2-3 cols 1-4 (2x4 rect), disposal 3, transparent 63
    rect2 = bytes([63, 20, 21, 63, 22, 63, 63, 23])
    # frame 3: row 4, disposal 1, opaque
    row3 = bytes([30, 31, 32, 33, 34, 35])
    payload = encode_gif_animated(
        w, h,
        [
            base,
            (row1, 0, 1, w, 1, 2, 63),
            (rect2, 1, 2, 4, 2, 3, 63),
            (row3, 0, 4, w, 1, 1, None),
        ],
        pal,
        background=bg,
    )
    gw, gh, got = parse_gif_frames(payload)
    assert (gw, gh, len(got)) == (w, h, 4)

    canvas = [[base[r * w + c] for c in range(w)] for r in range(h)]

    def rgb(cv):
        flat = bytearray()
        for r in range(h):
            for c in range(w):
                flat += bytes(palv[cv[r][c]])
        return bytes(flat)

    # snapshot 0: frame 0
    assert got[0] == rgb(canvas)
    # snapshot 1: row 1 gets 17 where opaque, keeps base where transparent
    snap1 = [row[:] for row in canvas]
    for c in range(w):
        if row1[c] != 63:
            snap1[1][c] = row1[c]
    assert got[1] == rgb(snap1)
    # disposal 2: row 1 restored to BACKGROUND before frame 2 draws;
    # frame 2's 2x4 rect composites with transparency
    snap2 = [row[:] for row in canvas]
    for c in range(w):
        snap2[1][c] = bg
    for rr in range(2):
        for cc in range(4):
            v = rect2[rr * 4 + cc]
            if v != 63:
                snap2[2 + rr][1 + cc] = v
    assert got[2] == rgb(snap2)
    # disposal 3: frame 2's rect reverts to its pre-render pixels (the
    # base content — row 1 stays background from disposal 2), then
    # frame 3 draws row 4 opaque
    snap3 = [row[:] for row in canvas]
    for c in range(w):
        snap3[1][c] = bg
    for c in range(w):
        snap3[4][c] = row3[c]
    assert got[3] == rgb(snap3)


def test_video_features_dispatch_gif(spark):
    from etl_drone_sense_spark.operators import multimodal

    docs = spark.range(5).withColumnRenamed("id", "doc_id")
    feats = multimodal.decode_video_features(
        multimodal.synth_gif_anim_media(docs), every_n=2
    ).collect()
    for r in feats:
        did = r["media_id"]
        assert r["decode_ok"]
        assert r["frame_idx"] % 2 == 0
        assert r["n_frames"] == 2 + did % 4
        w, h = 4 + did % 5, 3 + did % 4
        assert (r["width"], r["height"]) == (w, h)


def test_gif_lzw_expansion_bomb_quarantines():
    """A tiny declared frame carrying a huge LZW stream must raise the
    quarantine ValueError at the size cap — not expand quadratically
    toward an OOM that would kill the whole Arrow task."""
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        _lzw_compress_gif,
        encode_gif,
        parse_gif,
    )

    pal = bytes(768)
    # honest 2x2 container, then splice in the LZW stream of a much
    # larger raster (256x256 of structured content → big expansion)
    bomb_raster = bytes((i * 7) % 256 for i in range(256 * 256))
    bomb_stream = _lzw_compress_gif(bomb_raster, 8)
    out = bytearray(encode_gif(2, 2, bytes(4), pal))
    desc = out.index(b"\x2c", 13 + 768)
    head = bytes(out[: desc + 10 + 1])  # through min-code-size byte
    blocks = bytearray()
    for i in range(0, len(bomb_stream), 255):
        b = bomb_stream[i : i + 255]
        blocks.append(len(b))
        blocks += b
    evil = head + bytes(blocks) + b"\x00\x3b"
    with pytest.raises(ValueError, match="expands beyond"):
        parse_gif(evil)


def test_ulaw_table_anchors_and_roundtrip():
    """G.711 anchors (0xFF→0, 0x00→−32124, 0x80→+32124) and the
    compress∘expand identity: every mu-law byte re-encodes to itself
    except 0x7F (negative zero folds onto 0xFF)."""
    from etl_drone_sense_spark.operators.multimodal import (
        _ULAW_TABLE,
        linear_to_ulaw,
    )

    assert _ULAW_TABLE[0xFF] == 0
    assert _ULAW_TABLE[0x00] == -32124
    assert _ULAW_TABLE[0x80] == 32124
    for b in range(256):
        back = linear_to_ulaw(int(_ULAW_TABLE[b]))
        assert back == (0xFF if b == 0x7F else b), b
    # quantization: expansion of the compression of any int16 is within
    # the segment step (≤ 2^(exp+3) ≈ mag/16 + 132)
    for x in [-32768, -12345, -132, -1, 0, 1, 131, 132, 7000, 32124, 32767]:
        y = int(_ULAW_TABLE[linear_to_ulaw(x)])
        assert abs(y - max(min(x, 32635), -32635)) <= max(abs(x) / 15, 132), x


def test_ulaw_wav_end_to_end(spark):
    from etl_drone_sense_spark.operators import multimodal

    docs = spark.range(4).withColumnRenamed("id", "doc_id")
    feats = multimodal.decode_audio_features(
        multimodal.synth_ulaw_media(docs)
    ).collect()
    import numpy as np

    for r in feats:
        did = r["media_id"]
        frames = 60 + did % 50
        assert r["decode_ok"] and r["n_frames"] == frames
        assert (r["sample_rate"], r["channels"]) == (8000, 1)
        i = np.arange(frames, dtype=np.int64)
        vals = multimodal._ULAW_TABLE[((did * 29 + i * 11) % 256).astype(np.uint8)]
        exp_mean = np.floor(
            np.abs(vals.astype(np.int64)).sum() / frames * 1e6 + 0.5
        ) / 1e6
        assert r["mean_abs"] == exp_mean
        assert r["peak"] == int(np.abs(vals.astype(np.int64)).max())


def test_adpcm_roundtrip_and_reference_walk():
    """IMA ADPCM decode must reproduce a pure-Python reference walk of
    the spec recurrence for arbitrary code streams and initial states,
    across multiple blocks (state restarts per block header)."""
    import struct

    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        _ima_adpcm_step,
        encode_wav_adpcm,
        parse_wav,
    )

    for did in (0, 1, 7, 88, 123):
        nibs = 64 + (did % 48) * 2
        codes = bytes((did * 13 + i * 7) % 16 for i in range(nibs))
        p0, i0 = ((did * 37) % 256 - 128) * 16, did % 89
        rate, ch, samples = parse_wav(encode_wav_adpcm(11025, p0, i0, codes))
        assert (rate, ch) == (11025, 1)
        exp = [p0]
        pred, idx = p0, i0
        for c in codes:
            pred, idx = _ima_adpcm_step(pred, idx, c)
            exp.append(pred)
        assert samples.tolist() == exp
        assert samples.dtype == np.int16
    # two blocks: concatenated data decodes with a state restart
    one = parse_wav(encode_wav_adpcm(8000, 100, 5, bytes([3, 12] * 4)))[2]
    blob = encode_wav_adpcm(8000, 100, 5, bytes([3, 12] * 4))
    # splice the data chunk twice, fix sizes and fact
    data_off = blob.index(b"data")
    (dlen,) = struct.unpack_from("<I", blob, data_off + 4)
    data = blob[data_off + 8 : data_off + 8 + dlen]
    head = blob[:data_off]
    two = (
        head[: head.index(b"fact") + 8]
        + struct.pack("<I", 18)
        + head[head.index(b"fact") + 12 :]
        + b"data" + struct.pack("<I", 2 * dlen) + data + data
    )
    two = b"RIFF" + struct.pack("<I", len(two) - 8) + two[8:]
    rate, ch, samples = parse_wav(two)
    assert samples.tolist() == one.tolist() + one.tolist()


def test_adpcm_stereo_interleave_reference_walk():
    """Stereo IMA: two headers, then 4-byte channel groups (8 codes for
    L, 8 for R, ...). The decoded stream must interleave frame-major —
    aggregate features can't see a swapped-group bug, so this test is
    the interleave's pin (the oracle certifies the per-channel walks)."""
    from etl_drone_sense_spark.operators.multimodal import (
        _ima_adpcm_step,
        encode_wav_adpcm,
        parse_wav,
    )

    nl = bytes((7 * i + 1) % 16 for i in range(24))
    nr = bytes((5 * i + 3) % 16 for i in range(24))
    rate, ch, smp = parse_wav(
        encode_wav_adpcm(8000, (100, -200), (10, 20), (nl, nr))
    )
    assert (rate, ch) == (8000, 2)
    walks = []
    for p0, i0, codes in ((100, 10, nl), (-200, 20, nr)):
        out, (p, i) = [p0], (p0, i0)
        for c in codes:
            p, i = _ima_adpcm_step(p, i, c)
            out.append(p)
        walks.append(out)
    assert smp.tolist() == [v for fr in zip(*walks) for v in fr]


def test_adpcm_quad_interleave_reference_walk():
    """r13 late: >2-channel IMA — four headers, then 4-byte channel
    groups cycling all four channels. Same reference-walk pin as the
    stereo test, at the channel count the old decoder quarantined."""
    from etl_drone_sense_spark.operators.multimodal import (
        _ima_adpcm_step,
        encode_wav_adpcm,
        parse_wav,
    )

    codes = [bytes((7 * i + 3 * c + 1) % 16 for i in range(16)) for c in range(4)]
    preds = [100, -200, 300, -400]
    idxs = [10, 20, 30, 40]
    rate, ch, smp = parse_wav(encode_wav_adpcm(8000, preds, idxs, codes))
    assert (rate, ch) == (8000, 4)
    walks = []
    for p0, i0, cc in zip(preds, idxs, codes):
        out, (p, i) = [p0], (p0, i0)
        for c in cc:
            p, i = _ima_adpcm_step(p, i, c)
            out.append(p)
        walks.append(out)
    assert smp.tolist() == [v for fr in zip(*walks) for v in fr]


def test_adpcm_quarantines():
    """Stereo ADPCM, bad block alignment, out-of-range step index, and a
    fact chunk promising more frames than the data decodes must all
    quarantine as ValueError."""
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_wav_adpcm,
        parse_wav,
    )

    good = encode_wav_adpcm(11025, 0, 0, bytes([1, 2, 3, 4]))

    def patch(blob: bytes, off: int, fmt: str, val: int) -> bytes:
        buf = bytearray(blob)
        struct.pack_into(fmt, buf, off, val)
        return bytes(buf)

    fmt_off = good.index(b"fmt ") + 8
    with pytest.raises(ValueError, match="1-8 channels"):
        parse_wav(patch(good, fmt_off + 2, "<H", 9))  # channels=9
    with pytest.raises(ValueError):
        # channels=3 on a mono-sized block: the per-channel headers
        # alone exceed the block alignment — structural quarantine
        parse_wav(patch(good, fmt_off + 2, "<H", 3))
    with pytest.raises(ValueError, match="block"):
        parse_wav(patch(good, fmt_off + 12, "<H", 4))  # block_align < 5
    data_off = good.index(b"data") + 8
    with pytest.raises(ValueError, match="step index"):
        parse_wav(patch(good, data_off + 2, "<B", 89))
    fact_off = good.index(b"fact") + 8
    with pytest.raises(ValueError, match="fact frames"):
        parse_wav(patch(good, fact_off, "<I", 99))
    with pytest.raises(ValueError):
        encode_wav_adpcm(8000, 0, 0, bytes([1, 2, 3]))  # odd nibbles
    with pytest.raises(ValueError):
        encode_wav_adpcm(8000, 0, 89, bytes([1, 2]))  # bad index


def test_msadpcm_roundtrip_and_reference_walk():
    """Microsoft ADPCM decode must reproduce a pure-Python reference walk
    of the spec recurrence (floor predictor, signed nibble, int16 clamp,
    delta adaptation with the 16 floor) for arbitrary states, across
    multiple blocks (state restarts per block header), with the header's
    sample2 playing FIRST."""
    import struct

    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        _MSADPCM_COEF1,
        _MSADPCM_COEF2,
        _msadpcm_step,
        encode_wav_msadpcm,
        parse_wav,
    )

    for did in (0, 6, 88, 122):  # mono fixture shapes
        nibs = 64 + (did % 48) * 2
        codes = bytes(
            (did * 19 + (i // 8) * 7) % 16 if i % 8 == 0 else (did + i) % 4
            for i in range(nibs)
        )
        bp, d0 = did % 7, 16 + (did * 7) % 480
        a0 = ((did * 31) % 256 - 128) * 16
        b0 = ((did * 23) % 256 - 128) * 16
        rate, ch, samples = parse_wav(
            encode_wav_msadpcm(11025, bp, d0, a0, b0, codes)
        )
        assert (rate, ch) == (11025, 1)
        exp = [b0, a0]
        s1, s2, d = a0, b0, d0
        c1, c2 = _MSADPCM_COEF1[bp], _MSADPCM_COEF2[bp]
        for c in codes:
            s1, s2, d = _msadpcm_step(s1, s2, d, c1, c2, c)
            exp.append(s1)
        assert samples.tolist() == exp
        assert samples.dtype == np.int16
    # two blocks: concatenated data decodes with a state restart
    blob = encode_wav_msadpcm(8000, 2, 40, 100, -50, bytes([3, 0, 1, 2]))
    one = parse_wav(blob)[2]
    data_off = blob.index(b"data")
    (dlen,) = struct.unpack_from("<I", blob, data_off + 4)
    data = blob[data_off + 8 : data_off + 8 + dlen]
    head = blob[:data_off]
    two = (
        head[: head.index(b"fact") + 8]
        + struct.pack("<I", 12)
        + head[head.index(b"fact") + 12 :]
        + b"data" + struct.pack("<I", 2 * dlen) + data + data
    )
    two = b"RIFF" + struct.pack("<I", len(two) - 8) + two[8:]
    rate, ch, samples = parse_wav(two)
    assert samples.tolist() == one.tolist() + one.tolist()


def test_msadpcm_stereo_interleave_reference_walk():
    """Stereo MS ADPCM: field-major headers, then one byte per frame —
    HIGH nibble is the left channel's code, LOW the right's. The decoded
    stream must interleave frame-major with sample2/sample1 first —
    aggregate features can't see a swapped-nibble bug, so this test is
    the interleave's pin (the oracle certifies the per-channel walks)."""
    from etl_drone_sense_spark.operators.multimodal import (
        _MSADPCM_COEF1,
        _MSADPCM_COEF2,
        _msadpcm_step,
        encode_wav_msadpcm,
        parse_wav,
    )

    nl = bytes((7 * i + 1) % 4 if i % 8 else (3 * i + 9) % 16 for i in range(24))
    nr = bytes((5 * i + 3) % 4 if i % 8 else (5 * i + 2) % 16 for i in range(24))
    rate, ch, smp = parse_wav(
        encode_wav_msadpcm(
            8000, (1, 4), (30, 60), (100, -200), (-300, 400), (nl, nr)
        )
    )
    assert (rate, ch) == (8000, 2)
    walks = []
    for bp, d0, a0, b0, codes in (
        (1, 30, 100, -300, nl),
        (4, 60, -200, 400, nr),
    ):
        out, (s1, s2, d) = [b0, a0], (a0, b0, d0)
        c1, c2 = _MSADPCM_COEF1[bp], _MSADPCM_COEF2[bp]
        for c in codes:
            s1, s2, d = _msadpcm_step(s1, s2, d, c1, c2, c)
            out.append(s1)
        walks.append(out)
    assert smp.tolist() == [v for fr in zip(*walks) for v in fr]


def test_msadpcm_quarantines():
    """>2 channels, bad block alignment, out-of-range predictor index, a
    truncated coefficient table, and a fact chunk promising more frames
    than the data decodes must all quarantine as ValueError."""
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_wav_msadpcm,
        parse_wav,
    )

    good = encode_wav_msadpcm(11025, 0, 20, 10, -10, bytes([1, 2, 3, 4]))

    def patch(blob: bytes, off: int, fmt: str, val: int) -> bytes:
        buf = bytearray(blob)
        struct.pack_into(fmt, buf, off, val)
        return bytes(buf)

    fmt_off = good.index(b"fmt ") + 8
    with pytest.raises(ValueError, match="1 or 2 channels"):
        parse_wav(patch(good, fmt_off + 2, "<H", 3))  # channels=3
    with pytest.raises(ValueError, match="block"):
        parse_wav(patch(good, fmt_off + 12, "<H", 5))  # block_align < 8
    with pytest.raises(ValueError, match="coefficient"):
        parse_wav(patch(good, fmt_off + 20, "<H", 99))  # wNumCoef too big
    data_off = good.index(b"data") + 8
    with pytest.raises(ValueError, match="predictor index"):
        parse_wav(patch(good, data_off, "<B", 7))
    fact_off = good.index(b"fact") + 8
    with pytest.raises(ValueError, match="fact frames"):
        parse_wav(patch(good, fact_off, "<I", 99))
    with pytest.raises(ValueError):
        encode_wav_msadpcm(8000, 0, 20, 0, 0, bytes([1, 2, 3]))  # odd mono
    with pytest.raises(ValueError):
        encode_wav_msadpcm(8000, 7, 20, 0, 0, bytes([1, 2]))  # bad bpred
    with pytest.raises(ValueError):
        encode_wav_msadpcm(8000, 0, 5, 0, 0, bytes([1, 2]))  # delta < 16


def test_gif_fuzz_only_valueerror_escapes():
    """Random and bit-flipped payloads must only ever raise ValueError —
    any other exception class escapes the Arrow-task quarantine."""
    import random

    from etl_drone_sense_spark.operators.multimodal import encode_gif, parse_gif

    rng = random.Random(5)
    pal = bytes(range(256)) * 3
    pal = pal[: 256 * 3]
    good = encode_gif(5, 4, bytes(range(20)), pal)
    for _ in range(300):
        buf = bytearray(good)
        for _ in range(rng.randrange(1, 6)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            parse_gif(bytes(buf))
        except ValueError:
            pass
    for _ in range(200):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200)))
        try:
            parse_gif(b"GIF89a" + blob)
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# BMP (r9): headers, both row orders, padding, palette, quarantine
# ---------------------------------------------------------------------------


def test_bmp_roundtrip_both_orders_and_padding():
    import struct

    from etl_drone_sense_spark.operators.multimodal import encode_bmp, parse_bmp

    # width 3 → row_bytes 9 → pad 3; width 4 → pad 0: both stride cases
    for w, h in [(3, 2), (4, 3), (1, 1), (5, 4)]:
        raster = bytes((7 * i + 3) % 256 for i in range(w * h * 3))
        for td in (False, True):
            payload = encode_bmp(w, h, raster, top_down=td)
            assert payload[:2] == b"BM"
            # declared height is negative iff top-down
            h_raw = struct.unpack_from("<i", payload, 22)[0]
            assert (h_raw < 0) == td
            assert parse_bmp(payload) == (w, h, raster)


def test_bmp_palette_roundtrip():
    from etl_drone_sense_spark.operators.multimodal import encode_bmp, parse_bmp

    w, h = 5, 3  # row_bytes 5 → pad 3
    idx = bytes((3 * p) % 16 for p in range(w * h))
    pal = bytes((11 * k) % 256 for k in range(16 * 3))
    got_w, got_h, rgb = parse_bmp(encode_bmp(w, h, idx, palette=pal))
    assert (got_w, got_h) == (w, h)
    expect = bytes(
        pal[3 * i + c] for p in range(w * h) for i in [idx[p]] for c in (0, 1, 2)
    )
    assert rgb == expect


def test_bmp_flip_changes_row_moment_not_means():
    """The exact bug class row_moment exists for: flipping rows keeps
    every channel mean and changes the moment (unless h == 1)."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import encode_bmp, parse_bmp

    w, h = 4, 3
    raster = bytes((13 * i + 1) % 256 for i in range(w * h * 3))
    _, _, rgb = parse_bmp(encode_bmp(w, h, raster))
    arr = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64).reshape(h, w * 3)
    flipped = arr[::-1]
    assert arr.reshape(-1, 3).sum(0).tolist() == flipped.reshape(-1, 3).sum(0).tolist()
    ys = np.arange(h)
    assert (ys * arr.sum(1)).sum() != (ys * flipped.sum(1)).sum()


def test_bmp_quarantines_malformed_and_unsupported():
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import encode_bmp, parse_bmp

    w, h = 4, 3
    good = encode_bmp(w, h, bytes(w * h * 3))

    def mutate(off, fmt, val):
        b = bytearray(good)
        struct.pack_into(fmt, b, off, val)
        return bytes(b)

    cases = [
        b"",  # empty
        b"XX" + good[2:],  # wrong magic
        good[:40],  # truncated header
        good[:-5],  # truncated pixel data
        mutate(14, "<I", 108),  # V4 header
        mutate(14, "<I", 124),  # V5 header
        mutate(26, "<H", 3),  # planes != 1
        mutate(28, "<H", 1),  # 1-bit reread of a 24-bit body: no palette
        mutate(28, "<H", 32),  # 32-bit reread of a 24-bit body: truncated
        mutate(30, "<I", 1),  # BI_RLE8 on a 24-bit image
        mutate(30, "<I", 3),  # BI_BITFIELDS on a 24-bit image
        mutate(18, "<i", -4),  # negative width
        mutate(18, "<i", 1 << 24),  # absurd width
    ]
    for payload in cases:
        with pytest.raises(ValueError):
            parse_bmp(payload)
    # palette index beyond the declared color count
    idx = bytes([5]) + bytes(11)
    pal = bytes(4 * 3)  # only 4 entries
    with pytest.raises(ValueError):
        parse_bmp(encode_bmp(4, 3, idx, palette=pal))
    # encoder refuses the same inconsistency up front
    import pytest as _pytest

    with _pytest.raises(ValueError):
        encode_bmp(4, 3, bytes(5))  # raster length mismatch


def test_bmp_bitfields_rgb32_rle4_roundtrip():
    """r13 late tiers: 5-6-5 BITFIELDS (floor rescale), 32-bit BGRX
    (bit-exact, pad byte ignored), RLE4 palette (nibble runs + packed
    absolute mode), and generic-mask validation."""
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import encode_bmp, parse_bmp

    for did in (4, 11, 18, 25, 32, 39, 46):  # variant-4/5/6 doc ids
        w, h = 4 + did % 5, 3 + did % 4
        variant = did % 7
        if variant in (4, 5):
            raster = bytes((did * 43 + i) % 256 for i in range(w * h * 3))
            _, _, out = parse_bmp(
                encode_bmp(
                    w, h, raster,
                    bitfields565=(variant == 4), rgb32=(variant == 5),
                )
            )
            src = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
            if variant == 4:
                px = src.reshape(-1, 3)
                exp = np.stack(
                    [
                        (px[:, 0] >> 3) * 255 // 31,
                        (px[:, 1] >> 2) * 255 // 63,
                        (px[:, 2] >> 3) * 255 // 31,
                    ],
                    axis=-1,
                ).ravel()
            else:
                exp = src
            assert np.array_equal(
                np.frombuffer(out, dtype=np.uint8).astype(np.int64), exp
            ), did
        elif variant == 6:
            idx = bytes((did * 43 + p) % 16 for p in range(w * h))
            pal = bytes((did * 47 + b) % 256 for b in range(16 * 3))
            _, _, out = parse_bmp(encode_bmp(w, h, idx, palette=pal, rle4=True))
            pr = np.frombuffer(pal, dtype=np.uint8).reshape(16, 3)
            exp = pr[np.frombuffer(idx, dtype=np.uint8)].ravel()
            assert np.array_equal(np.frombuffer(out, dtype=np.uint8), exp), did
    # mask validation: zero, overlapping, and non-contiguous masks raise
    base = bytearray(encode_bmp(4, 3, bytes(4 * 3 * 3), bitfields565=True))
    for masks in (
        (0, 0x07E0, 0x001F),          # zero mask
        (0xF800, 0xFC00, 0x001F),     # overlap
        (0xA800, 0x07E0, 0x001F),     # non-contiguous
    ):
        b = bytearray(base)
        struct.pack_into("<III", b, 54, *masks)
        with pytest.raises(ValueError, match="mask"):
            parse_bmp(bytes(b))
    # 16-bit BI_RGB defaults to 5-5-5 masks per spec
    w, h = 2, 1
    word = (10 << 10) | (21 << 5) | 31
    row = struct.pack("<HH", word, 0)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 16, 0, len(row), 2835, 2835, 0, 0
    )
    fh = struct.pack("<2sIHHI", b"BM", 54 + len(row), 0, 0, 54)
    _, _, out = parse_bmp(fh + info + row)
    assert list(out[:3]) == [10 * 255 // 31, 21 * 255 // 31, 255]


def test_bmp_end_to_end_decode_matches_formula(spark):
    """synth_bmp_media → decode_image_features equals the doc_id
    arithmetic, including the order-sensitive row moment."""
    import numpy as np

    from etl_drone_sense_spark.operators import multimodal as MM

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    got = {
        r["media_id"]: r
        for r in MM.decode_image_features(MM.synth_bmp_media(docs)).collect()
    }
    for did in range(20):
        w, h = 4 + did % 5, 3 + did % 4
        variant = did % 10  # r13 late tiers + r14 1-bit and V4/V5 tiers
        if variant in (0, 1, 5, 9):
            vals = np.array(
                [(did * 43 + i) % 256 for i in range(w * h * 3)], dtype=np.int64
            )
        elif variant in (4, 8):
            px = np.array(
                [(did * 43 + i) % 256 for i in range(w * h * 3)], dtype=np.int64
            ).reshape(-1, 3)
            vals = np.stack(
                [
                    (px[:, 0] >> 3) * 255 // 31,
                    (px[:, 1] >> 2) * 255 // 63,
                    (px[:, 2] >> 3) * 255 // 31,
                ],
                axis=-1,
            ).ravel()
        elif variant in (6, 7):
            m = 16 if variant == 6 else 2
            vals = np.array(
                [
                    (did * 47 + ((did * 43 + p) % m) * 3 + c) % 256
                    for p in range(w * h)
                    for c in (0, 1, 2)
                ],
                dtype=np.int64,
            )
        else:
            vals = np.array(
                [
                    (did * 47 + ((did * 43 + p) % 64) * 3 + c) % 256
                    for p in range(w * h)
                    for c in (0, 1, 2)
                ],
                dtype=np.int64,
            )
        r = got[did]
        assert r["decode_ok"] and (r["width"], r["height"]) == (w, h)
        px = vals.reshape(-1, 3)
        assert r["mean_r"] == px[:, 0].sum() / (w * h)
        assert r["mean_b"] == px[:, 2].sum() / (w * h)
        rows = vals.reshape(h, w * 3)
        assert r["row_moment"] == int(
            (np.arange(h, dtype=np.int64) * rows.sum(axis=1)).sum()
        )


def test_bmp_header_overlapping_pixel_offset_quarantines():
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import encode_bmp, parse_bmp

    good = bytearray(encode_bmp(4, 3, bytes(4 * 3 * 3)))
    struct.pack_into("<I", good, 10, 10)  # data offset inside the header
    with pytest.raises(ValueError):
        parse_bmp(bytes(good))


# --- TIFF (r10) --------------------------------------------------------------


def test_tiff_roundtrip_all_tiers():
    """Every (color model × compression × byte order × strip height ×
    predictor) combination must roundtrip bit-exactly — none of the
    supported tiers is lossy (LZW and Deflate are exact entropy coders,
    the predictor is exact mod-256 integer differencing)."""
    import itertools
    import random
    import struct

    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_tiff,
        parse_image,
        parse_tiff,
    )

    rng = random.Random(11)
    for w, h, gray, comp, be, rps, pred in itertools.product(
        [1, 4, 7], [1, 3, 6], [False, True],
        ["none", "packbits", "lzw", "deflate"],
        [False, True], [None, 1, 2], [1, 2],
    ):
        n = w * h * (1 if gray else 3)
        raster = bytes(rng.randrange(256) for _ in range(n))
        blob = encode_tiff(
            w, h, raster, gray=gray, compression=comp,
            big_endian=be, rows_per_strip=rps, predictor=pred,
        )
        # word alignment (r10 ADVICE): the IFD offset must be even
        assert struct.unpack_from((">" if be else "<") + "I", blob, 4)[0] % 2 == 0
        w2, h2, rgb = parse_tiff(blob)
        assert (w2, h2) == (w, h)
        if gray:
            g = np.frombuffer(raster, dtype=np.uint8).reshape(h, w)
            a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
            assert (a == g[:, :, None]).all()
        else:
            assert rgb == raster
        # magic-byte dispatch must route both byte orders
        assert parse_image(blob) == (w2, h2, rgb)


def test_tiff_palette_roundtrip_and_quarantines():
    """Palette tier (r12): indices map through the 3x256 16-bit ColorMap
    exactly (v*257 write, >> 8 read); composes with compression, byte
    order, and multi-strip. A missing/short ColorMap, a palette with a
    gray flag, and a non-256-entry palette must ValueError."""
    import random
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_tiff,
        parse_image,
        parse_tiff,
    )

    rng = random.Random(12)
    pal = bytes(rng.randrange(256) for _ in range(256 * 3))
    for comp, be, rps in (
        ("none", False, None), ("packbits", True, 2), ("lzw", False, 1),
        ("deflate", True, 2),
    ):
        w, h = 5, 4
        idx = bytes(rng.randrange(256) for _ in range(w * h))
        blob = encode_tiff(
            w, h, idx, compression=comp, big_endian=be,
            rows_per_strip=rps, palette=pal,
        )
        w2, h2, rgb = parse_tiff(blob)
        assert (w2, h2) == (w, h)
        arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h * w, 3)
        for p, i in enumerate(idx):
            assert tuple(arr[p]) == tuple(pal[i * 3 : i * 3 + 3]), p
        assert parse_image(blob) == (w2, h2, rgb)

    good = encode_tiff(4, 3, bytes(12), palette=pal, rows_per_strip=2)
    # drop the ColorMap by renaming tag 320 to an ignored metadata tag
    buf = bytearray(good)
    ifd = struct.unpack_from("<I", buf, 4)[0]
    n = struct.unpack_from("<H", buf, ifd)[0]
    for k in range(n):
        off = ifd + 2 + 12 * k
        if struct.unpack_from("<H", buf, off)[0] == 320:
            struct.pack_into("<H", buf, off, 999)
    with pytest.raises(ValueError, match="ColorMap"):
        parse_tiff(bytes(buf))
    with pytest.raises(ValueError, match="exclusive"):
        encode_tiff(4, 3, bytes(12), gray=True, palette=pal)
    with pytest.raises(ValueError, match="256"):
        encode_tiff(4, 3, bytes(12), palette=pal[:30])


def test_tiff_packbits_runs_and_row_restart():
    """PackBits must survive 128+-byte runs (two repeat records) and the
    per-row restart discipline (a run crossing a row boundary must not
    be merged — the decoder counts bytes per strip, so a merged run
    over-runs and quarantines)."""
    from etl_drone_sense_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
        encode_tiff,
        parse_tiff,
    )

    row = b"\x05" * 300
    assert _packbits_decode(_packbits_encode(row), 300) == row
    # constant image: every row packs to a repeat record; multi-strip
    w, h = 100, 5
    blob = encode_tiff(w, h, b"\x07" * (w * h), gray=True, compression="packbits", rows_per_strip=2)
    w2, h2, rgb = parse_tiff(blob)
    assert (w2, h2) == (w, h) and set(rgb) == {7}


def test_tiff_unsupported_tiers_quarantine():
    """JPEG-in-TIFF compression, tiled layout, 16-bit depth, planar-2,
    the floating-point predictor, and structural damage must raise
    ValueError (decode_ok=false), never escape as a different exception
    or wrong pixels."""
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_tiff,
        parse_tiff,
    )

    good = encode_tiff(4, 3, bytes(36), rows_per_strip=2)

    def patch_tag(blob: bytes, tag: int, new_value: int) -> bytes:
        buf = bytearray(blob)
        ifd = struct.unpack_from("<I", buf, 4)[0]
        n = struct.unpack_from("<H", buf, ifd)[0]
        for k in range(n):
            off = ifd + 2 + 12 * k
            if struct.unpack_from("<H", buf, off)[0] == tag:
                struct.pack_into("<H", buf, off + 8, new_value)
        return bytes(buf)

    for bad in (
        b"",
        b"II\x2a\x00",
        b"XX\x2a\x00\x08\x00\x00\x00",
        good[:-10],  # truncated IFD
        patch_tag(good, 259, 7),  # JPEG-in-TIFF
        patch_tag(good, 284, 2),  # planar
        patch_tag(good, 258, 16),  # bit depth
    ):
        with pytest.raises(ValueError):
            parse_tiff(bad)
    # orientation: the encoder never writes tag 274, so REWRITE the
    # planar entry (tag 284, scalar SHORT 1) into orientation=3
    buf = bytearray(good)
    ifd = struct.unpack_from("<I", buf, 4)[0]
    n = struct.unpack_from("<H", buf, ifd)[0]
    for k in range(n):
        off = ifd + 2 + 12 * k
        if struct.unpack_from("<H", buf, off)[0] == 284:
            struct.pack_into("<H", buf, off, 274)
            struct.pack_into("<H", buf, off + 8, 3)
    with pytest.raises(ValueError):
        parse_tiff(bytes(buf))
    # rewriting the first entry's tag (ImageWidth → TileWidth) both
    # drops a required tag and mixes strip/tile tables — still ValueError
    buf = bytearray(good)
    ifd = struct.unpack_from("<I", buf, 4)[0]
    struct.pack_into("<H", buf, ifd + 2, 322)  # first entry tag → TileWidth
    with pytest.raises(ValueError):
        parse_tiff(bytes(buf))


def test_tiff_tiled_layout_roundtrip_and_quarantines():
    """r11: the tile-grid tier — padded edge tiles must clip exactly on
    placement across every compression/predictor/byte-order combo and
    multi-tile grids; non-16-multiple tile dims and files carrying BOTH
    strip and tile tables quarantine."""
    import itertools
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_tiff,
        parse_tiff,
    )

    for gray, comp, pred, (w, h) in itertools.product(
        (False, True), ("none", "packbits", "lzw", "deflate"), (1, 2),
        [(7, 5), (16, 16), (20, 33)],
    ):
        spp = 1 if gray else 3
        raster = bytes((i * 31 + 5) % 256 for i in range(w * h * spp))
        blob = encode_tiff(
            w, h, raster, gray=gray, compression=comp,
            predictor=pred, tile=(16, 16),
        )
        w2, h2, rgb = parse_tiff(blob)
        assert (w2, h2) == (w, h)
        if gray:
            g = np.frombuffer(raster, dtype=np.uint8).reshape(h, w)
            a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
            assert (a == g[:, :, None]).all(), (comp, pred, w, h)
        else:
            assert rgb == raster, (comp, pred, w, h)
    with pytest.raises(ValueError):
        encode_tiff(4, 3, bytes(36), tile=(15, 16))  # not a 16-multiple
    # inject a StripByteCounts tag into a tiled file → mutual exclusion
    tiled = encode_tiff(4, 3, bytes(36), tile=(16, 16))
    buf = bytearray(tiled)
    ifd = struct.unpack_from("<I", buf, 4)[0]
    n = struct.unpack_from("<H", buf, ifd)[0]
    for k in range(n):
        off = ifd + 2 + 12 * k
        if struct.unpack_from("<H", buf, off)[0] == 284:  # planar (dflt 1)
            struct.pack_into("<H", buf, off, 279)  # → StripByteCounts
    with pytest.raises(ValueError, match="both strip and tile"):
        parse_tiff(bytes(buf))


def test_tiff_lzw_matches_spec_vector():
    """TIFF 6.0 §13 semantics pinned on a hand-computed stream: input
    7 7 7 8 8 7 7 6 6 must emit exactly the 9-bit MSB-first codes
    Clear, 7, 258, 8, 8, 258, 6, 6, EOI — any bit-order or EarlyChange
    slip changes the code sequence."""
    from etl_drone_sense_spark.operators.multimodal import (
        _lzw_compress_tiff,
        _lzw_decompress_tiff,
    )

    data = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    z = _lzw_compress_tiff(data)
    bits = "".join(f"{b:08b}" for b in z)
    codes = [int(bits[i : i + 9], 2) for i in range(0, 81, 9)]
    assert codes == [256, 7, 258, 8, 8, 258, 6, 6, 257]
    assert _lzw_decompress_tiff(z, len(data)) == data


def test_tiff_lzw_width_bumps_and_table_reset():
    """Roundtrips across every EarlyChange width boundary (low-entropy
    data grows the table fast) and across the 4094-entry table reset;
    truncated and over-long streams quarantine."""
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        _lzw_compress_tiff,
        _lzw_decompress_tiff,
    )

    for n in list(range(500, 530)) + [5000, 30000]:
        data = bytes((k % 3) for k in range(n))
        assert _lzw_decompress_tiff(_lzw_compress_tiff(data), n) == data
    kwk = b"\x00" * 20000  # exercises the code == next_code (KwKwK) path
    assert _lzw_decompress_tiff(_lzw_compress_tiff(kwk), 20000) == kwk
    z = _lzw_compress_tiff(b"abcabcabc")
    with pytest.raises(ValueError):
        _lzw_decompress_tiff(z[:3], 9)  # truncated
    with pytest.raises(ValueError):
        _lzw_decompress_tiff(z, 4)  # output overruns the strip size


def test_tiff_deflate_and_predictor_quarantines():
    """Bad zlib bytes, a deflate strip of the wrong decoded size, and
    predictor values outside {1, 2} must all quarantine as ValueError."""
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_tiff,
        parse_tiff,
    )

    good = encode_tiff(4, 3, bytes(36), compression="deflate")
    ifd = struct.unpack_from("<I", good, 4)[0]

    def patched(blob, tag, val):
        buf = bytearray(blob)
        n = struct.unpack_from("<H", buf, ifd)[0]
        for k in range(n):
            off = ifd + 2 + 12 * k
            if struct.unpack_from("<H", buf, off)[0] == tag:
                struct.pack_into("<H", buf, off + 8, val)
        return bytes(buf)

    # corrupt the zlib stream (strip data starts at byte 8)
    bad = bytearray(good)
    bad[8] ^= 0xFF
    with pytest.raises(ValueError):
        parse_tiff(bytes(bad))
    # predictor 3 (floating point) quarantines; predictor tag comes from
    # an encode with predictor=2, rewritten
    pred2 = encode_tiff(4, 3, bytes(36), compression="deflate", predictor=2)
    ifd = struct.unpack_from("<I", pred2, 4)[0]
    with pytest.raises(ValueError):
        parse_tiff(patched(pred2, 317, 3))
    # encoder guards
    with pytest.raises(ValueError):
        encode_tiff(70000, 1, bytes(70000 * 3))
    with pytest.raises(ValueError):
        encode_tiff(2, 2, bytes(12), predictor=3)


def test_tiff_packbits_overrun_quarantines():
    """A packbits stream decoding to MORE bytes than the strip expects
    must quarantine (the overrun guard), as must one that starves."""
    import pytest

    from etl_drone_sense_spark.operators.multimodal import _packbits_decode

    with pytest.raises(ValueError):
        _packbits_decode(b"\x81\x07", 3)  # 128-byte repeat into a 3-byte strip
    with pytest.raises(ValueError):
        _packbits_decode(b"\x00\x07", 3)  # 1 literal byte, then starvation


# --- FLAC (r13) -------------------------------------------------------------


def test_flac_roundtrip_all_variants():
    """Every subframe strategy × mono/stereo × every channel assignment
    (independent, left/side, right/side, mid/side) × every corpus bit
    depth (16/8/24/32 — r13 late + the r14 32-bit closure) ×
    partial-tail sizes must roundtrip bit-exactly — losslessness IS
    the format contract."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_flac,
        parse_flac,
    )

    modes = ("independent", "left_side", "right_side", "mid_side")
    for did in (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 37, 49, 96, 97,
                118, 119, 130, 131):
        ch = 1 + did % 2
        frames = 60 + did % 60
        variant = did % 5
        bits = (16, 8, 24, 32)[(did // 3) % 4]
        mod, half = 1 << bits, 1 << (bits - 1)
        i = np.arange(frames, dtype=np.int64)
        inter = np.empty(frames * ch, dtype=np.int64)
        for c in range(ch):
            if variant == 0:
                inter[c::ch] = (did * 47 + c * 31) % mod - half
            else:
                inter[c::ch] = (did * 47 + c * 31 + i * 9) % mod - half
        for mode in (modes if ch == 2 else ("independent",)):
            rate, ch2, out = parse_flac(
                encode_flac(
                    16000, ch, inter, variant=variant, channel_mode=mode,
                    bits=bits,
                )
            )
            assert (rate, ch2) == (16000, ch)
            assert out.dtype == (np.int16 if bits <= 16 else np.int32)
            assert np.array_equal(out.astype(np.int64), inter), (
                did, variant, mode, bits,
            )
    # 12- and 20-bit are spec codes the fixture never cycles; the codec
    # still roundtrips them (depth support is the full fixed-code table)
    for bits in (12, 20):
        mod, half = 1 << bits, 1 << (bits - 1)
        s = (np.arange(100, dtype=np.int64) * 97) % mod - half
        _, _, out = parse_flac(encode_flac(8000, 1, s, variant=3, bits=bits))
        assert np.array_equal(out.astype(np.int64), s)


def test_flac_crc_corruption_quarantines():
    """A flipped payload bit must raise (CRC verified), never emit wrong
    samples silently."""
    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_flac,
        parse_flac,
    )

    base = encode_flac(
        16000, 1, np.arange(100, dtype=np.int64) * 9 % 65536 - 32768,
        variant=3,
    )
    # flip one bit in every byte of the frame region; each must either
    # raise or (never) decode to the original — count silent successes
    silent = 0
    for pos in range(42, len(base)):
        buf = bytearray(base)
        buf[pos] ^= 0x10
        try:
            parse_flac(bytes(buf))
            silent += 1
        except ValueError:
            pass
    assert silent == 0, f"{silent} corrupted payloads decoded without error"


def test_flac_decoder_extras_escape_partitions_wasted_bits():
    """Decoder completeness beyond what the fixture encoder emits:
    escape (verbatim-residual) partitions, partition order > 0, wasted
    bits, and 8-bit explicit blocksize — hand-assembled frames."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        _flac_crc8,
        _flac_crc16,
        _FlacBitWriter,
        parse_flac,
    )

    def stream(frames_samples, encode_subframe):
        frames = sum(len(s) for s in frames_samples)
        out = bytearray(b"fLaC")
        out += bytes([0x80, 0, 0, 34])
        si = _FlacBitWriter()
        si.write(len(frames_samples[0]), 16)
        si.write(len(frames_samples[0]), 16)
        si.write(0, 24)
        si.write(0, 24)
        si.write(16000, 20)
        si.write(0, 3)  # mono
        si.write(15, 5)
        si.write(frames, 36)
        out += si.getvalue_aligned_zero()
        out += bytes(16)
        for fi, blk in enumerate(frames_samples):
            hw = _FlacBitWriter()
            hw.write(0b11111111111110, 14)
            hw.write(0, 2)
            hw.write(0b0110, 4)  # 8-bit blocksize follows
            hw.write(0b0000, 4)
            hw.write(0, 4)
            hw.write(0b100, 3)
            hw.write(0, 1)
            header = bytearray(hw.getvalue_aligned_zero())
            header += bytes([fi])
            header += bytes([len(blk) - 1])
            header.append(_flac_crc8(bytes(header)))
            fw = _FlacBitWriter()
            encode_subframe(fw, blk)
            frame = bytes(header) + fw.getvalue_aligned_zero()
            out += frame
            out += _flac_crc16(frame).to_bytes(2, "big")
        return bytes(out)

    # escape partitions at partition order 1, FIXED order 1
    blk = [100, 107, 93, 200, 150, 40, 7, -8]  # blocksize 8, 2 partitions

    def sub_escape(fw, blk):
        fw.write(0, 1)
        fw.write(0b001001, 6)  # FIXED order 1
        fw.write(0, 1)
        fw.write(blk[0], 16)
        resid = [blk[i] - blk[i - 1] for i in range(1, len(blk))]
        fw.write(0, 2)  # method 00 (4-bit params)
        fw.write(1, 4)  # partition order 1 -> 2 partitions
        # partition 1: 8/2 - order = 3 residuals, ESCAPE raw 9 bits
        fw.write(0b1111, 4)
        fw.write(9, 5)
        for r in resid[:3]:
            fw.write(r, 9)
        # partition 2: 4 residuals, rice k=4
        fw.write(4, 4)
        for r in resid[3:]:
            u = (r << 1) if r >= 0 else ((-r) << 1) - 1
            fw.write_unary(u >> 4)
            fw.write(u & 15, 4)

    rate, ch, out = parse_flac(stream([blk], sub_escape))
    assert list(out) == blk

    # wasted bits: samples all multiples of 4 -> 2 wasted bits, CONSTANT
    blk2 = [-1024] * 6

    def sub_wasted(fw, blk):
        fw.write(0, 1)
        fw.write(0b000000, 6)
        fw.write(1, 1)  # wasted-bits flag
        fw.write_unary(1)  # unary 1 -> wasted = 2
        fw.write(blk[0] >> 2, 14)  # effective bps = 16 - 2

    rate, ch, out = parse_flac(stream([blk2], sub_wasted))
    assert list(out) == blk2


def test_flac_unsupported_shapes_quarantine():
    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_flac,
        parse_flac,
        parse_audio,
    )

    with pytest.raises(ValueError, match="not a FLAC"):
        parse_flac(b"fLaX" + bytes(60))
    # non-code depths quarantine (32-bit became a SUPPORTED tier in r14;
    # the spec's remaining 3-bit code points are genuinely reserved)
    with pytest.raises(ValueError, match="unsupported bit depth"):
        encode_flac(16000, 1, np.zeros(8, dtype=np.int64), bits=17)
    base31 = bytearray(encode_flac(16000, 1, np.zeros(8, dtype=np.int64)))
    # STREAMINFO bps-1 straddles bytes 20-21 of the block (bit offset
    # 103): rewrite the 5-bit field from 15 (16-bit) to 30 (31-bit —
    # no frame code exists for it)
    base31[8 + 12] |= 0x01
    base31[8 + 13] = (base31[8 + 13] & 0x0F) | 0xE0
    with pytest.raises(ValueError, match="unsupported bit depth"):
        parse_flac(bytes(base31))
    # a fixed frame depth code that CONTRADICTS STREAMINFO quarantines
    basem = bytearray(encode_flac(16000, 1, np.zeros(8, dtype=np.int64)))
    fo = 42  # first frame after 4 magic + 4 header + 34 streaminfo
    # header byte 3 = cccc sssr: flip sample-size bits 0b100 -> 0b001
    basem[fo + 3] = (basem[fo + 3] & 0xF1) | (0b001 << 1)
    with pytest.raises(ValueError, match="sample size|CRC"):
        parse_flac(bytes(basem))
    # stereo decorrelation channel codes (left/side = 0b1000) quarantine
    base = bytearray(encode_flac(16000, 2, np.zeros(16, dtype=np.int64)))
    # frame starts right after 4 magic + 4 header + 34 streaminfo
    fo = 42
    # channel bits live in header byte 3 bits 4-7 (after 16-bit sync+res,
    # bs/sr nibbles byte 2): byte fo+3 = cccc sss r
    base[fo + 3] = (0b1000 << 4) | (base[fo + 3] & 0x0F)
    with pytest.raises(ValueError, match="decorrelation|CRC"):
        parse_flac(bytes(base))
    # dispatch: RIFF still routes to parse_wav
    with pytest.raises(ValueError, match="RIFF"):
        parse_audio(b"RIFX" + bytes(20))


def test_flac_spark_features_match_direct_decode(spark):
    """End-to-end through the Arrow path on a small doc set: the decoded
    features must equal a driver-side decode of the same payloads."""
    import math

    import numpy as np

    from etl_drone_sense_spark.operators import multimodal

    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    media = multimodal.synth_flac_media(docs)
    feats = {
        r["media_id"]: r
        for r in multimodal.decode_audio_features(media).collect()
    }
    payloads = {r["media_id"]: r["payload"] for r in media.collect()}
    assert len(feats) == 12
    for mid, row in feats.items():
        rate, ch, samples = multimodal.parse_flac(payloads[mid])
        assert row["decode_ok"]
        a = np.abs(samples.astype(np.int64))
        frames = samples.size // ch
        assert row["sample_rate"] == rate == 16000
        assert row["channels"] == ch
        assert row["n_frames"] == frames
        assert row["peak"] == int(a.max())
        assert row["mean_abs"] == (
            math.floor(int(a.sum()) * 1.0 / samples.size * 1e6 + 0.5) / 1e6
        )


def test_tiff_planar_roundtrip_and_quarantines():
    """r13: PlanarConfiguration=2 — plane-major strip tables, per-plane
    predictor differencing; bit-exact roundtrip across compressions and
    byte orders; planar gray stays quarantined; r13 late: planar TILED
    roundtrips too (3x tiles plane-major, edge-padded)."""
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_tiff,
        parse_tiff,
    )

    w, h = 7, 5
    raster = bytes((11 * i + 3) % 256 for i in range(w * h * 3))
    for comp in ("none", "packbits", "lzw", "deflate"):
        for pred in (1, 2):
            payload = encode_tiff(
                w, h, raster, compression=comp, big_endian=(pred == 2),
                rows_per_strip=2, predictor=pred, planar=True,
            )
            assert parse_tiff(payload) == (w, h, raster), (comp, pred)
    with pytest.raises(ValueError, match="planar needs RGB"):
        encode_tiff(w, h, bytes(w * h), gray=True, planar=True)
    # r13 late: planar TILED — multi-tile grid with clipped edges
    for tw, thh in ((16, 16), (16, 32)):
        for ww, hh in ((20, 18), (16, 16), (33, 40)):
            big = bytes((13 * i + 5) % 256 for i in range(ww * hh * 3))
            for comp in ("none", "lzw"):
                payload = encode_tiff(
                    ww, hh, big, compression=comp, predictor=2,
                    tile=(tw, thh), planar=True, big_endian=True,
                )
                assert parse_tiff(payload) == (ww, hh, big), (tw, thh, ww, hh)
    # a planar payload whose strip table is truncated to the chunky
    # count must quarantine, not mis-assemble
    good = bytearray(
        encode_tiff(w, h, raster, rows_per_strip=2, planar=True)
    )
    # flip tag 284 back to 1: the 9-strip table no longer matches the
    # 3-strip chunky expectation
    i = good.find(b"\x1c\x01\x03\x00\x01\x00\x00\x00\x02\x00")
    assert i != -1
    good[i + 8] = 1
    with pytest.raises(ValueError, match="strip count"):
        parse_tiff(bytes(good))
    # the same table-mismatch hardening for the tiled grid
    goodt = bytearray(
        encode_tiff(20, 18, bytes((i * 3) % 256 for i in range(20 * 18 * 3)),
                    tile=(16, 16), planar=True)
    )
    i = goodt.find(b"\x1c\x01\x03\x00\x01\x00\x00\x00\x02\x00")
    assert i != -1
    goodt[i + 8] = 1
    with pytest.raises(ValueError, match="tile count"):
        parse_tiff(bytes(goodt))


def test_tiff_jpeg_in_tiff_roundtrip_and_quarantines():
    """r13 late: compression 7 — every strip a complete grayscale
    baseline-JPEG stream; constant 8x8 blocks decode bit-exactly, so
    the whole TIFF roundtrips exactly; color/tiled/planar JPEG and
    geometry mismatches quarantine."""
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_tiff,
        parse_tiff,
    )

    for did in (0, 1, 2, 3, 4, 5):
        wb, hb = 1 + did % 2, 1 + did % 3
        w, h = 8 * wb, 8 * hb
        img = np.empty((h, w), dtype=np.uint8)
        for bi in range(wb * hb):
            by, bx = divmod(bi, wb)
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                128 + 2 * ((did * 27 + bi * 17) % 81 - 40)
            )
        payload = encode_tiff(
            w, h, img.tobytes(), gray=True, compression="jpeg",
            rows_per_strip=8,
        )
        w2, h2, rgb = parse_tiff(payload)
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        assert (w2, h2) == (w, h)
        assert np.array_equal(got[:, :, 0], img)
        assert np.array_equal(got[:, :, 1], img)
    # encoder refuses non-grayscale / tiled / planar / predictor JPEG
    with pytest.raises(ValueError, match="grayscale strip tier"):
        encode_tiff(8, 8, bytes(8 * 8 * 3), compression="jpeg")
    with pytest.raises(ValueError, match="grayscale strip tier"):
        encode_tiff(16, 16, bytes(16 * 16), gray=True, compression="jpeg",
                    tile=(16, 16))
    with pytest.raises(ValueError, match="grayscale strip tier"):
        encode_tiff(8, 8, bytes(8 * 8), gray=True, compression="jpeg",
                    predictor=2)
    # decoder: compression 7 with photometric 2 (color) quarantines —
    # flip the photometric tag on a good payload
    good = bytearray(
        encode_tiff(8, 8, bytes(range(64)), gray=True, compression="jpeg")
    )
    i = good.find(b"\x06\x01\x03\x00\x01\x00\x00\x00\x01\x00")
    assert i != -1
    good[i + 8] = 2
    with pytest.raises(ValueError):
        parse_tiff(bytes(good))
    # a JPEG strip whose decoded geometry disagrees with the IFD
    # quarantines: shrink the declared width
    bad = bytearray(
        encode_tiff(16, 8, bytes(range(128)), gray=True, compression="jpeg")
    )
    i = bad.find(b"\x00\x01\x03\x00\x01\x00\x00\x00\x10\x00")
    assert i != -1
    struct.pack_into("<H", bad, i + 8, 8)
    with pytest.raises(ValueError):
        parse_tiff(bytes(bad))


# --- progressive JPEG (r13) ---------------------------------------------------


def test_jpeg_progressive_equals_baseline_decode():
    """The identity that certifies AC coding on ARBITRARY content: the
    progressive encoder emits the identical quantized coefficients as
    the baseline encoder, so the two decodes must agree bit for bit —
    grayscale and color, 4:4:4 and 4:2:0, non-multiple-of-8 dims."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_progressive,
        parse_jpeg,
    )

    rng = np.random.default_rng(17)
    cases = [
        (1, "4:4:4", 8, 8), (1, "4:4:4", 37, 23), (3, "4:4:4", 16, 16),
        (3, "4:2:0", 33, 18), (3, "4:2:0", 9, 40), (1, "4:4:4", 5, 5),
    ]
    for ncomp, sub, w, h in cases:
        img = rng.integers(0, 256, w * h * ncomp, dtype=np.uint8).tobytes()
        base = parse_jpeg(encode_jpeg(w, h, img, ncomp=ncomp, subsampling=sub))
        prog = parse_jpeg(
            encode_jpeg_progressive(w, h, img, ncomp=ncomp, subsampling=sub)
        )
        assert base == prog, (ncomp, sub, w, h)


def test_jpeg_progressive_partial_stream_quarantines_cleanly():
    """A progressive stream truncated mid-scan must raise, not emit a
    half-refined raster."""
    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg_progressive,
        parse_jpeg,
    )

    img = (np.arange(24 * 16, dtype=np.uint8) % 251).tobytes()
    payload = encode_jpeg_progressive(24, 16, img, ncomp=1)
    with pytest.raises(ValueError):
        parse_jpeg(payload[: len(payload) * 2 // 3])


def test_jpeg_still_quarantines_arithmetic_and_extended():
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    base = bytearray(encode_jpeg(8, 8, bytes(64), ncomp=1))
    i = base.find(b"\xff\xc0")
    assert i != -1
    for marker, match in (
        # SOF9/SOF10 decode for real since r13 late; the lossless
        # arithmetic process is the remaining entropy quarantine
        (0xCB, "arithmetic"),
        (0xC5, "extended|hierarchical"),
        (0xC7, "extended|hierarchical"),
        # SOF3 now routes to the real lossless scanner, which rejects
        # this baseline-shaped stream at its Ss=0 predictor selector
        (0xC3, "predictor selection"),
    ):
        bad = bytearray(base)
        bad[i + 1] = marker
        with pytest.raises(ValueError, match=match):
            parse_jpeg(bytes(bad))


def test_jpeg_lossless_roundtrip_all_predictors():
    """r13 late: SOF3 — bit-exact roundtrip on arbitrary content for
    every spec predictor, gray and 3-component, odd dimensions."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg_lossless,
        parse_image,
        parse_jpeg,
    )

    for did in range(21):
        w, h = 5 + did % 6, 4 + did % 5
        sel = 1 + did % 7
        img = bytes((did * 83 + p * 67) % 256 for p in range(w * h))
        w2, h2, rgb = parse_jpeg(
            encode_jpeg_lossless(w, h, img, predictor=sel)
        )
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        exp = np.frombuffer(img, dtype=np.uint8).reshape(h, w)
        assert (w2, h2) == (w, h)
        assert np.array_equal(got[:, :, 0], exp), (did, sel)
        assert np.array_equal(got[:, :, 2], exp), (did, sel)
    for sel in range(1, 8):
        w, h = 9, 7
        img = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
        assert parse_image(
            encode_jpeg_lossless(w, h, img, ncomp=3, predictor=sel)
        ) == (w, h, img), sel


def test_jpeg_12bit_extended_sequential():
    """r13 late: SOF1 12-bit DCT — constant blocks at even-32 offsets
    from 2048 decode exactly; the feature raster reads the top 8 bits.
    SOF0/SOF2 at 12-bit stay quarantined (extended process only)."""
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    for did in (0, 1, 2, 3, 4, 5):
        wb, hb = 1 + did % 2, 1 + did % 3
        w, h = 8 * wb, 8 * hb
        img = np.empty((h, w), dtype=np.int64)
        exp = np.empty((h, w), dtype=np.int64)
        for bi in range(wb * hb):
            by, bx = divmod(bi, wb)
            m = (did * 7 + bi * 13) % 81 - 40
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 2048 + 32 * m
            exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (2048 + 32 * m) >> 4
        buf = encode_jpeg(
            w, h, img.astype("<u2").tobytes(), ncomp=1, precision=12
        )
        w2, h2, rgb = parse_jpeg(buf)
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        assert (w2, h2) == (w, h)
        assert np.array_equal(got[:, :, 0].astype(np.int64), exp), did
    # flipping the SOF1 marker to SOF0/SOF2 must quarantine at 12-bit
    good = bytearray(
        encode_jpeg(8, 8, np.full(64, 2048, dtype="<u2").tobytes(),
                    ncomp=1, precision=12)
    )
    i = good.find(b"\xff\xc1")
    assert i != -1
    for marker in (0xC0, 0xC2):
        bad = bytearray(good)
        bad[i + 1] = marker
        with pytest.raises(ValueError, match="precision"):
            parse_jpeg(bytes(bad))
    # encoder guards: color 12-bit and out-of-range samples refused
    with pytest.raises(ValueError, match="grayscale"):
        encode_jpeg(8, 8, bytes(8 * 8 * 3 * 2), ncomp=3, precision=12)
    with pytest.raises(ValueError, match="12-bit range"):
        encode_jpeg(
            8, 8, np.full(64, 4096, dtype=np.int64), ncomp=1, precision=12
        )


def _jpegref_binary():
    """Build the libjpeg reference shim on demand; None if the
    toolchain is absent (the cross tests skip, the roundtrip tests
    still run)."""
    import shutil
    import subprocess
    import tempfile
    import os

    if shutil.which("gcc") is None or not os.path.exists(
        "/usr/include/jpeglib.h"
    ):
        return None
    out = os.path.join(tempfile.gettempdir(), "jpegref_test_bin")
    src = os.path.join(os.path.dirname(__file__), "..", "tools", "jpegref.c")
    if not os.path.exists(out) or os.path.getmtime(out) < os.path.getmtime(
        src
    ):
        r = subprocess.run(
            ["gcc", "-O2", "-o", out, src, "-ljpeg"], capture_output=True
        )
        if r.returncode != 0:
            return None
    return out


def test_jpeg_arithmetic_roundtrip_constant_blocks():
    """r13 late: SOF9 — the QM coder + Annex F statistics trees;
    constant blocks decode bit-exactly through the full pipeline."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg_arithmetic,
        parse_image,
    )

    for did in range(12):
        wb, hb = 1 + did % 2, 1 + did % 3
        w, h = 8 * wb, 8 * hb
        img = np.empty((h, w), dtype=np.uint8)
        for bi in range(wb * hb):
            by, bx = divmod(bi, wb)
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                128 + 2 * ((did * 23 + bi * 29) % 81 - 40)
            )
        w2, h2, rgb = parse_image(encode_jpeg_arithmetic(w, h, img.tobytes()))
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        assert (w2, h2) == (w, h)
        assert np.array_equal(got[:, :, 0], img), did
        assert np.array_equal(got[:, :, 2], img), did


def test_jpeg_arithmetic_tolerance_on_arbitrary_content():
    """Arbitrary content is lossy (DCT), but my arithmetic encode →
    my decode must agree within the quantization error envelope, and
    the QM entropy layer itself is EXACT (coefficients in == out) —
    checked by encoding twice and comparing streams for determinism."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_arithmetic,
        parse_jpeg,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    pay = encode_jpeg_arithmetic(40, 24, img.tobytes())
    assert pay == encode_jpeg_arithmetic(40, 24, img.tobytes())
    w, h, rgb = parse_jpeg(pay)
    got = np.frombuffer(rgb, dtype=np.uint8).reshape(24, 40, 3)[:, :, 0]
    # the arithmetic stream carries the SAME quantized coefficients as
    # the huffman stream, so the decodes must be IDENTICAL pixels
    wb, hb, rgb_h = parse_jpeg(encode_jpeg(40, 24, img.tobytes(), ncomp=1))
    href = np.frombuffer(rgb_h, dtype=np.uint8).reshape(24, 40, 3)[:, :, 0]
    assert np.array_equal(got, href)


def test_jpeg_arithmetic_quarantines():
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg_arithmetic,
        parse_jpeg,
    )

    img = np.full((8, 8), 128, dtype=np.uint8)
    good = bytearray(encode_jpeg_arithmetic(8, 8, img.tobytes()))
    i = good.find(b"\xff\xc9")
    assert i != -1
    # lossless/differential arithmetic processes stay quarantined
    # (SOF10 progressive-arithmetic decodes for real since r13 late)
    for marker in (0xCB, 0xCE, 0xCF):
        bad = bytearray(good)
        bad[i + 1] = marker
        with pytest.raises(ValueError, match="arithmetic"):
            parse_jpeg(bytes(bad))
    # 12-bit sequential arithmetic quarantines
    deep = bytearray(good)
    deep[i + 4] = 12
    with pytest.raises(ValueError, match="precision"):
        parse_jpeg(bytes(deep))
    # restart-interval arithmetic streams quarantine (DRI before SOS)
    dri = bytes(good[:i]) + b"\xff\xdd\x00\x04\x00\x04" + bytes(good[i:])
    with pytest.raises(ValueError, match="restart"):
        parse_jpeg(dri)


def test_jpeg_arithmetic_cross_pinned_against_libjpeg():
    """THE interop pin (the GIF width-sync lesson for the QM coder):
    my encoder must be BYTE-IDENTICAL to the system libjpeg on the
    same quantized coefficients, and my parse_jpeg must reproduce
    libjpeg's entropy decode exactly. Skips when gcc/jpeglib are
    absent."""
    import subprocess

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators import multimodal as MM

    shim = _jpegref_binary()
    if shim is None:
        pytest.skip("gcc/jpeglib not available for the cross pin")

    # encoder: byte parity on random coefficient blocks
    rng = np.random.RandomState(123)
    for _ in range(25):
        nb = int(rng.randint(1, 5))
        blocks = np.zeros((nb, 64), dtype=np.int64)
        for bi in range(nb):
            blocks[bi, 0] = rng.randint(-200, 200)
            for _k in range(rng.randint(0, 20)):
                blocks[bi, int(rng.randint(1, 64))] = rng.randint(-120, 120)
        jpg = subprocess.run(
            [shim, "encodec", str(nb), "1"],
            input=blocks.astype("<i2").tobytes(),
            capture_output=True, check=True,
        ).stdout
        i = 2
        while True:
            m = jpg[i + 1]
            ln = int.from_bytes(jpg[i + 2 : i + 4], "big")
            if m == 0xDA:
                ref_ent = jpg[i + 2 + ln : -2]
                break
            i += 2 + ln
        enc = MM._QMEncoder()
        dc_stats = bytearray(64)
        ac_stats = bytearray(256)
        fixed = bytearray([113])
        ctx, last = 0, 0
        for bi in range(nb):
            zz = blocks[bi][MM._ZIGZAG].tolist()
            ctx, last = MM._qm_encode_block(
                enc, zz, dc_stats, ac_stats, fixed, ctx, last
            )
        assert enc.flush() == ref_ent

    # decoder: pixel parity with libjpeg's own entropy decode (exact
    # integer coefficients; my float IDCT applied to both sides)
    for seed in range(8):
        rng = np.random.RandomState(seed)
        w = int(rng.randint(8, 48))
        h = int(rng.randint(8, 48))
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        jpg = subprocess.run(
            [shim, "encode", str(w), str(h)],
            input=img.tobytes(), capture_output=True, check=True,
        ).stdout
        out = subprocess.run(
            [shim, "coefs"], input=jpg, capture_output=True, check=True
        ).stdout.decode()
        lines = out.splitlines()
        hdr = lines[0].split()
        bw, bh = int(hdr[3]), int(hdr[5])
        blocks = np.array(
            [[int(x) for x in l.split()] for l in lines[1 : 1 + bw * bh]],
            dtype=np.int64,
        )
        i = 2
        qt = None
        while i + 4 <= len(jpg):
            m = jpg[i + 1]
            ln = int.from_bytes(jpg[i + 2 : i + 4], "big")
            body = jpg[i + 4 : i + 2 + ln]
            if m == 0xDB:
                qt = np.frombuffer(body[1:65], dtype=np.uint8).astype(
                    np.int64
                )
            if m == 0xDA:
                break
            i += 2 + ln
        qnat = qt[MM._UNZIGZAG]
        deq = (blocks.astype(np.float64) * qnat[None, :]).reshape(-1, 8, 8)
        spatial = (
            np.einsum("ij,njk,kl->nil", MM._DCT_C.T, deq, MM._DCT_C) + 128.0
        )
        p = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        ref = np.clip(np.round(p[:h, :w]), 0, 255).astype(np.uint8)
        w2, h2, rgb = MM.parse_jpeg(jpg)
        mine = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)[:, :, 0]
        assert (w2, h2) == (w, h)
        assert np.array_equal(mine, ref), seed


def test_jpeg_arith_progressive_roundtrip_and_quarantines():
    """r13 late: SOF10 — the Annex G scan kinds under the QM coder;
    constant blocks decode bit-exactly through the six-scan
    progression; SOF11 (lossless arithmetic) stays quarantined."""
    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg_arithmetic_progressive,
        parse_image,
        parse_jpeg,
    )

    for did in range(12):
        wb, hb = 1 + did % 2, 1 + did % 3
        w, h = 8 * wb, 8 * hb
        img = np.empty((h, w), dtype=np.uint8)
        for bi in range(wb * hb):
            by, bx = divmod(bi, wb)
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                128 + 2 * ((did * 31 + bi * 37) % 81 - 40)
            )
        w2, h2, rgb = parse_image(
            encode_jpeg_arithmetic_progressive(w, h, img.tobytes())
        )
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        assert (w2, h2) == (w, h)
        assert np.array_equal(got[:, :, 0], img), did
    # and the SOF10 decode equals the SEQUENTIAL arithmetic decode of
    # the same content (same quantized coefficients, different scan
    # discipline) on arbitrary content
    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg_arithmetic,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    _, _, seq = parse_jpeg(encode_jpeg_arithmetic(40, 24, img.tobytes()))
    _, _, prog = parse_jpeg(
        encode_jpeg_arithmetic_progressive(40, 24, img.tobytes())
    )
    assert seq == prog
    # SOF11 quarantine
    good = bytearray(encode_jpeg_arithmetic_progressive(8, 8, bytes(64)))
    i = good.find(b"\xff\xca")
    assert i != -1
    bad = bytearray(good)
    bad[i + 1] = 0xCB
    with pytest.raises(ValueError, match="arithmetic"):
        parse_jpeg(bytes(bad))


def test_jpeg_arith_progressive_cross_pinned_against_libjpeg():
    """Every Annex G scan kind byte-for-byte against libjpeg's
    progressive-arithmetic encoder, and parse_jpeg's SOF10 path
    coefficient-exact on libjpeg files. Skips without gcc/jpeglib."""
    import subprocess

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators import multimodal as MM

    shim = _jpegref_binary()
    if shim is None:
        pytest.skip("gcc/jpeglib not available for the cross pin")

    def entropy_segments(jpg):
        segs = []
        i = 2
        while i + 4 <= len(jpg):
            if jpg[i] != 0xFF:
                break
            m = jpg[i + 1]
            if m == 0xD9:
                break
            ln = int.from_bytes(jpg[i + 2 : i + 4], "big")
            if m == 0xDA:
                j = i + 2 + ln
                k = j
                while k + 1 < len(jpg) and not (
                    jpg[k] == 0xFF and jpg[k + 1] not in (0, 0xFF)
                ):
                    k += 1
                segs.append(jpg[j:k])
                i = k
            else:
                i += 2 + ln
        return segs

    rng = np.random.RandomState(3)
    for _trial in range(8):
        nb = int(rng.randint(1, 5))
        blocks = np.zeros((nb, 64), dtype=np.int64)
        for bi in range(nb):
            blocks[bi, 0] = rng.randint(-200, 200)
            for _k in range(rng.randint(0, 16)):
                blocks[bi, int(rng.randint(1, 64))] = rng.randint(-100, 100)
        jpg = subprocess.run(
            [shim, "encodecp", str(nb), "1"],
            input=blocks.astype("<i2").tobytes(),
            capture_output=True, check=True,
        ).stdout
        ref_segs = entropy_segments(jpg)
        assert len(ref_segs) == 6
        zzs = [blocks[bi][MM._ZIGZAG].tolist() for bi in range(nb)]

        def dc_first(al):
            enc = MM._QMEncoder()
            st = bytearray(64)
            ctx = last = 0
            for zz in zzs:
                ctx, last = MM._qm_enc_dc(
                    enc, st, ctx, last, int(zz[0]) >> al
                )
            return enc.flush()

        def dc_refine(al):
            enc = MM._QMEncoder()
            fixed = bytearray([113])
            for zz in zzs:
                enc.encode(fixed, 0, (int(zz[0]) >> al) & 1)
            return enc.flush()

        def ac_first(ss, se, al):
            enc = MM._QMEncoder()
            sta = bytearray(256)
            fixed = bytearray([113])
            for zz in zzs:
                band = list(zz)
                for k in range(ss, se + 1):
                    v = int(zz[k])
                    band[k] = -((-v) >> al) if v < 0 else v >> al
                MM._qm_enc_ac_band(enc, sta, fixed, band, ss, se)
            return enc.flush()

        def ac_refine(ss, se, ah, al):
            enc = MM._QMEncoder()
            sta = bytearray(256)
            fixed = bytearray([113])
            for zz in zzs:
                mal = [0] * 64
                mah = [0] * 64
                for k in range(ss, se + 1):
                    a = abs(int(zz[k]))
                    mal[k] = a >> al
                    mah[k] = a >> ah
                ke = se
                while ke >= ss and mal[ke] == 0:
                    ke -= 1
                kex = se
                while kex >= ss and mah[kex] == 0:
                    kex -= 1
                k = ss
                while k <= ke:
                    base = 3 * (k - 1)
                    if k > kex:
                        enc.encode(sta, base, 0)
                    while True:
                        t = mal[k]
                        if t:
                            if t >> 1:
                                enc.encode(sta, base + 2, t & 1)
                            else:
                                enc.encode(sta, base + 1, 1)
                                enc.encode(
                                    fixed, 0, 1 if int(zz[k]) < 0 else 0
                                )
                            break
                        enc.encode(sta, base + 1, 0)
                        base += 3
                        k += 1
                    k += 1
                if k <= se:
                    enc.encode(sta, 3 * (k - 1), 1)
            return enc.flush()

        mine = [
            dc_first(1),
            ac_first(1, 5, 2),
            ac_first(6, 63, 2),
            ac_refine(1, 63, 2, 1),
            dc_refine(0),
            ac_refine(1, 63, 1, 0),
        ]
        assert mine == ref_segs

        # decoder: my SOF10 decode of libjpeg's file == my IDCT of the
        # shim's exact coefficient dump
        out = subprocess.run(
            [shim, "coefs"], input=jpg, capture_output=True, check=True
        ).stdout.decode()
        lines = out.splitlines()
        hdr = lines[0].split()
        bw, bh = int(hdr[3]), int(hdr[5])
        ref_blocks = np.array(
            [[int(x) for x in l.split()] for l in lines[1 : 1 + bw * bh]],
            dtype=np.int64,
        )
        i = 2
        qt = None
        W = H = None
        while i + 4 <= len(jpg):
            m = jpg[i + 1]
            ln = int.from_bytes(jpg[i + 2 : i + 4], "big")
            body = jpg[i + 4 : i + 2 + ln]
            if m == 0xDB:
                qt = np.frombuffer(body[1:65], dtype=np.uint8).astype(
                    np.int64
                )
            if m == 0xCA:
                H = int.from_bytes(body[1:3], "big")
                W = int.from_bytes(body[3:5], "big")
            if m == 0xDA:
                break
            i += 2 + ln
        qnat = qt[MM._UNZIGZAG]
        deq = (ref_blocks.astype(np.float64) * qnat[None, :]).reshape(
            -1, 8, 8
        )
        spatial = (
            np.einsum("ij,njk,kl->nil", MM._DCT_C.T, deq, MM._DCT_C) + 128.0
        )
        p = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        ref_px = np.clip(np.round(p[:H, :W]), 0, 255).astype(np.uint8)
        w2, h2, rgb = MM.parse_jpeg(jpg)
        mine_px = np.frombuffer(rgb, dtype=np.uint8).reshape(H, W, 3)[:, :, 0]
        assert (w2, h2) == (W, H)
        assert np.array_equal(mine_px, ref_px)


def test_jpeg_lossless_high_precision_roundtrip():
    """r13 late: 2-16 bit precision — FULL-precision planes roundtrip
    bit-exactly (decode_jpeg_lossless_planes); the 8-bit raster
    contract reads the top 8 bits. 16-bit exercises the spec's
    extra-bits-free ssss=16 difference."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        decode_jpeg_lossless_planes,
        encode_jpeg_lossless,
        parse_jpeg,
    )

    for prec in (2, 4, 8, 12, 16):
        for sel in (1, 4, 7):
            w, h = 9, 7
            lim = 1 << prec
            img = (np.arange(w * h, dtype=np.int64) * 2311 + 17) % lim
            data = (
                img.astype(np.uint8).tobytes()
                if prec <= 8
                else img.astype("<u2").tobytes()
            )
            buf = encode_jpeg_lossless(
                w, h, data, precision=prec, predictor=sel
            )
            w2, h2, p2, planes = decode_jpeg_lossless_planes(buf)
            assert (w2, h2, p2) == (w, h, prec)
            assert np.array_equal(planes[0].ravel(), img), (prec, sel)
            _, _, rgb = parse_jpeg(buf)
            got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
            assert np.array_equal(
                got[:, :, 0].ravel(),
                (img >> max(0, prec - 8)).astype(np.uint8),
            ), (prec, sel)
    # a 16-bit stream hitting the modulo-32768 difference exactly:
    # sample 0 = 0 predicts 32768-default, diff = -32768 -> ssss 16
    img16 = np.zeros(4, dtype=np.int64)
    buf = encode_jpeg_lossless(
        2, 2, img16.astype("<u2").tobytes(), precision=16
    )
    _, _, p2, planes = decode_jpeg_lossless_planes(buf)
    assert p2 == 16 and planes[0].sum() == 0


def test_jpeg_lossless_quarantines():
    """12-bit precision, subsampling, point transform, restart
    intervals, truncation, and out-of-range reconstruction all raise."""
    import struct

    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg_lossless,
        parse_jpeg,
    )

    img = bytes((p * 7) % 256 for p in range(9 * 7))
    good = bytearray(encode_jpeg_lossless(9, 7, img, predictor=4))
    i = good.find(b"\xff\xc3")
    assert i != -1
    deep = bytearray(good)
    deep[i + 4] = 17  # precision byte beyond the 2-16 spec range
    with pytest.raises(ValueError, match="precision"):
        parse_jpeg(bytes(deep))
    deep[i + 4] = 1
    with pytest.raises(ValueError, match="precision"):
        parse_jpeg(bytes(deep))
    sub = bytearray(good)
    sub[i + 11] = 0x21  # first component 2x1 sampling
    with pytest.raises(ValueError, match="subsampled"):
        parse_jpeg(bytes(sub))
    j = good.find(b"\xff\xda")
    assert j != -1
    # SOS tail = Ss, Se, AhAl: force a point transform
    pt = bytearray(good)
    pt[j + 9] = 0x02  # AhAl byte: Al=2
    with pytest.raises(ValueError, match="point transform"):
        parse_jpeg(bytes(pt))
    badsel = bytearray(good)
    badsel[j + 7] = 0  # Ss=0
    with pytest.raises(ValueError, match="predictor selection"):
        parse_jpeg(bytes(badsel))
    # DRI with a nonzero interval quarantines (unsupported in the tier)
    dri = bytes(good[: i]) + b"\xff\xdd\x00\x04\x00\x08" + bytes(good[i:])
    with pytest.raises(ValueError, match="restart"):
        parse_jpeg(dri)
    with pytest.raises(ValueError):
        parse_jpeg(bytes(good[: len(good) - 8]))
    with pytest.raises(ValueError):
        encode_jpeg_lossless(4, 4, bytes(16), predictor=0)
    with pytest.raises(ValueError):
        encode_jpeg_lossless(4, 4, bytes(15))


def test_bmp_rle8_roundtrip_and_escapes():
    """r13: BI_RLE8 — runs, absolute mode with word padding, EOL/EOB,
    and (decode-only) delta moves that leave skipped pixels at palette
    entry 0; RLE on top-down images quarantines per spec."""
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_bmp,
        parse_bmp,
    )

    rng = np.random.default_rng(23)
    pal = bytes((b * 5 + 1) % 256 for b in range(64 * 3))
    for t in range(12):
        w = int(rng.integers(1, 25))
        h = int(rng.integers(1, 12))
        idx = bytes(
            int(rng.integers(0, 4 if t % 2 else 64)) for _ in range(w * h)
        )
        plain = parse_bmp(encode_bmp(w, h, idx, palette=pal))
        rle = parse_bmp(encode_bmp(w, h, idx, palette=pal, rle8=True))
        assert plain == rle, (t, w, h)
    with pytest.raises(ValueError, match="bottom-up"):
        encode_bmp(4, 2, bytes(8), palette=pal, top_down=True, rle8=True)
    # hand-assembled delta: run 2@v1, delta(+1,+1), run 1@v2, EOB over 4x2
    base = bytearray(encode_bmp(4, 2, bytes(8), palette=pal, rle8=True))
    off = struct.unpack_from("<I", base, 10)[0]
    rle_data = bytes([2, 1, 0, 2, 1, 1, 1, 2, 0, 1])
    out = bytearray(base[:off] + rle_data)
    struct.pack_into("<I", out, 2, off + len(rle_data))
    struct.pack_into("<I", out, 34, len(rle_data))
    w, h, rgb = parse_bmp(bytes(out))
    arr = np.frombuffer(rgb, np.uint8).reshape(2, 4, 3)
    palv = np.frombuffer(pal, np.uint8).reshape(-1, 3)
    # bottom-up: bottom row [1,1,0,0]; delta skips to (3,1): top row [0,0,0,2]
    assert [list(v) for v in arr[1]] == [list(palv[i]) for i in (1, 1, 0, 0)]
    assert [list(v) for v in arr[0]] == [list(palv[i]) for i in (0, 0, 0, 2)]
    # a run escaping the raster quarantines
    bad = bytearray(out)
    bad[off] = 9  # run of 9 on a width-4 row
    with pytest.raises(ValueError, match="escapes the raster"):
        parse_bmp(bytes(bad))


def test_jpeg_adversarial_dimensions_quarantine_fast():
    """r13 late (the GIF-fuzz lesson for JPEG): a 65535x65535 SOF claim
    must raise IMMEDIATELY — the coefficient buffers it would size are
    ~34 TB, and the old path died as an OOM task kill instead of the
    ValueError quarantine. Applies to every SOF the decoder accepts."""
    import struct
    import time

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    base = bytearray(encode_jpeg(8, 8, np.zeros(64, dtype=np.uint8), ncomp=1))
    i = base.find(b"\xff\xc0")
    assert i != -1
    for marker in (0xC0, 0xC9):
        bad = bytearray(base)
        bad[i + 1] = marker
        struct.pack_into(">HH", bad, i + 5, 0xFFFF, 0xFFFF)  # h, w
        t0 = time.perf_counter()
        with pytest.raises(ValueError, match="unreasonable"):
            parse_jpeg(bytes(bad))
        assert time.perf_counter() - t0 < 1.0  # fail fast, no allocation


def test_png_inflate_bomb_and_dimensions_quarantine():
    """r13 late: a DEFLATE bomb (small IDAT inflating to ~100 MB) and a
    header-dimension lie must both raise ValueError FAST — bounded
    inflate caps the output at the IHDR geometry, and the dims cap
    rejects allocations the 64M-pixel budget can't hold."""
    import struct
    import time
    import zlib

    import pytest

    from etl_drone_sense_spark.operators.multimodal import parse_png

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 1000, 1000, 8, 2, 0, 0, 0))
    bomb = sig + ihdr + chunk(
        b"IDAT", zlib.compress(bytes(100_000_000), 9)
    ) + chunk(b"IEND", b"")
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="oversized|size mismatch"):
        parse_png(bomb)
    assert time.perf_counter() - t0 < 2.0
    huge = sig + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0)
    ) + chunk(b"IDAT", zlib.compress(b"x")) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unreasonable"):
        parse_png(huge)


def test_jpeg_new_tiers_mutation_hardening():
    """Single-byte mutations of arithmetic (SOF9/SOF10) and lossless
    (SOF3) streams must either decode to SOMETHING or raise ValueError
    — never another exception type and never a hang (all decision
    walks are bounded; JPEG carries no CRC, so silent wrong pixels are
    inherent to the format, huffman or arithmetic alike)."""
    import random

    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        encode_jpeg_arithmetic,
        encode_jpeg_arithmetic_progressive,
        encode_jpeg_lossless,
        parse_jpeg,
    )

    rnd = random.Random(7)
    img = np.arange(16 * 16, dtype=np.uint8).reshape(16, 16)
    payloads = [
        encode_jpeg_arithmetic(16, 16, img.tobytes()),
        encode_jpeg_arithmetic_progressive(16, 16, img.tobytes()),
        encode_jpeg_lossless(16, 16, img.tobytes(), predictor=4),
    ]
    for pay in payloads:
        for _ in range(80):
            buf = bytearray(pay)
            pos = rnd.randrange(2, len(buf))
            buf[pos] = (buf[pos] + 1 + rnd.randrange(255)) % 256
            try:
                parse_jpeg(bytes(buf))
            except ValueError:
                pass


def test_bmp_1bit_roundtrip_multibyte_rows():
    """r14 tier: 1-bit palette. The fixture's widths (4-8) pack into a
    single row byte, so this pins the multi-byte case directly: w=19
    needs 3 bytes (5 trailing pad bits) + 1 stride pad byte, both row
    orders."""
    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import encode_bmp, parse_bmp

    w, h = 19, 5
    idx = bytes((p * 7 + p // w) % 2 for p in range(w * h))
    pal = bytes((11 + b * 29) % 256 for b in range(2 * 3))
    for top_down in (False, True):
        ww, hh, out = parse_bmp(
            encode_bmp(w, h, idx, palette=pal, bit1=True, top_down=top_down)
        )
        assert (ww, hh) == (w, h)
        pr = np.frombuffer(pal, dtype=np.uint8).reshape(2, 3)
        exp = pr[np.frombuffer(idx, dtype=np.uint8)].ravel()
        assert np.array_equal(np.frombuffer(out, dtype=np.uint8), exp), top_down
    # encoder refuses an over-wide palette or RLE combination
    import pytest

    with pytest.raises(ValueError, match="1-bit"):
        encode_bmp(4, 3, bytes(12), palette=bytes(9), bit1=True)
    with pytest.raises(ValueError, match="1-bit"):
        encode_bmp(4, 3, bytes(12), palette=bytes(6), bit1=True, rle8=True)


def test_bmp_v4_v5_headers_roundtrip_and_icc_quarantines():
    """r14: V4/V5 headers are metadata, not pixel layouts — the same
    image must decode bit-identically under all three header versions
    (including BITFIELDS masks moving inside the V4+ header), and a
    CSType demanding a real color transform (embedded ICC) must
    quarantine rather than emit untransformed pixels."""
    import struct

    import numpy as np
    import pytest

    from etl_drone_sense_spark.operators.multimodal import encode_bmp, parse_bmp

    w, h = 7, 4
    raster = bytes((i * 11 + 3) % 256 for i in range(w * h * 3))
    base = parse_bmp(encode_bmp(w, h, raster))
    for hv in (108, 124):
        assert parse_bmp(encode_bmp(w, h, raster, header_version=hv)) == base
        # BITFIELDS under V4/V5: masks ride inside the header
        a40 = parse_bmp(encode_bmp(w, h, raster, bitfields565=True))
        av = parse_bmp(
            encode_bmp(w, h, raster, bitfields565=True, header_version=hv)
        )
        assert av == a40
        # palette offset must shift with the header size
        idx = bytes((p * 3) % 16 for p in range(w * h))
        pal = bytes((p * 5 + 1) % 256 for p in range(16 * 3))
        p40 = parse_bmp(encode_bmp(w, h, idx, palette=pal))
        pv = parse_bmp(encode_bmp(w, h, idx, palette=pal, header_version=hv))
        assert pv == p40
    # PROFILE_EMBEDDED ('MBED') demands an ICC transform -> quarantine
    v5 = bytearray(encode_bmp(w, h, raster, header_version=124))
    struct.pack_into("<I", v5, 14 + 56, 0x4D424544)
    with pytest.raises(ValueError, match="color space"):
        parse_bmp(bytes(v5))


def _wav_with_empty_data(wav: bytes, fact: int) -> bytes:
    """``wav`` with its data chunk emptied and its fact count set."""
    import struct

    out, pos = bytearray(), 12
    while pos < len(wav):
        cid = wav[pos : pos + 4]
        n = struct.unpack_from("<I", wav, pos + 4)[0]
        body = wav[pos + 8 : pos + 8 + n]
        if cid == b"fact":
            body = struct.pack("<I", fact)
        elif cid == b"data":
            body = b""
        out += cid + struct.pack("<I", len(body)) + body + b"\0" * (len(body) & 1)
        pos += 8 + n + (n & 1)
    return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + bytes(out)


def test_adpcm_batch_decode_matches_scalar_reference():
    """r17: the Arrow operators decode ADPCM through ONE transposed
    numpy walk across every (payload, block, channel) lane in the batch
    (guide §4.2); parse_wav stays the arbitrary-precision scalar
    reference. The batch twin must be bit-identical on the full fixture
    sweep (IMA mono/stereo/quad, MS mono/stereo) and on empty data
    chunks, route non-ADPCM payloads to None, carry the scalar path's
    exact quarantine errors, and fall back to the scalar path when MS
    delta leaves the provably-int64-exact window."""
    import numpy as np
    from etl_drone_sense_spark.operators.multimodal import (
        decode_wav_adpcm_batch,
        encode_wav,
        encode_wav_adpcm,
        encode_wav_msadpcm,
        encode_wav_ulaw,
        parse_wav,
    )

    payloads = []
    for did in range(240):  # covers every (ch, nibs, pred, idx) cycle
        ch = (1, 2, 4)[did % 3]
        nibs = 64 + (did % 48) * 2 if ch == 1 else 64 + (did % 12) * 8
        i7 = np.arange(nibs, dtype=np.int64) * 7
        chans = [
            (((did * 13 + c * 5) + i7) % 16).astype(np.uint8).tobytes()
            for c in range(ch)
        ]
        preds = [((did * 37 + c * 11) % 256 - 128) * 16 for c in range(ch)]
        idxs = [(did + c * 7) % 89 for c in range(ch)]
        payloads.append(encode_wav_adpcm(
            11025, preds[0] if ch == 1 else preds,
            idxs[0] if ch == 1 else idxs, chans[0] if ch == 1 else chans))
    for did in range(240):
        ch = 1 if did % 2 == 0 else 2
        nibs = 64 + (did % 48) * 2 if ch == 1 else 64 + (did % 24) * 4
        iv = np.arange(nibs, dtype=np.int64)
        chans = [
            np.where(iv % 8 == 0, (did * 19 + c * 5 + (iv // 8) * 7) % 16,
                     (did + c + iv) % 4).astype(np.uint8).tobytes()
            for c in range(ch)
        ]
        bpred = [(did + c) % 7 for c in range(ch)]
        deltas = [16 + (did * 7 + c * 13) % 480 for c in range(ch)]
        s1s = [((did * 31 + c * 17) % 256 - 128) * 16 for c in range(ch)]
        s2s = [((did * 23 + c * 19) % 256 - 128) * 16 for c in range(ch)]
        payloads.append(encode_wav_msadpcm(
            11025, bpred[0] if ch == 1 else bpred,
            deltas[0] if ch == 1 else deltas, s1s[0] if ch == 1 else s1s,
            s2s[0] if ch == 1 else s2s, chans[0] if ch == 1 else chans))
    # adversarial MS stream: uniform code 8 (adaptation x768/256 every
    # step) explodes delta exponentially past 2^48 — the batch walk must
    # detect it and defer to the scalar reference, not wrap in int64
    payloads.append(encode_wav_msadpcm(
        8000, 0, 32000, 100, -100, bytes([8] * 200)))
    # an empty data chunk decodes to zero frames (fact 0), IMA and MS
    ima1 = encode_wav_adpcm(8000, 5, 3, bytes([1, 2, 3, 4]))
    ms1 = encode_wav_msadpcm(8000, 0, 32, 100, -100, bytes([1, 2, 3, 4]))
    payloads += [_wav_with_empty_data(ima1, 0), _wav_with_empty_data(ms1, 0)]
    got = decode_wav_adpcm_batch(payloads)
    for g, p in zip(got, payloads):
        r, c, s = parse_wav(p)
        assert isinstance(g, tuple)
        assert g[0] == r and g[1] == c
        assert g[2].dtype == s.dtype and np.array_equal(g[2], s)

    # routing: non-ADPCM audio returns None (per-row dispatch handles
    # it); garbage carries the scalar path's exact ValueError
    good = payloads[0]
    others = [
        encode_wav(8000, 1, [1, 2, 3, 4]),
        encode_wav_ulaw(8000, 1, bytes([7, 8])),
        b"fLaC" + bytes(40),
        b"OggS" + good[4:],
        good[: len(good) - 3],
        b"",
        # empty data chunk whose fact chunk still claims frames
        _wav_with_empty_data(ima1, 5),
        _wav_with_empty_data(ms1, 5),
    ]
    res = decode_wav_adpcm_batch(others)
    assert res[0] is None and res[1] is None and res[2] is None
    for i in (3, 4, 5, 6, 7):
        assert isinstance(res[i], ValueError)
        try:
            parse_wav(others[i])
        except ValueError as e:
            assert str(res[i]) == str(e)

    # a batch whose only MS payload has no data lanes: the overflow
    # check must not take down the whole batch
    for fact in (0, 5):
        lone = _wav_with_empty_data(ms1, fact)
        (res,) = decode_wav_adpcm_batch([lone])
        try:
            r, c, s = parse_wav(lone)
        except ValueError as e:
            assert isinstance(res, ValueError) and str(res) == str(e)
        else:
            assert res[:2] == (r, c) and np.array_equal(res[2], s)
            assert res[2].dtype == s.dtype


def test_flac_vectorized_paths_match_scalar_reference():
    """r17: FLAC residual decode is adaptive — partitions with >=
    _FLAC_VEC_MIN codes take the vectorized pointer-jump Rice decoder,
    smaller ones the scalar bit walk; the encoder assembles residual
    and verbatim regions as numpy bit arrays. Property-test the
    vectorized residual decoder against the scalar one over random
    streams covering both Rice methods, partition orders, and escape
    partitions (incl. raw=0), then pin a production-sized (4096-block)
    roundtrip for every subframe variant and channel mode."""
    import random

    import numpy as np

    from etl_drone_sense_spark.operators.multimodal import (
        _FlacBitReader,
        _FlacBitWriter,
        _flac_residuals,
        _flac_residuals_vec,
        _zigzag,
        encode_flac,
        parse_flac,
    )

    rng = random.Random(1234)
    trials = 0
    for _ in range(300):
        blocksize = rng.choice([64, 128, 192, 256])
        order = rng.choice([0, 1, 2, 4])
        porder = rng.choice([0, 0, 1, 2])
        nparts = 1 << porder
        if blocksize % nparts or blocksize // nparts <= order:
            continue
        method = rng.choice([0, 1])
        pbits = 4 if method == 0 else 5
        escape = (1 << pbits) - 1
        fw = _FlacBitWriter()
        fw.write(method, 2)
        fw.write(porder, 4)
        for p in range(nparts):
            count = blocksize // nparts - (order if p == 0 else 0)
            mode = rng.choice(["rice", "rice", "rice", "esc", "esc0"])
            if mode == "esc0":
                fw.write(escape, pbits)
                fw.write(0, 5)
                continue
            if mode == "esc":
                raw = rng.randint(1, 20)
                fw.write(escape, pbits)
                fw.write(raw, 5)
                for _ in range(count):
                    fw.write(
                        rng.randint(-(1 << (raw - 1)), (1 << (raw - 1)) - 1),
                        raw,
                    )
                continue
            k = rng.choice([0, 1, 2, 5, 14])
            if k == escape:
                k = 3
            fw.write(k, pbits)
            for _ in range(count):
                u = _zigzag(rng.randint(-2000, 2000))
                fw.write_unary(u >> k)
                if k:
                    fw.write(u & ((1 << k) - 1), k)
        blob = fw.getvalue_aligned_zero() + b"\x00" * 4
        br1 = _FlacBitReader(blob)
        ref = _flac_residuals(br1, blocksize, order)
        bits = np.unpackbits(np.frombuffer(blob, dtype=np.uint8))
        ones = np.flatnonzero(bits)
        br2 = _FlacBitReader(blob)
        got = _flac_residuals_vec(br2, bits, ones, blocksize, order)
        assert list(got) == ref
        assert br1.bitpos == br2.bitpos
        trials += 1
    assert trials > 200

    # production-shape roundtrip: every variant/mode at 4096 blocks
    i = np.arange(24000, dtype=np.int64)
    inter = np.empty(48000, dtype=np.int64)
    for c in range(2):
        inter[c::2] = (c * 31 + i * 9) % 65536 - 32768
    for variant, mode in (
        (0, "independent"), (1, "independent"), (2, "left_side"),
        (3, "mid_side"), (4, "right_side"),
    ):
        samples = inter if variant else np.zeros(48000, dtype=np.int64)
        payload = encode_flac(
            16000, 2, samples, variant=variant, blocksize=4096,
            channel_mode=mode,
        )
        rate, ch, got = parse_flac(payload)
        assert (rate, ch) == (16000, 2)
        assert np.array_equal(got, samples.astype(np.int16))


# sha256 over every (media_id, payload) of doc ids 0..419 (420 =
# lcm(3, 4, 5, 7); every variant cycle of every fixture turns over at
# least once), and whether the fixture spreads its input with a
# round-robin exchange. Pins the payload BYTES and the spread policy of
# every synth fixture; the oracle queries only see decoded features.
_SYNTH_PINS = {
    "adpcm": ("e72685fc5101de56d5e2a79b30a6ed554f89ef81d29100991acbe5f0f9f86b18", True),
    "avi": ("0191b5756a35dedc0213278e1f8db013655906e80faa31ab6c2e67f9ee122be0", True),
    "bmp": ("757d557c9248a2b7fa45311a72d751f729dc8407710cb1c9e9495f3c71d69b4d", True),
    "flac": ("0805c82edbec7d154d675deb8b16a85349d359466c2c4384a111fc123e6a04fd", True),
    "gif_anim": ("d922841bc4b5557e02235e8700fc30d384d29b1b4fb27dd01af9705716e657d5", True),
    "gif": ("c03aa6bd228b8e1ca61df9aaf876a1da6b3287c6e0d8609573c09f4e819b0bea", True),
    "jpeg_arith": ("fef96008c6b91dd309421ea4ec084d831c5a2cb1ab927861d40694ff988f3d2f", True),
    "jpeg_arith_prog": ("d4f3c585feb4b7cb3625add422ddd2b63cac1e40546fa865b050154debcbbe45", True),
    "jpeg_lossless": ("602ee30b9074631b12c366d98b62b4b3eb05f0734f5ecb529d90bb37e556f91e", True),
    "jpeg": ("7635cbc0984bdc215eddc5aa2e80a6668425ae1d57d27de35a52b1ae370bc51e", True),
    "jpeg_progressive": ("7ccd769626cb4914ddaf7bd5073a27b2985f8bcd374796d734aae3c4a7eafbe7", True),
    "msadpcm": ("5810cef587cb8bf2334e0ba0ce569889ec447a0345266c7617f6a37fb65e74e3", True),
    "png": ("fc0ce3c06e39df24c0f3c2290158312ce309ff2196014a9d1f0e050846ccd12a", True),
    "ppm": ("640a6897e2dabf579700ede3863655672d5c678494c4f4ab3457f1db322acb51", False),
    "tiff": ("0361f4291c19c4f63d39485d3ee7b5e916ad9340257ec804d37a45e2339aa448", True),
    "ulaw": ("ee980a599d335935c221337d85e3df6fd8a9b32717f8bf580b832cd579e88b69", False),
    "wav": ("00407a3b907fe09b8181c89fc4ebb468413d8b315ad6309d8ebfbf5c83313838", False),
}


@pytest.mark.parametrize(
    "fmt",
    sorted(
        n[len("synth_") : -len("_media")]
        for n in dir(M)
        if n.startswith("synth_") and n.endswith("_media")
    ),
)
def test_synth_payload_bytes_and_spread_pinned(spark, fmt):
    import hashlib
    import struct

    digest, spread = _SYNTH_PINS[fmt]  # a new fixture needs its pin
    docs = spark.range(0, 420, 1, numPartitions=1).withColumnRenamed("id", "doc_id")
    media = getattr(M, f"synth_{fmt}_media")(docs)
    plan = media._jdf.queryExecution().executedPlan().toString()
    assert ("RoundRobinPartitioning" in plan) == spread, plan
    h = hashlib.sha256()
    rows = sorted((r.media_id, bytes(r.payload)) for r in media.collect())
    assert [mid for mid, _ in rows] == list(range(420))
    for mid, payload in rows:
        h.update(struct.pack("<qq", mid, len(payload)) + payload)
    assert h.hexdigest() == digest
