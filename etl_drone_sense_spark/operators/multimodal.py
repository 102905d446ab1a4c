"""Multimodal (binary) columns: dependency-free media codecs and the
Arrow-batched operators that decode them (SURVEY §2 Part C5).

Images / audio / video travel as opaque ``binary`` payloads plus a typed
metadata struct. Every codec here is real, in pure Python/numpy, with
no external library; each ``encode_*`` is the fixture-side twin of its
``parse_*``:

* images — PPM (P6), PNG, GIF (still and animated), BMP, TIFF (with
  JPEG-in-TIFF), and JPEG: baseline and 12-bit sequential, progressive,
  arithmetic, arithmetic progressive and lossless. ``parse_image``
  dispatches on magic bytes.
* audio — WAV PCM, G.711 µ-law, IMA and Microsoft ADPCM, and FLAC.
  ``parse_audio`` dispatches.
* video — MJPEG-in-AVI and animated GIF. H.264-class video and MP3/AAC
  stay import-gated.

Two shells carry the Arrow passes. ``_synth_media`` runs every
``synth_*_media`` fixture, which supplies only ``payload(doc_id)``; the
fixture's docstring states that payload's closed form for the SQL
oracle. ``_decode_quarantined`` runs image decode, resize and video
decode, each supplying ``decode(payload) -> rows``: a ``ValueError``
turns the payload into one ``ok=false`` row instead of failing the
batch. Audio decode keeps its own loop because its ADPCM walk runs once
per batch, not per payload. The synth shell is the one place that
spreads an under-split input before the codec work; PPM, µ-law and PCM
WAV skip the spread, because A/B runs measured the shuffle costing more
than the encode (the table at ``_synth_media``). ``extract_features``
(byte statistics through ``decode_stub``) exercises the same Arrow path
for payloads of no known codec.

Scale notes: binary rows are large → keep ``spark.sql.files.maxPartitionBytes``
bounded and never ``collect`` payloads; feature extraction emits small typed
rows so downstream stages shed the heavy column immediately (column pruning
drops the binary once ``payload`` is no longer referenced).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        # Σ_y y·(row y's byte sum): ROW-ORDER-sensitive where the means
        # are not — a vertically flipped decode (e.g. a mishandled
        # top-down BMP) keeps every mean and changes this moment.
        T.StructField("row_moment", T.LongType()),
    ]
)

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("resize_ok", T.BooleanType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


# Spread policy of the synth fixtures: one row per doc but codec work per
# row, so an under-split ``docs`` is round-robined across the cluster
# before the Arrow pass UNLESS an A/B measured the shuffle costing more
# than the encode it spreads:
#
#   format            spread  evidence
#   PPM               no      0.60 s as-is vs 1.06 s spread (r16): the
#                             encoder is a raw-byte passthrough
#   µ-law, PCM WAV    no      spread removed (r17)
#   ADPCM, MS-ADPCM   yes     0.85 s spread vs 0.94 s fused (r17, sf0.1,
#                             local[32]): the batched walk parallelizes
#   every other       yes     kilobytes of codec work per row
def _synth_media(
    docs: DataFrame, payload: Callable[[int], bytes], spread: bool = True
) -> DataFrame:
    """The shell of every ``synth_*_media`` fixture: one Arrow pass over
    ``docs.doc_id`` emitting ``(media_id = doc_id, payload(doc_id))``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [payload(int(did)) for did in pdf["doc_id"]]
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    if spread:
        from ..sources.readers import rebalance_for_compute

        docs = rebalance_for_compute(docs)
    return docs.select("doc_id").mapInPandas(
        batches, schema="media_id long, payload binary"
    )


def _decode_quarantined(
    media: DataFrame,
    schema: T.StructType,
    decode: Callable[[bytes], list[tuple]],
) -> DataFrame:
    """The quarantining shell of the per-payload decode operators: one
    Arrow pass over ``media(media_id, payload)`` emitting
    ``(media_id, True, *row)`` for each row ``decode(payload)`` returns,
    or ONE ``(media_id, False, None, ...)`` row when ``decode`` raises
    ``ValueError`` — one corrupt blob must not kill a 100 TB scan.
    ``schema`` leads with ``media_id`` and the ok flag. The heavy binary
    column dies here; downstream sees only small typed rows."""
    nulls = (None,) * (len(schema.fields) - 2)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rows.extend((mid, True, *row) for row in decode(payload))
                except ValueError:
                    rows.append((mid, False, *nulls))
            yield pd.DataFrame.from_records(rows, columns=schema.names)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema
    )


def _rgb_means(rgb: np.ndarray, px: int) -> tuple:
    """Per-channel means of an RGB raster: exact-integer sums (int64)
    divided once in double — the same IEEE op an SQL oracle performs,
    so results are bit-comparable."""
    sums = rgb.astype(np.int64, copy=False).reshape(-1, 3).sum(axis=0)
    return sums[0] / px, sums[1] / px, sums[2] / px


def _ppm_header_tokens(buf: bytes, count: int) -> tuple[list[bytes], int]:
    """First ``count`` whitespace-delimited header tokens (``#`` comments
    skipped to end-of-line, per the netpbm spec); returns (tokens, end index
    just past the last token)."""
    toks: list[bytes] = []
    i, n = 0, len(buf)
    while len(toks) < count:
        while i < n and buf[i : i + 1].isspace():
            i += 1
        if i < n and buf[i : i + 1] == b"#":
            while i < n and buf[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < n and not buf[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        toks.append(buf[i:j])
        i = j
    return toks, i


def parse_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an uncompressed binary PPM (P6) image — dependency-free.

    Returns ``(width, height, raster)`` where ``raster`` is the
    ``width*height*3`` interleaved-RGB byte string. Exactly one whitespace
    byte separates the maxval token from the raster (netpbm spec). Only
    maxval 255 (1 byte/sample) is supported. Malformed, truncated, or
    non-P6 payloads raise ``ValueError``. (PNG has its own real decoder,
    ``parse_png``; JPEG/video stay import-gated on external codec libs.)
    """
    if payload is None or len(payload) < 2 or bytes(payload[:2]) != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    buf = bytes(payload)
    (magic, w_tok, h_tok, maxval_tok), end = _ppm_header_tokens(buf, 4)
    if magic != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    try:
        width, height, maxval = int(w_tok), int(h_tok), int(maxval_tok)
    except ValueError as exc:
        raise ValueError(f"non-numeric PPM header token: {exc}") from exc
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid PPM dimensions {width}x{height}")
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPM supported, got {maxval}")
    start = end + 1  # the single whitespace byte after maxval
    need = width * height * 3
    raster = buf[start : start + need]
    if len(raster) < need:
        raise ValueError(
            f"truncated PPM raster: need {need} bytes, have {len(raster)}"
        )
    return width, height, raster


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): pick the neighbor (left, up,
    up-left) closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(
    width: int,
    height: int,
    raster: bytes,
    ctype: int = 2,
    palette: bytes | None = None,
) -> bytes:
    """Minimal PNG encoder — the fixture side of the codec pair. Colour
    types: 2 (``raster`` = RGB, the default), 6 (``raster`` = RGBA), 3
    (``raster`` = palette INDICES, ``palette`` = the PLTE RGB bytes,
    ≤256 entries), 0 (``raster`` = grey bytes), 4 (``raster`` =
    grey+alpha pairs). Scanline ``y`` is filtered with type ``y % 5``, so a
    synthetic corpus of ≥5 rows drives EVERY filter reconstruction path
    (None/Sub/Up/Average/Paeth) through the decoder at every bpp; zlib
    (stdlib) is the real DEFLATE layer."""
    import struct
    import zlib

    if ctype not in _PNG_BPP:
        raise ValueError(f"unsupported PNG colour type {ctype}")
    bpp = _PNG_BPP[ctype]
    if len(raster) != width * height * bpp:
        raise ValueError(
            f"raster size {len(raster)} != {width}x{height}x{bpp}"
        )
    if ctype == 3:
        if not palette or len(palette) % 3 or len(palette) > 256 * 3:
            raise ValueError("colour type 3 needs a 1..256-entry palette")
        if raster and max(raster) >= len(palette) // 3:
            raise ValueError("palette index out of range")
    elif palette is not None:
        raise ValueError("palette only valid for colour type 3")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    stride = width * bpp
    prior = bytes(stride)
    lines = []
    for y in range(height):
        raw = raster[y * stride : (y + 1) * stride]
        ft = y % 5
        if ft == 0:
            enc = raw
        elif ft == 1:  # Sub
            enc = bytes(
                (raw[i] - (raw[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            enc = bytes((raw[i] - prior[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            enc = bytes(
                (raw[i] - ((raw[i - bpp] if i >= bpp else 0) + prior[i]) // 2)
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            enc = bytes(
                (
                    raw[i]
                    - _paeth(
                        raw[i - bpp] if i >= bpp else 0,
                        prior[i],
                        prior[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        lines.append(bytes([ft]) + enc)
        prior = raw
    idat = zlib.compress(b"".join(lines))
    parts = [_PNG_SIG, chunk(b"IHDR", ihdr)]
    if ctype == 3:
        parts.append(chunk(b"PLTE", bytes(palette)))
    parts += [chunk(b"IDAT", idat), chunk(b"IEND", b"")]
    return b"".join(parts)


# bytes-per-pixel for the supported 8-bit colour types: 0=greyscale,
# 2=RGB, 3=palette indices, 4=grey+alpha, 6=RGBA — the COMPLETE 8-bit
# colour-type matrix of the PNG spec (the only depth used by training
# corpora; 1/2/4/16-bit depths and Adam7 stay rejected)
_PNG_BPP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter_scanlines(raw: bytes, width: int, height: int, bpp: int):
    """Reconstruct filtered scanlines (PNG spec §9) — numpy-vectorized
    (r6 VERDICT item 5: the per-byte Python loop was the decode hot
    path's dominating constant at an image-heavy corpus).

    None/Sub/Up vectorize COMPLETELY: Sub is a per-channel running sum,
    and ``np.add.accumulate`` in uint8 wraps mod 256 exactly like the
    spec's byte arithmetic; Up is one wrapping uint8 row-add. Average and
    Paeth carry a true serial dependency along width and KEEP the
    per-byte loop — looping columns with numpy ops across the bpp lanes
    was measured ~10× slower (small-vector dispatch overhead at bpp ≤ 4).
    Micro-benchmark (this container, 64×64 RGB, median of 7):
    filters cycling 0-4 2.19 → 1.04 ms/image (2.1×); all-Up images
    1.82 → 0.07 ms/image (27×). Returns an (height, width*bpp) uint8
    array."""
    import numpy as np

    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG raster size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    fts = arr[:, 0]
    if (fts > 4).any():
        raise ValueError(f"invalid PNG filter type {int(fts.max())}")
    out = np.zeros((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ft = int(fts[y])
        line = arr[y, 1:]
        if ft == 0:
            rec = line.copy()
        elif ft == 1:  # Sub — per-channel cumulative sum mod 256
            rec = np.add.accumulate(
                line.reshape(width, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ft == 2:  # Up — one wrapping row-add
            rec = line + prior
        else:  # Average / Paeth — a TRUE serial dependency along width.
            # Measured: looping columns with numpy ops across the bpp
            # lanes is ~10× SLOWER than a plain per-byte loop (small-
            # vector dispatch overhead dominates at bpp ≤ 4), so the
            # serial filters keep the byte loop and only None/Sub/Up —
            # the bulk of real encoder output — take the vector path.
            ln_b = line.tobytes()
            pr_b = prior.tobytes()
            rec_b = bytearray(stride)
            if ft == 3:
                for k in range(stride):
                    left = rec_b[k - bpp] if k >= bpp else 0
                    rec_b[k] = (ln_b[k] + (left + pr_b[k]) // 2) & 0xFF
            else:
                for k in range(stride):
                    a = rec_b[k - bpp] if k >= bpp else 0
                    c = pr_b[k - bpp] if k >= bpp else 0
                    rec_b[k] = (ln_b[k] + _paeth(a, pr_b[k], c)) & 0xFF
            rec = np.frombuffer(bytes(rec_b), dtype=np.uint8)
        out[y] = rec
        prior = rec
    return out


def parse_png(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a PNG image — dependency-free (stdlib zlib is the DEFLATE
    layer; chunk walk, CRC verification, and the five filter-type
    reconstructions are implemented here per the PNG spec). Supports
    8-bit depth, non-interlaced, ALL five colour types: 0 (greyscale,
    replicated to RGB), 2 (RGB), 3 (palette — PLTE-mapped to RGB), 4
    (grey+alpha, alpha dropped) and 6 (RGBA — alpha dropped, tRNS
    ignored); always returns an RGB raster. Anything else — sub-8/16-bit
    depths, Adam7 — raises ``ValueError`` like any malformed payload,
    keeping the quarantine contract of ``decode_image_features``."""
    import struct
    import zlib

    import numpy as np

    buf = bytes(payload or b"")
    if len(buf) < len(_PNG_SIG) or buf[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    i, n = len(_PNG_SIG), len(buf)
    width = height = ctype = None
    plte = None
    idat = bytearray()
    seen_end = False
    while i + 8 <= n and not seen_end:
        (length,) = struct.unpack(">I", buf[i : i + 4])
        typ = buf[i + 4 : i + 8]
        data = buf[i + 8 : i + 8 + length]
        if len(data) < length or i + 12 + length > n:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", buf[i + 8 + length : i + 12 + length])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {typ!r} chunk")
        if typ == b"IHDR":
            if len(data) != 13:
                raise ValueError("malformed PNG IHDR length")
            width, height, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype not in _PNG_BPP or (comp, filt, inter) != (
                0,
                0,
                0,
            ):
                raise ValueError(
                    "unsupported PNG variant: need 8-bit depth, "
                    "non-interlaced, got "
                    f"depth={depth} colour={ctype} interlace={inter}"
                )
            if width <= 0 or height <= 0 or width * height > 1 << 26:
                # header-driven allocation guard (the GIF-fuzz lesson):
                # dims size the scanline buffers and the palette fanout
                raise ValueError("PNG: unreasonable dimensions")
        elif typ == b"PLTE":
            if length == 0 or length % 3 or length > 256 * 3:
                raise ValueError("malformed PNG PLTE length")
            plte = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            seen_end = True
        i += 12 + length
    if width is None or not seen_end or not idat:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    # BOUNDED inflate (r13 late): plain zlib.decompress materializes
    # whatever the stream claims — a crafted DEFLATE bomb expands up to
    # ~1000x the payload before the size check ever runs. Cap the
    # output at the geometry the IHDR promised (+1 so oversize is
    # DETECTED, not silently truncated into a valid-looking raster).
    expected = height * (width * _PNG_BPP[ctype] + 1)
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        # must surface as ValueError: the decode operators' per-row
        # quarantine catches ValueError only — a zlib.error escaping here
        # would kill the whole Arrow task for one corrupt payload
        raise ValueError(f"PNG inflate failed: {exc}") from exc
    if len(raw) > expected or not d.eof:
        raise ValueError("PNG inflate oversized or incomplete")
    rec = _unfilter_scanlines(raw, width, height, _PNG_BPP[ctype])
    if ctype == 2:
        raster = rec.tobytes()
    elif ctype == 6:
        raster = rec.reshape(height, width, 4)[:, :, :3].tobytes()
    elif ctype == 0:
        # greyscale → replicate into RGB (the decode contract always
        # returns an RGB raster)
        raster = np.repeat(rec.reshape(height, width, 1), 3, axis=2).tobytes()
    elif ctype == 4:
        grey = rec.reshape(height, width, 2)[:, :, :1]  # alpha dropped
        raster = np.repeat(grey, 3, axis=2).tobytes()
    else:
        if plte is None:
            raise ValueError("PNG palette image missing PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = rec.reshape(height, width)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        raster = pal[idx].tobytes()
    return width, height, raster


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("mean_abs", T.DoubleType()),
        T.StructField("peak", T.LongType()),
    ]
)


# --- GIF (LZW) ---------------------------------------------------------------
#
# The remaining legacy-web raster format after PPM/PNG/JPEG: GIF87a/89a
# with LZW entropy coding. Dependency-free like the others; the
# variable-width LSB-first code stream is the interesting part.
#
# Width-sync derivation (the boundary where naive implementations
# desync): the DECODER must widen as soon as the next code it could
# RECEIVE needs more bits — and the KwKwK case means a received code can
# equal the decoder's next unassigned slot — so after its table insert
# makes next_code == 1 << width, it widens. The ENCODER inserts each
# entry one step EARLIER than the decoder does (the decoder only
# materializes step n's entry while processing step n+1's code), so the
# encoder widens one insert later: next_code > 1 << width. Getting both
# sides off-by-one-consistent-but-shifted round-trips cleanly and
# desyncs against the rest of the world — the avrolite union-order
# lesson — so tests/test_multimodal.py pins the decoder against a
# CANONICAL hand-packed GIF byte string (external bytes, not this
# encoder's).


def _lzw_compress_gif(data: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            # one insert LATER than the decoder's bump: the decoder
            # inserts its step-n entry while processing step n+1's code,
            # so its table is one entry behind — see the width-sync note
            # in the section comment above
            width += 1
        if next_code > 4095:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([ch])
    if w:
        emit(table[w], width)
        # The tail emit has no insert, but the DECODER still inserts an
        # entry while processing this code — if that insert lands exactly
        # on 2^width, the decoder reads EOI one bit wider. The in-loop
        # check is `next_code > (1 << width)` AFTER incrementing, which
        # equals `>=` on the un-incremented count used here (found by a
        # hypothesis roundtrip example whose final data code sits exactly
        # on the boundary).
        if next_code >= (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress_gif(
    data: bytes, min_code_size: int, max_out: int | None = None
) -> bytes:
    """``max_out`` bounds the decompressed size: LZW output is quadratic
    in the code count (entry lengths grow by one per code), so without a
    cap a kilobytes-sized adversarial stream expands to gigabytes and
    kills the Arrow task with an OOM that escapes the ValueError
    quarantine. Callers know the raster size; over-long streams are
    corrupt by definition and quarantine loudly."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = eoi + 1

    out = bytearray()
    bitpos = 0
    total = len(data) * 8
    prev: bytes | None = None
    while True:
        if bitpos + width > total:
            raise ValueError("gif: truncated LZW stream")
        code = 0
        for k in range(width):
            if data[(bitpos + k) >> 3] >> ((bitpos + k) & 7) & 1:
                code |= 1 << k
        bitpos += width
        if code == clear:
            table = {i: bytes([i]) for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise ValueError("gif: first code not a literal")
        elif code < next_code:
            entry = table.get(code)
            if entry is None:
                raise ValueError("gif: code references empty slot")
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code >= (1 << width) and width < 12:
                width += 1
        elif code == next_code:
            entry = prev + prev[:1]
            table[next_code] = entry
            next_code += 1
            if next_code >= (1 << width) and width < 12:
                width += 1
        else:
            raise ValueError("gif: LZW code beyond table")
        out += entry
        prev = entry
        if max_out is not None and len(out) > max_out:
            raise ValueError("gif: LZW stream expands beyond the raster")
    return bytes(out)


def _gif_interlace_order(height: int) -> list[int]:
    """Row storage order of an interlaced GIF frame: four passes with
    strides 8/8/4/2 starting at rows 0/4/2/1 (GIF89a spec appendix E)."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def encode_gif(
    width: int,
    height: int,
    indices: bytes,
    palette: bytes,
    interlaced: bool = False,
) -> bytes:
    """GIF89a writer: one frame over a 256-entry global color table.
    ``indices`` is the w*h index raster in NORMAL row order; with
    ``interlaced`` the rows are stored in four-pass order and the flag
    set, exactly as a real interlaced writer would. ``palette`` is 768
    bytes of RGB triples. Fixture side of the codec pair (encode_png's
    role for the LZW tier)."""
    if len(indices) != width * height:
        raise ValueError("gif: raster size mismatch")
    if len(palette) != 256 * 3:
        raise ValueError("gif: palette must be 256 RGB entries")
    if interlaced:
        indices = b"".join(
            indices[r * width : (r + 1) * width]
            for r in _gif_interlace_order(height)
        )
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0xF7)  # GCT present, 8-bit colour resolution, 256 entries
    out += b"\x00\x00"  # background index, aspect
    out += palette
    out += b"\x2c" + b"\x00\x00\x00\x00"  # image descriptor at (0,0)
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0x40 if interlaced else 0x00)  # LCT absent; interlace flag
    out.append(8)  # LZW min code size
    comp = _lzw_compress_gif(indices, 8)
    for i in range(0, len(comp), 255):
        block = comp[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def encode_gif_animated(
    width: int,
    height: int,
    frames: list,
    palette: bytes,
    delay_cs: int = 10,
    background: int = 0,
) -> bytes:
    """GIF89a animation writer over the global color table, a Graphic
    Control Extension before each frame. Each entry of ``frames`` is
    either ``bytes`` (a FULL-RECT frame, disposal 0, no transparency —
    the pre-r13 subset, kept bit-identical) or a tuple
    ``(indices, left, top, w, h, disposal, transparent_idx)`` for a
    SUB-RECT frame with an explicit disposal method (0/1/2) and an
    optional transparent index (None = opaque)."""
    if not frames:
        raise ValueError("gif: animation needs at least one frame")
    if len(palette) != 256 * 3:
        raise ValueError("gif: palette must be 256 RGB entries")
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0xF7)
    out.append(background & 0xFF)
    out += b"\x00"
    out += palette
    for entry in frames:
        if isinstance(entry, (bytes, bytearray)):
            indices, left, top, fw, fh = bytes(entry), 0, 0, width, height
            disposal, transparent = 0, None
        else:
            indices, left, top, fw, fh, disposal, transparent = entry
        if len(indices) != fw * fh:
            raise ValueError("gif: raster size mismatch")
        packed = (disposal & 0x07) << 2
        tidx = 0
        if transparent is not None:
            packed |= 0x01
            tidx = transparent & 0xFF
        out += b"\x21\xf9\x04"
        out.append(packed)
        out += delay_cs.to_bytes(2, "little")
        out.append(tidx)
        out += b"\x00"
        out += b"\x2c"
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += fw.to_bytes(2, "little") + fh.to_bytes(2, "little")
        out.append(0x00)
        out.append(8)
        comp = _lzw_compress_gif(bytes(indices), 8)
        for i in range(0, len(comp), 255):
            block = comp[i : i + 255]
            out.append(len(block))
            out += block
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def parse_gif_frames(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Decode a GIF87a/89a to (width, height, [full-canvas RGB per
    frame]) — single images, full-frame animations, AND (r13 — r12
    VERDICT item 8) PARTIAL-RECT animations with disposal compositing.

    Supported: global or local color tables, any LZW min code size,
    INTERLACED frames (four-pass row reorder), any number of frames,
    sub-rectangle frames composited onto a retained logical-screen
    canvas, GCE TRANSPARENCY (transparent pixels leave the underlying
    canvas pixel), and ALL FOUR disposal methods — 0/1 keep the canvas,
    2 restores the frame's rect to the background color (the GCT entry
    named by the screen descriptor, black without one), 3 restores the
    rect to its pre-render pixels (r13 — per spec only the graphic's
    area reverts, so a rect-sized copy suffices). Each emitted frame is
    the CANVAS SNAPSHOT after drawing, so full-rect streams decode
    exactly as before. Quarantined as ValueError (the one-corrupt-blob-
    must-not-kill-the-scan contract): reserved disposal codes >3, rects
    outside the canvas, missing color tables, truncated or over-long
    LZW streams."""
    buf = bytes(payload or b"")
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    if len(buf) < 13:
        raise ValueError("gif: truncated header")
    pos = 6
    sw = int.from_bytes(buf[pos : pos + 2], "little")
    sh = int.from_bytes(buf[pos + 2 : pos + 4], "little")
    pos += 4
    packed = buf[pos]
    bg_index = buf[pos + 1]
    pos += 3
    gct = b""
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = buf[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("gif: truncated global color table")
        pos += 3 * n
    bg_rgb = (0, 0, 0)
    if gct and bg_index < len(gct) // 3:
        bg_rgb = tuple(gct[3 * bg_index : 3 * bg_index + 3])
    # Canvas allocation is DEFERRED to the first image descriptor and
    # capped: the screen dims are two unvalidated header shorts, so a
    # fuzzed 65535x65535 header would otherwise commit 12.8 GB before
    # any pixel data is even read (the one-corrupt-blob contract again —
    # allocation is work too). 64M pixels ≈ 8K x 8K, far above any real
    # animation this pipeline ingests.
    if sw * sh > 64_000_000:
        raise ValueError("gif: canvas exceeds the 64M-pixel decode cap")

    frames: list[bytes] = []
    canvas: np.ndarray | None = None
    # pending GCE state — applies to the NEXT image only, per spec
    disposal = 0
    transparent: int | None = None
    while True:
        if pos >= len(buf):
            raise ValueError("gif: missing trailer")
        b0 = buf[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            label = buf[pos] if pos < len(buf) else -1
            pos += 1
            sub = bytearray()
            while True:
                if pos >= len(buf):
                    raise ValueError("gif: truncated extension")
                n = buf[pos]
                if n:
                    sub += buf[pos + 1 : pos + 1 + n]
                pos += 1 + n
                if n == 0:
                    break
            if label == 0xF9 and len(sub) >= 4:  # Graphic Control
                disposal = (sub[0] >> 2) & 0x07
                transparent = sub[3] if sub[0] & 0x01 else None
            continue
        if b0 != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b0:02x}")
        if pos + 9 > len(buf):
            raise ValueError("gif: truncated image descriptor")
        left = int.from_bytes(buf[pos : pos + 2], "little")
        top = int.from_bytes(buf[pos + 2 : pos + 4], "little")
        w = int.from_bytes(buf[pos + 4 : pos + 6], "little")
        h = int.from_bytes(buf[pos + 6 : pos + 8], "little")
        ipacked = buf[pos + 8]
        pos += 9
        if canvas is None:
            if not (sw and sh):
                # headerless screen size (sw=sh=0): the first frame
                # defines the canvas, so it must anchor at the origin
                if (left, top) != (0, 0):
                    raise ValueError("gif: no screen size and offset frame")
                sw, sh = w, h
                if sw * sh > 64_000_000:
                    raise ValueError(
                        "gif: canvas exceeds the 64M-pixel decode cap"
                    )
            canvas = np.empty((sh, sw, 3), dtype=np.uint8)
            canvas[:, :] = bg_rgb
        if left + w > sw or top + h > sh:
            raise ValueError("gif: frame rect outside the canvas")
        if disposal > 3:
            raise ValueError(f"gif: reserved disposal method {disposal}")
        interlaced = bool(ipacked & 0x40)
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = buf[pos : pos + 3 * n]
            if len(ct) < 3 * n:
                raise ValueError("gif: truncated local color table")
            pos += 3 * n
        if not ct:
            raise ValueError("gif: frame has no color table")
        if w < 1 or h < 1:
            raise ValueError("gif: empty frame")
        if pos >= len(buf):
            raise ValueError("gif: missing LZW min code size")
        min_code = buf[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise ValueError("gif: bad LZW min code size")
        comp = bytearray()
        while True:
            if pos >= len(buf):
                raise ValueError("gif: truncated image data")
            n = buf[pos]
            pos += 1
            if n == 0:
                break
            block = buf[pos : pos + n]
            if len(block) < n:
                raise ValueError("gif: short data sub-block")
            comp += block
            pos += n
        # cap = raster + one max-length entry of slack (a conformant
        # final code may overshoot the raster by its entry length)
        indices = _lzw_decompress_gif(
            bytes(comp), min_code, max_out=w * h + 4096
        )
        if len(indices) < w * h:
            raise ValueError("gif: raster shorter than frame")
        indices = indices[: w * h]
        if interlaced:
            rows = np.frombuffer(indices, dtype=np.uint8).reshape(h, w)
            out_rows = np.empty_like(rows)
            out_rows[_gif_interlace_order(h)] = rows
            indices = out_rows.tobytes()
        n_colors = len(ct) // 3
        arr = np.frombuffer(indices, dtype=np.uint8).reshape(h, w)
        opaque = (
            arr != transparent if transparent is not None
            else np.ones((h, w), dtype=bool)
        )
        if int(arr[opaque].max(initial=0)) >= n_colors:
            raise ValueError("gif: index beyond color table")
        pal = np.frombuffer(ct[: 3 * n_colors], dtype=np.uint8).reshape(-1, 3)
        rect = canvas[top : top + h, left : left + w]
        # disposal 3 (restore-to-previous, r13): revert the frame's RECT
        # to its pre-render pixels after the snapshot — per spec only
        # the area used by the graphic is restored, so a rect-sized copy
        # suffices (no second full canvas retained)
        prev_rect = rect.copy() if disposal == 3 else None
        rect[opaque] = pal[arr % n_colors][opaque]
        frames.append(canvas.reshape(-1).tobytes())
        if disposal == 2:
            rect[:, :] = bg_rgb
        elif disposal == 3:
            rect[:, :] = prev_rect
        disposal, transparent = 0, None  # GCE applies to one image only
    if not frames:
        raise ValueError("gif: no image frame before trailer")
    return sw, sh, frames


def parse_gif(payload: bytes) -> tuple[int, int, bytes]:
    """First frame of a GIF as (width, height, raw RGB) — the raster-
    codec interface parse_image dispatches to (parse_png's shape)."""
    w, h, frames = parse_gif_frames(payload)
    return w, h, frames[0]


# --- BMP (Windows DIB) ------------------------------------------------------
#
# The uncompressed-raster interchange format every OS tool emits: a
# 14-byte file header, a 40-byte BITMAPINFOHEADER, and bottom-up (or
# top-down, via negative height) BGR rows padded to 4-byte multiples.
# Supported tiers: 24-bit BI_RGB and 1/4/8-bit palette — the layouts
# that cover the overwhelming majority of real .bmp files. V4/V5
# headers quarantine (ValueError) — the honesty contract every codec
# tier keeps (progressive JPEG, animated GIF, RLE4/BITFIELDS/16/32-bit
# and — r14 — 1-bit, once examples of it, decode for real).


def encode_bmp(
    width: int,
    height: int,
    raster: bytes,
    palette: bytes | None = None,
    top_down: bool = False,
    rle8: bool = False,
    rle4: bool = False,
    bitfields565: bool = False,
    rgb32: bool = False,
    bit1: bool = False,
    header_version: int = 40,
) -> bytes:
    """Minimal BMP writer — the fixture side of the codec pair, exactly
    like encode_png. ``raster`` is RGB bytes (24-bit) or palette indices
    (with ``palette`` = RGB triples, ≤256 entries); rows are emitted
    bottom-up unless ``top_down`` (negative biHeight). ``rle8`` (r13)
    emits BI_RLE8 compression — 8-bit palette, bottom-up only (the
    spec forbids RLE with negative heights): encoded runs, absolute-mode
    literals of >=3 with word padding, EOL after every row, EOB at the
    end. r13 late tiers: ``rle4`` (BI_RLE4 — ≤16-color palette, nibble
    runs with alternating high/low pixels, nibble-packed absolute mode),
    ``bitfields565`` (16-bit BI_BITFIELDS with the 5/6/5 masks in the
    12 bytes after the info header; RGB input truncates to the field
    widths), ``rgb32`` (32-bit BI_RGB — BGRX quads, no row pad), and
    ``bit1`` (r14: 1-bit palette — MSB-first bit-packed rows, <=2
    palette entries). ``header_version`` (r14) picks the info header:
    40 (BITMAPINFOHEADER), 108 (V4 — channel masks move INSIDE the
    header at offset 40, CSType 'sRGB', zeroed endpoints/gammas) or
    124 (V5 — adds intent and a zero profile)."""
    import struct

    if rle8 and (palette is None or top_down):
        raise ValueError("bmp: RLE8 needs a bottom-up palette image")
    if rle4 and (palette is None or top_down or len(palette) > 16 * 3):
        raise ValueError("bmp: RLE4 needs a bottom-up <=16-color palette")
    if bit1 and (palette is None or len(palette) > 2 * 3 or rle8 or rle4):
        raise ValueError("bmp: 1-bit needs a <=2-color palette, no RLE")
    if (bitfields565 or rgb32) and palette is not None:
        raise ValueError("bmp: bitfields/rgb32 are true-color tiers")

    mask_blob = b""
    if bitfields565:
        bitcount, pal_blob, n_colors = 16, b"", 0
        mask_blob = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
        if len(raster) != width * height * 3:
            raise ValueError("bmp: raster length mismatch")
    elif rgb32:
        bitcount, pal_blob, n_colors = 32, b"", 0
        if len(raster) != width * height * 3:
            raise ValueError("bmp: raster length mismatch")
    elif palette is None:
        bitcount, pal_blob, n_colors = 24, b"", 0
        if len(raster) != width * height * 3:
            raise ValueError("bmp: raster length mismatch")
    else:
        if len(palette) % 3 != 0 or len(palette) > 256 * 3:
            raise ValueError("bmp: palette must be <=256 RGB triples")
        n_colors = len(palette) // 3
        # palette entries are BGRX quads on disk
        pal_blob = b"".join(
            bytes((palette[3 * k + 2], palette[3 * k + 1], palette[3 * k], 0))
            for k in range(n_colors)
        )
        bitcount = 1 if bit1 else 4 if rle4 else 8
        if len(raster) != width * height:
            raise ValueError("bmp: index raster length mismatch")
        if raster and max(raster) >= n_colors:
            raise ValueError("bmp: index out of palette range")
    row_bytes = {24: width * 3, 16: width * 2, 32: width * 4,
                 8: width, 4: (width + 1) // 2,
                 1: (width + 7) // 8}[bitcount]
    pad = (-row_bytes) % 4
    rows = []
    order = range(height) if top_down else range(height - 1, -1, -1)
    if rle8:
        out_rle = bytearray()
        for y in order:
            row = raster[y * width : (y + 1) * width]
            x = 0
            while x < width:
                run = 1
                while (
                    x + run < width and run < 255 and row[x + run] == row[x]
                ):
                    run += 1
                if run >= 2:
                    out_rle += bytes((run, row[x]))
                    x += run
                    continue
                # literal stretch: collect until the next >=3-run
                lit = x
                while lit < width and (width - lit) >= 1:
                    nr = 1
                    while (
                        lit + nr < width and nr < 3 and row[lit + nr] == row[lit]
                    ):
                        nr += 1
                    if nr >= 3 or lit - x == 255:
                        break
                    lit += 1
                n = lit - x
                if n >= 3:
                    out_rle += bytes((0, n)) + row[x:lit]
                    if n % 2:
                        out_rle += b"\x00"  # absolute runs pad to words
                else:
                    for k in range(n):
                        out_rle += bytes((1, row[x + k]))
                x = lit
            out_rle += b"\x00\x00"  # EOL
        out_rle[-2:] = b"\x00\x01"  # final EOL becomes EOB
        pixel_data = bytes(out_rle)
    elif rle4:
        # BI_RLE4: run records paint n pixels ALTERNATING the two
        # nibbles of v (a solid run repeats one nibble); absolute mode
        # packs literal pixels two per byte, word-padded
        out_rle = bytearray()
        for y in order:
            row = raster[y * width : (y + 1) * width]
            x = 0
            while x < width:
                run = 1
                while (
                    x + run < width and run < 255 and row[x + run] == row[x]
                ):
                    run += 1
                if run >= 2:
                    out_rle += bytes((run, (row[x] << 4) | row[x]))
                    x += run
                    continue
                lit = x
                while lit < width:
                    nr = 1
                    while (
                        lit + nr < width and nr < 3 and row[lit + nr] == row[lit]
                    ):
                        nr += 1
                    if nr >= 3 or lit - x == 254:
                        break
                    lit += 1
                n = lit - x
                if n >= 3:
                    out_rle += bytes((0, n))
                    nibs = row[x:lit] + b"\x00"  # even-length pad nibble
                    packed = bytes(
                        (nibs[2 * k] << 4) | nibs[2 * k + 1]
                        for k in range((n + 1) // 2)
                    )
                    out_rle += packed + (b"\x00" * (len(packed) % 2))
                else:
                    for k in range(n):
                        out_rle += bytes((1, row[x + k] << 4))
                x = lit
            out_rle += b"\x00\x00"  # EOL
        out_rle[-2:] = b"\x00\x01"  # final EOL becomes EOB
        pixel_data = bytes(out_rle)
    else:
        for y in order:
            if bitcount == 24:
                src = raster[y * width * 3 : (y + 1) * width * 3]
                # RGB → BGR per pixel
                row = bytes(
                    b
                    for x in range(width)
                    for b in (src[3 * x + 2], src[3 * x + 1], src[3 * x])
                )
            elif bitcount == 32:
                src = raster[y * width * 3 : (y + 1) * width * 3]
                row = bytes(
                    b
                    for x in range(width)
                    for b in (src[3 * x + 2], src[3 * x + 1], src[3 * x], 0)
                )
            elif bitcount == 16:
                src = raster[y * width * 3 : (y + 1) * width * 3]
                words = bytearray()
                for x in range(width):
                    v = (
                        ((src[3 * x] >> 3) << 11)
                        | ((src[3 * x + 1] >> 2) << 5)
                        | (src[3 * x + 2] >> 3)
                    )
                    words += v.to_bytes(2, "little")
                row = bytes(words)
            elif bitcount == 1:  # bit-packed indices, MSB first
                src = raster[y * width : (y + 1) * width]
                packed = bytearray((width + 7) // 8)
                for x in range(width):
                    if src[x]:
                        packed[x // 8] |= 0x80 >> (x % 8)
                row = bytes(packed)
            else:  # 8-bit indices
                row = raster[y * width : (y + 1) * width]
            rows.append(row + b"\x00" * pad)
        pixel_data = b"".join(rows)
    if header_version not in (40, 108, 124):
        raise ValueError(f"bmp: unsupported header version {header_version}")
    ext_blob = b""
    if header_version >= 108:
        # V4/V5: the four channel masks live INSIDE the header (offset
        # 40), so the separate BITFIELDS mask blob disappears; CSType
        # 'sRGB' declares the identity color space (no transform).
        masks4 = (
            struct.unpack("<III", mask_blob) + (0,)
            if mask_blob
            else (0, 0, 0, 0)
        )
        ext_blob = struct.pack("<IIII", *masks4)
        ext_blob += struct.pack("<I", 0x73524742)  # 'sRGB' (big-endian tag)
        ext_blob += bytes(36)  # CIEXYZTRIPLE endpoints (ignored for sRGB)
        ext_blob += struct.pack("<III", 0, 0, 0)  # gammas
        if header_version == 124:
            # intent LCS_GM_GRAPHICS(2), no profile data, reserved
            ext_blob += struct.pack("<IIII", 2, 0, 0, 0)
        mask_blob = b""
    data_offset = 14 + header_version + len(mask_blob) + len(pal_blob)
    info = struct.pack(
        "<IiiHHIIiiII",
        header_version,
        width,
        -height if top_down else height,
        1,
        bitcount,
        # BI_RGB / BI_RLE8 / BI_RLE4 / BI_BITFIELDS
        1 if rle8 else 2 if rle4 else 3 if bitfields565 else 0,
        len(pixel_data),
        2835,
        2835,
        n_colors,
        0,
    )
    file_header = struct.pack(
        "<2sIHHI", b"BM", data_offset + len(pixel_data), 0, 0, data_offset
    )
    return file_header + info + ext_blob + mask_blob + pal_blob + pixel_data


def parse_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """BMP → (width, height, raw RGB raster), parse_png's interface.

    Accepts a 40-byte BITMAPINFOHEADER with: 24-bit BI_RGB, 32-bit
    BI_RGB (BGRX — the padding byte is ignored per spec), 16-bit BI_RGB
    (the spec's DEFAULT 5-5-5 masks), 16/32-bit BI_BITFIELDS with
    arbitrary contiguous non-overlapping masks (each field scales to
    8-bit by the floor ratio ``v*255 // field_max`` — r13 late, the
    BITFIELDS quarantine closed), 1/4/8-bit palette (1-bit rows are
    MSB-first bit-packed — r14, the last palette tier), both row
    orders, and BI_RLE8 + BI_RLE4 compression (encoded runs — RLE4
    runs alternate the two nibbles of the value byte — absolute mode
    with word padding, EOL/EOB escapes, delta moves; skipped pixels
    keep palette entry 0, the conventional background), under 40-byte
    BITMAPINFOHEADER or V4/V5 headers with identity color spaces
    (sRGB/'Win '/0 — r14; an embedded ICC profile implies a transform
    and quarantines). Everything else — RLE on top-down images,
    overlapping or
    non-contiguous masks, and every malformed-structure case
    (truncation, raster overflow, cursor escape, out-of-range palette
    index) — raises ``ValueError`` so one bad blob quarantines instead
    of killing the Arrow task."""
    import struct

    buf = bytes(payload or b"")
    if len(buf) < 54 or buf[:2] != b"BM":
        raise ValueError("bmp: not a BM file")
    data_offset = struct.unpack_from("<I", buf, 10)[0]
    hdr_size = struct.unpack_from("<I", buf, 14)[0]
    if hdr_size not in (40, 108, 124):
        raise ValueError(f"bmp: unsupported header size {hdr_size}")
    if hdr_size >= 108:
        # V4/V5 (r14): the extra fields add color-space METADATA, not a
        # pixel layout. Identity color spaces decode as-is; an embedded
        # ICC profile ('MBED'/'LINK') implies a transform this decoder
        # does not apply — quarantine rather than emit wrong colors.
        if len(buf) < 14 + hdr_size:
            raise ValueError("bmp: truncated V4/V5 header")
        cstype = struct.unpack_from("<I", buf, 14 + 56)[0]
        if cstype not in (0, 0x73524742, 0x57696E20):  # 0 / sRGB / Win
            raise ValueError(f"bmp: unsupported color space {cstype:#x}")
    if data_offset < 14 + hdr_size:
        # an offset pointing back into the headers would silently decode
        # header bytes as pixels — quarantine, don't guess
        raise ValueError("bmp: pixel offset overlaps headers")
    w, h_raw, planes, bitcount, compression = struct.unpack_from(
        "<iiHHI", buf, 18
    )
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if planes != 1:
        raise ValueError("bmp: planes must be 1")
    if compression not in (0, 1, 2, 3):
        raise ValueError(f"bmp: unsupported compression {compression}")
    if compression == 1 and (bitcount != 8 or top_down):
        raise ValueError("bmp: RLE8 requires 8-bit bottom-up")
    if compression == 2 and (bitcount != 4 or top_down):
        raise ValueError("bmp: RLE4 requires 4-bit bottom-up")
    if compression == 3 and bitcount not in (16, 32):
        raise ValueError("bmp: BITFIELDS requires 16/32-bit")
    if bitcount not in (1, 4, 8, 16, 24, 32):
        raise ValueError(f"bmp: unsupported bit depth {bitcount}")
    if w <= 0 or h <= 0 or w > 1 << 20 or h > 1 << 20 or w * h > 1 << 26:
        raise ValueError("bmp: unreasonable dimensions")
    n_colors = struct.unpack_from("<I", buf, 46)[0]
    masks = None
    if compression == 3:
        # the three RGB masks sit at byte 54 for BOTH layouts: a 40-byte
        # header is followed by the 12-byte BITFIELDS blob, V4/V5 embed
        # the mask fields at header offset 40 (= file offset 54)
        if len(buf) < 54 + 12:
            raise ValueError("bmp: truncated BITFIELDS masks")
        masks = struct.unpack_from("<III", buf, 54)
    elif bitcount == 16:
        masks = (0x7C00, 0x03E0, 0x001F)  # BI_RGB 16-bit default 5-5-5
    elif bitcount == 32:
        masks = (0x00FF0000, 0x0000FF00, 0x000000FF)  # BGRX
    if masks is not None:
        limit = (1 << bitcount) - 1
        shifts, maxes = [], []
        union = 0
        for m in masks:
            if m == 0 or m > limit:
                raise ValueError("bmp: invalid channel mask")
            if union & m:
                raise ValueError("bmp: overlapping channel masks")
            union |= m
            sh = (m & -m).bit_length() - 1
            mx = m >> sh
            if mx & (mx + 1):
                raise ValueError("bmp: non-contiguous channel mask")
            shifts.append(sh)
            maxes.append(mx)
    if bitcount in (1, 4, 8):
        if n_colors == 0:
            n_colors = 1 << bitcount
        if n_colors > (1 << bitcount):
            raise ValueError("bmp: palette larger than the index space")
        pal_off = 14 + hdr_size
        pal_end = pal_off + 4 * n_colors
        if pal_end > len(buf) or pal_end > data_offset:
            raise ValueError("bmp: truncated palette")
        quads = np.frombuffer(buf[pal_off:pal_end], dtype=np.uint8).reshape(
            -1, 4
        )
        pal_rgb = quads[:, [2, 1, 0]]  # BGRX → RGB
    row_bytes = {1: (w + 7) // 8, 4: (w + 1) // 2, 8: w, 16: w * 2,
                 24: w * 3, 32: w * 4}[bitcount]
    if compression in (1, 2):
        # BI_RLE cursor walk: (x, y) in BOTTOM-UP coordinates; the
        # canvas defaults to palette entry 0 (delta-skipped pixels)
        idx_arr = np.zeros((h, w), dtype=np.uint8)
        i = data_offset
        x = y = 0
        while True:
            if i + 2 > len(buf):
                raise ValueError("bmp: truncated RLE data")
            n, v = buf[i], buf[i + 1]
            i += 2
            if n:
                if y >= h or x + n > w:
                    raise ValueError("bmp: RLE run escapes the raster")
                if compression == 1:
                    idx_arr[y, x : x + n] = v
                else:
                    # RLE4 runs alternate the byte's two nibbles
                    pair = np.array([v >> 4, v & 0x0F], dtype=np.uint8)
                    idx_arr[y, x : x + n] = np.tile(pair, (n + 1) // 2)[:n]
                x += n
            elif v == 0:  # EOL
                x, y = 0, y + 1
            elif v == 1:  # EOB
                break
            elif v == 2:  # delta
                if i + 2 > len(buf):
                    raise ValueError("bmp: truncated RLE delta")
                x += buf[i]
                y += buf[i + 1]
                i += 2
                if x > w or y > h:
                    raise ValueError("bmp: RLE delta escapes the raster")
            else:  # absolute mode: v literal indices, word-padded
                used = v if compression == 1 else (v + 1) // 2
                if i + used > len(buf):
                    raise ValueError("bmp: truncated RLE absolute run")
                if y >= h or x + v > w:
                    raise ValueError("bmp: RLE run escapes the raster")
                if compression == 1:
                    idx_arr[y, x : x + v] = np.frombuffer(
                        buf[i : i + v], dtype=np.uint8
                    )
                else:
                    packed = np.frombuffer(buf[i : i + used], dtype=np.uint8)
                    nibs = np.empty(used * 2, dtype=np.uint8)
                    nibs[0::2] = packed >> 4
                    nibs[1::2] = packed & 0x0F
                    idx_arr[y, x : x + v] = nibs[:v]
                x += v
                i += used + (used % 2)
        rows = idx_arr[::-1]  # bottom-up rows → image order
        idx = rows.reshape(h, w)
    else:
        stride = row_bytes + ((-row_bytes) % 4)
        need = data_offset + stride * h
        if need > len(buf):
            raise ValueError("bmp: truncated pixel data")
        rows = np.frombuffer(
            buf[data_offset : data_offset + stride * h], dtype=np.uint8
        ).reshape(h, stride)[:, :row_bytes]
        if not top_down:
            rows = rows[::-1]
        if bitcount == 1:
            idx = np.unpackbits(rows.reshape(h, row_bytes), axis=1)[:, :w]
        elif bitcount == 4:
            packed = rows.reshape(h, row_bytes)
            nibs = np.empty((h, row_bytes * 2), dtype=np.uint8)
            nibs[:, 0::2] = packed >> 4
            nibs[:, 1::2] = packed & 0x0F
            idx = nibs[:, :w]
        elif bitcount == 8:
            idx = rows.reshape(h, w)
    if bitcount in (1, 4, 8):
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("bmp: palette index out of range")
        rgb = pal_rgb[idx]
    elif bitcount == 24:
        rgb = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    else:
        # uint64: a full-width contiguous mask times the 255 scale
        # factor overflows uint32
        words = rows.reshape(h, w, bitcount // 8).astype(np.uint64)
        if bitcount == 16:
            vals = words[:, :, 0] | (words[:, :, 1] << 8)
        else:
            vals = (
                words[:, :, 0]
                | (words[:, :, 1] << 8)
                | (words[:, :, 2] << 16)
                | (words[:, :, 3] << 24)
            )
        chans = [
            (((vals >> sh) & mx) * 255 // mx).astype(np.uint8)
            for sh, mx in zip(shifts, maxes)
        ]
        rgb = np.stack(chans, axis=-1)
    return w, h, np.ascontiguousarray(rgb).tobytes()


def _packbits_encode(row: bytes) -> bytes:
    """PackBits-compress one row (TIFF spec: compression restarts at
    every row boundary, so callers pack row-by-row). Any run of >= 2
    identical bytes becomes a repeat record; everything else is a
    literal record of <= 128 bytes."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out.append((257 - run) & 0xFF)
            out.append(row[i])
            i += run
        else:
            j = i + 1
            while (
                j < n
                and j - i < 128
                and not (j + 1 < n and row[j] == row[j + 1])
            ):
                j += 1
            out.append(j - i - 1)
            out.extend(row[i:j])
            i = j
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits-decompress ``data`` into exactly ``expected`` bytes;
    anything structurally off (truncated record, over/under-run) raises
    ``ValueError`` so the payload quarantines."""
    out = bytearray()
    i, n = 0, len(data)
    while len(out) < expected:
        if i >= n:
            raise ValueError("tiff: truncated packbits stream")
        ctl = data[i]
        i += 1
        if ctl < 128:
            end = i + ctl + 1
            if end > n:
                raise ValueError("tiff: truncated packbits literal")
            out += data[i:end]
            i = end
        elif ctl == 128:
            continue  # spec: no-op
        else:
            if i >= n:
                raise ValueError("tiff: truncated packbits repeat")
            out += bytes((data[i],)) * (257 - ctl)
            i += 1
    if len(out) != expected:
        raise ValueError("tiff: packbits output overruns strip size")
    return bytes(out)


def _lzw_compress_tiff(data: bytes) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §13) — the GIF coder's close cousin
    with three deltas: codes pack MSB-FIRST into the byte stream, the
    root width is fixed (ClearCode=256, EOI=257, first entry 258,
    initial width 9), and the notorious "EarlyChange" off-by-one: the
    encoder widens when the NEXT code to assign is 2^w - 1 (one code
    early), so the decoder widens at 2^w - 2. One stream per strip."""
    CLEAR, EOI = 256, 257
    width = 9
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(CLEAR)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # EarlyChange: widen when the next assignable code equals
        # 2^width - 1 (the spec reserves the top slot a code early)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code >= 4094:
            # table nearly full (early change reserves the 12-bit top
            # slot): reset; the pending char survives as the new prefix
            # (single bytes are in every fresh table). The decoder skips
            # its lagging insert on CLEAR — that entry was never emitted.
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([ch])
    if w:
        emit(table[w])
        # mirror of the GIF tail-emit width sync: the decoder inserts an
        # entry while processing this code — if that insert lands on its
        # 2^width - 2 boundary it reads EOI one bit wider
        if next_code + 1 == (1 << width) - 1 and width < 12:
            width += 1
    emit(EOI)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _lzw_decompress_tiff(data: bytes, expected: int) -> bytes:
    """Inverse of ``_lzw_compress_tiff`` into exactly ``expected`` bytes
    (the strip size bounds the quadratic LZW expansion, same defense as
    the GIF decoder); structural violations raise ValueError."""
    CLEAR, EOI = 256, 257
    width = 9
    table: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    next_code = 258

    out = bytearray()
    bitpos = 0
    total = len(data) * 8
    prev: bytes | None = None
    while True:
        if bitpos + width > total:
            raise ValueError("tiff: truncated LZW stream")
        code = 0
        for k in range(width):
            code = (code << 1) | (
                data[(bitpos + k) >> 3] >> (7 - ((bitpos + k) & 7)) & 1
            )
        bitpos += width
        if code == CLEAR:
            table = {i: bytes([i]) for i in range(256)}
            next_code = 258
            width = 9
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise ValueError("tiff: first LZW code not a literal")
        elif code < next_code:
            entry = table[code] if code in table else None
            if entry is None:
                raise ValueError("tiff: LZW code references empty slot")
            table[next_code] = prev + entry[:1]
            next_code += 1
            # decoder lags the encoder by one insert, so its EarlyChange
            # boundary is 2^w - 2 where the encoder's is 2^w - 1
            if next_code == (1 << width) - 2 and width < 12:
                width += 1
        elif code == next_code:
            entry = prev + prev[:1]
            table[next_code] = entry
            next_code += 1
            if next_code == (1 << width) - 2 and width < 12:
                width += 1
        else:
            raise ValueError("tiff: LZW code beyond table")
        out += entry
        prev = entry
        if len(out) > expected:
            raise ValueError("tiff: LZW stream overruns strip size")
    if len(out) != expected:
        raise ValueError("tiff: LZW strip size mismatch")
    return bytes(out)


def _predictor2_apply(strip: bytes, row_bytes: int, spp: int, encode: bool) -> bytes:
    """TIFF Predictor 2 (horizontal differencing, tag 317): each sample
    stores the mod-256 delta to the previous sample of the SAME channel
    in the row. uint8 numpy arithmetic wraps natively, so encode is a
    per-row channel-strided diff and decode a cumulative sum — exact
    integer both ways."""
    rows = len(strip) // row_bytes
    a = np.frombuffer(strip, dtype=np.uint8).reshape(rows, row_bytes // spp, spp)
    if encode:
        out = a.copy()
        out[:, 1:, :] -= a[:, :-1, :]  # uint8 wraparound == mod-256 delta
    else:
        out = np.add.accumulate(a, axis=1, dtype=np.uint8)
    return np.ascontiguousarray(out).tobytes()


def encode_tiff(
    width: int,
    height: int,
    raster: bytes,
    gray: bool = False,
    compression: str = "none",
    big_endian: bool = False,
    rows_per_strip: int | None = None,
    predictor: int = 1,
    tile: tuple[int, int] | None = None,
    palette: bytes | None = None,
    planar: bool = False,
) -> bytes:
    """Minimal baseline-TIFF writer — the fixture side of the codec
    pair, exactly like encode_png. ``raster`` is RGB bytes (24-bit,
    ``gray=False``), 8-bit grayscale samples, or — with ``palette``
    (768 RGB8 bytes, the PNG-PLTE convention) — 8-bit palette INDICES
    (photometric 3; the ColorMap tag carries the spec's 16-bit
    component-major values, written as ``v * 257`` so an 8-bit read
    via ``>> 8`` roundtrips exactly); strips of
    ``rows_per_strip`` rows (default: one strip), optionally
    PackBits- (row-by-row), LZW-, or Deflate-compressed (per strip),
    either byte order (II/MM), optionally horizontally-differenced
    (``predictor=2``, tag 317). The IFD is written after the strip data
    with spec-ordered ascending tags; BitsPerSample, ColorMap, and
    multi-strip offset/count arrays go to an external value area when
    they outgrow the 4-byte inline field; the value area and IFD are
    padded to even offsets (TIFF requires word alignment — r10
    ADVICE)."""
    import struct
    import zlib

    e = ">" if big_endian else "<"
    if palette is not None:
        if gray:
            raise ValueError("tiff: palette and gray are exclusive")
        if len(palette) != 256 * 3:
            raise ValueError("tiff: palette must be 256 RGB entries")
    spp = 1 if (gray or palette is not None) else 3
    row_bytes = width * spp
    if len(raster) != row_bytes * height:
        raise ValueError("tiff: raster length mismatch")
    if compression not in ("none", "packbits", "lzw", "deflate", "jpeg"):
        raise ValueError(f"tiff: unsupported encoder compression {compression}")
    if predictor not in (1, 2):
        raise ValueError(f"tiff: unsupported predictor {predictor}")
    if planar and spp != 3:
        raise ValueError("tiff: planar needs RGB")
    if compression == "jpeg" and (
        not gray or planar or tile is not None or predictor != 1
    ):
        # r13 late: new-style JPEG-in-TIFF — grayscale strip tier only
        # (each strip is a COMPLETE baseline JPEG stream)
        raise ValueError("tiff: jpeg compression is a grayscale strip tier")
    rps = rows_per_strip or height
    # dimension tags are written as SHORT — reject what they can't hold
    # instead of letting struct.pack explode (r10 ADVICE)
    if max(width, height, rps) > 0xFFFF:
        raise ValueError("tiff: dimensions exceed SHORT tag range")
    if tile is not None:
        tw, th = tile
        # the spec requires tile dimensions to be multiples of 16
        if tw <= 0 or th <= 0 or tw % 16 or th % 16 or max(tw, th) > 0xFFFF:
            raise ValueError("tiff: tile dims must be positive multiples of 16")

    def pack_chunk(chunk: bytes, chunk_row_bytes: int, chunk_spp: int = spp) -> bytes:
        if predictor == 2:
            chunk = _predictor2_apply(chunk, chunk_row_bytes, chunk_spp, encode=True)
        if compression == "packbits":
            return b"".join(
                _packbits_encode(chunk[r * chunk_row_bytes : (r + 1) * chunk_row_bytes])
                for r in range(len(chunk) // chunk_row_bytes)
            )
        if compression == "lzw":
            return _lzw_compress_tiff(chunk)
        if compression == "deflate":
            return zlib.compress(chunk)
        return chunk

    strips: list[bytes] = []
    if tile is not None and planar:
        # r13 late: planar TILED — the tile tables carry 3x the tiles
        # plane-major (all of plane 0's row-major grid, then 1, then 2);
        # each tile is single-channel, so the predictor runs with spp=1
        img = np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)
        for c in range(3):
            plane = np.ascontiguousarray(img[:, :, c])
            for y0 in range(0, height, th):
                for x0 in range(0, width, tw):
                    pad = np.zeros((th, tw), dtype=np.uint8)
                    ys = min(th, height - y0)
                    xs = min(tw, width - x0)
                    pad[:ys, :xs] = plane[y0 : y0 + ys, x0 : x0 + xs]
                    strips.append(pack_chunk(pad.tobytes(), tw, 1))
    elif tile is not None:
        # tile grid, row-major; edge tiles are PADDED to the full tile
        # size (zero fill) per the spec — every tile compresses to the
        # same decoded geometry
        img = np.frombuffer(raster, dtype=np.uint8).reshape(height, width * spp)
        for y0 in range(0, height, th):
            for x0 in range(0, width, tw):
                pad = np.zeros((th, tw * spp), dtype=np.uint8)
                ys = min(th, height - y0)
                xs = min(tw, width - x0) * spp
                pad[:ys, :xs] = img[y0 : y0 + ys, x0 * spp : x0 * spp + xs]
                strips.append(pack_chunk(pad.tobytes(), tw * spp))
    elif compression == "jpeg":
        # each strip is a COMPLETE grayscale baseline JPEG (no shared
        # JPEGTables tag — self-contained streams per the new-style
        # compression-7 convention)
        for y0 in range(0, height, rps):
            rows = min(rps, height - y0)
            strips.append(
                encode_jpeg(
                    width, rows,
                    raster[y0 * row_bytes : (y0 + rows) * row_bytes],
                    ncomp=1,
                )
            )
    elif planar:
        # PlanarConfiguration=2: the strip tables carry spp x
        # strips-per-plane entries — ALL of channel 0's strips, then
        # channel 1's, then channel 2's; each strip holds single-channel
        # rows, and the predictor differences within the plane (spp=1)
        img = np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)
        for c in range(3):
            plane = np.ascontiguousarray(img[:, :, c])
            for y0 in range(0, height, rps):
                strips.append(
                    pack_chunk(
                        plane[y0 : min(y0 + rps, height)].tobytes(),
                        width,
                        1,
                    )
                )
    else:
        for y0 in range(0, height, rps):
            strips.append(
                pack_chunk(
                    raster[y0 * row_bytes : min(y0 + rps, height) * row_bytes],
                    row_bytes,
                )
            )
    pos = 8
    strip_offsets: list[int] = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    # pad the strip region to an even length: TIFF requires word-aligned
    # value offsets and IFD (r10 ADVICE — a 3-byte packbits strip used
    # to put the IFD at an odd offset)
    pad = b"\x00" if pos % 2 else b""
    pos += len(pad)
    ext = bytearray()
    ext_base = pos  # external value area sits between strips and the IFD

    def ext_put(fmt: str, values: tuple[int, ...]) -> int:
        off = ext_base + len(ext)
        ext.extend(struct.pack(e + fmt * len(values), *values))
        return off

    SHORT, LONG = 3, 4

    def entry(tag: int, typ: int, values: tuple[int, ...]) -> bytes:
        count = len(values)
        fmt = "H" if typ == SHORT else "I"
        size = (2 if typ == SHORT else 4) * count
        if size <= 4:
            inline = struct.pack(e + fmt * count, *values)
            inline += b"\x00" * (4 - len(inline))
            tail = inline
        else:
            tail = struct.pack(e + "I", ext_put(fmt, values))
        return struct.pack(e + "HHI", tag, typ, count) + tail

    comp_tag = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8,
                "jpeg": 7}[compression]
    photometric = 3 if palette is not None else (1 if gray else 2)
    entries = [
        entry(256, SHORT, (width,)),
        entry(257, SHORT, (height,)),
        entry(258, SHORT, (8,) * spp),
        entry(259, SHORT, (comp_tag,)),
        entry(262, SHORT, (photometric,)),
    ]
    if tile is None:
        entries.append(entry(273, LONG, tuple(strip_offsets)))
    entries.append(entry(277, SHORT, (spp,)))
    if tile is None:
        entries.append(entry(278, SHORT, (rps,)))
    entries.append(entry(279 if tile is None else 325, LONG,
                         tuple(len(s) for s in strips)))
    entries.append(entry(284, SHORT, (2 if planar else 1,)))
    if predictor == 2:
        entries.append(entry(317, SHORT, (2,)))
    if palette is not None:
        # ColorMap (tag 320): 3·256 SHORTs, component-major (all R,
        # then G, then B), scaled v*257 for an exact 8-bit roundtrip.
        cmap = tuple(
            palette[j * 3 + comp] * 257
            for comp in range(3)
            for j in range(256)
        )
        entries.append(entry(320, SHORT, cmap))
    if tile is not None:
        entries.extend(
            [
                entry(322, SHORT, (tile[0],)),
                entry(323, SHORT, (tile[1],)),
                entry(324, LONG, tuple(strip_offsets)),
            ]
        )
        entries.sort(key=lambda e: int.from_bytes(e[:2], "big" if big_endian else "little"))
    ifd_off = ext_base + len(ext)
    ifd = (
        struct.pack(e + "H", len(entries))
        + b"".join(entries)
        + struct.pack(e + "I", 0)
    )
    header = struct.pack(e + "2sHI", b"MM" if big_endian else b"II", 42, ifd_off)
    return header + b"".join(strips) + pad + bytes(ext) + ifd


_TIFF_TILE_TAGS = frozenset({322, 323, 324, 325})


def parse_tiff(payload: bytes) -> tuple[int, int, bytes]:
    """TIFF → (width, height, raw RGB raster), parse_png's interface.

    Accepts the dependency-free tiers (r9 VERDICT item 4; LZW and
    Deflate joined in r11 — LZW is a table decoder like the GIF one,
    MSB-first with TIFF's EarlyChange; Deflate is the PNG machinery's
    stdlib zlib): 8-bit grayscale and 24-bit chunky RGB, strip layout,
    uncompressed (Compression=1), PackBits (32773), LZW (5), or
    Deflate (8 / legacy 32946), horizontal-differencing predictor
    (tag 317 = 2), either byte order, multi-strip, the TILED
    layout (r11: row-major 16-multiple tile grid, padded edge tiles
    clipped on placement; strip and tile tables are mutually
    exclusive), and 8-bit PALETTE color (r12: photometric 3 with the
    3x256 16-bit ColorMap mapped to RGB8 via >> 8 — the PNG-PLTE
    analogue), PLANAR configuration 2 for RGB in BOTH layouts (r13:
    plane-major strip tables with per-plane predictor differencing;
    r13 late adds the planar TILED grid — 3x the tiles plane-major,
    single-channel tiles), and new-style JPEG-in-TIFF (compression 7,
    r13 late: each strip a COMPLETE grayscale baseline-JPEG stream
    decoded by this engine's own parse_jpeg; color/tiled/planar JPEG
    variants quarantine). Everything else — old-style compression 6,
    non-8-bit depths, non-default orientation, the floating-point
    predictor 3, and every malformed-structure case (truncated IFD,
    strip/tile overflow, packbits/LZW/zlib over/under-run, JPEG strip
    geometry mismatch) — raises ``ValueError`` so one bad blob
    quarantines instead of killing the Arrow task."""
    import struct

    buf = bytes(payload or b"")
    if len(buf) < 8:
        raise ValueError("tiff: too short")
    if buf[:2] == b"II":
        e = "<"
    elif buf[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("tiff: bad byte-order mark")
    magic, ifd_off = struct.unpack_from(e + "HI", buf, 2)
    if magic != 42:
        raise ValueError("tiff: bad magic")
    if ifd_off + 2 > len(buf):
        raise ValueError("tiff: IFD offset out of range")
    (n_entries,) = struct.unpack_from(e + "H", buf, ifd_off)
    if ifd_off + 2 + 12 * n_entries + 4 > len(buf):
        raise ValueError("tiff: truncated IFD")
    type_size = {1: 1, 3: 2, 4: 4}
    tags: dict[int, tuple[int, ...]] = {}
    for k in range(n_entries):
        off = ifd_off + 2 + 12 * k
        tag, typ, count = struct.unpack_from(e + "HHI", buf, off)
        if typ not in type_size:
            continue  # rational/ascii metadata tags are irrelevant here
        size = type_size[typ] * count
        if count > 1 << 20:
            raise ValueError("tiff: unreasonable tag count")
        if size <= 4:
            src = off + 8
        else:
            (src,) = struct.unpack_from(e + "I", buf, off + 8)
            if src + size > len(buf):
                raise ValueError("tiff: tag value out of range")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = struct.unpack_from(e + fmt * count, buf, src)

    def one(tag: int, default: int | None = None) -> int:
        vals = tags.get(tag)
        if vals is None:
            if default is None:
                raise ValueError(f"tiff: missing required tag {tag}")
            return default
        if len(vals) != 1:
            raise ValueError(f"tiff: tag {tag} must be scalar")
        return vals[0]

    w, h = one(256), one(257)
    if w <= 0 or h <= 0 or w > 1 << 20 or h > 1 << 20 or w * h > 1 << 26:
        raise ValueError("tiff: unreasonable dimensions")
    compression = one(259, 1)
    if compression not in (1, 32773, 5, 8, 32946, 7):
        raise ValueError(f"tiff: unsupported compression {compression}")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise ValueError(f"tiff: unsupported predictor {predictor}")
    photometric = one(262)
    spp = one(277, 1)
    if (photometric, spp) not in ((1, 1), (2, 3), (3, 1)):
        raise ValueError(
            f"tiff: unsupported photometric/samples {photometric}/{spp}"
        )
    cmap = None
    if photometric == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) != 3 * 256:
            raise ValueError("tiff: palette image needs a 3x256 ColorMap")
    bits = tags.get(258, (8,) * spp)
    if len(bits) != spp or any(b != 8 for b in bits):
        raise ValueError(f"tiff: unsupported bit depths {bits}")
    planar = one(284, 1)
    if planar not in (1, 2):
        raise ValueError(f"tiff: unsupported planar configuration {planar}")
    if planar == 2 and (spp != 3 or photometric != 2):
        raise ValueError("tiff: planar supported for RGB only")
    if one(274, 1) != 1:
        raise ValueError("tiff: non-default orientation unsupported")
    tiled = any(tag in tags for tag in _TIFF_TILE_TAGS)
    if tiled and (273 in tags or 279 in tags):
        raise ValueError("tiff: both strip and tile tables present")
    if compression == 7 and (
        photometric != 1 or spp != 1 or planar != 1 or tiled
        or predictor != 1
    ):
        # r13 late: new-style JPEG-in-TIFF, grayscale strip tier —
        # color/tiled/planar JPEG variants stay honest quarantines
        raise ValueError("tiff: jpeg compression supported for "
                         "grayscale strips only")

    def unpack_chunk(so: int, sc: int, expected: int, chunk_row_bytes: int) -> bytes:
        if so + sc > len(buf):
            raise ValueError("tiff: chunk out of range")
        raw = buf[so : so + sc]
        if compression == 7:
            # each strip is a complete grayscale baseline-JPEG stream
            jw, jh, rgb = parse_jpeg(raw)
            if jw != chunk_row_bytes or jw * jh != expected:
                raise ValueError("tiff: jpeg strip geometry mismatch")
            arr = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
            if not (
                np.array_equal(arr[:, 0], arr[:, 1])
                and np.array_equal(arr[:, 1], arr[:, 2])
            ):
                raise ValueError("tiff: color jpeg strip in a gray image")
            return arr[:, 0].tobytes()
        if compression == 1:
            if len(raw) != expected:
                raise ValueError("tiff: strip size mismatch")
            part = raw
        elif compression == 32773:
            part = _packbits_decode(raw, expected)
        elif compression == 5:
            part = _lzw_decompress_tiff(raw, expected)
        else:  # 8 / 32946: zip-in-TIFF, one zlib stream per chunk
            import zlib

            try:
                # bounded inflate (r13 late, the PNG-bomb fix): cap the
                # output at the strip geometry +1 so an oversize stream
                # is detected without materializing it
                d = zlib.decompressobj()
                part = d.decompress(raw, expected + 1)
            except zlib.error as exc:
                raise ValueError(f"tiff: bad deflate strip ({exc})") from None
            if len(part) != expected or not d.eof:
                raise ValueError("tiff: deflate strip size mismatch")
        if predictor == 2:
            part = _predictor2_apply(
                part, chunk_row_bytes, 1 if planar == 2 else spp,
                encode=False,
            )
        return part

    row_bytes = w * spp
    if tiled:
        # r11: tile-grid layout — row-major full-size tiles, edge tiles
        # padded to (tw, th) in the file and CLIPPED on placement
        tw, th = one(322), one(323)
        if tw <= 0 or th <= 0 or tw % 16 or th % 16:
            raise ValueError("tiff: bad tile dimensions")
        offsets = tags.get(324)
        counts = tags.get(325)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("tiff: bad tile tables")
        across = (w + tw - 1) // tw
        down = (h + th - 1) // th
        if planar == 2:
            # r13 late: planar TILED — 3x the tiles plane-major, each
            # tile single-channel; predictor differences within the
            # plane (spp=1), planes interleave back to chunky
            if len(offsets) != 3 * across * down:
                raise ValueError("tiff: planar tile count mismatch")
            planes = []
            for c in range(3):
                pl = np.zeros((h, w), dtype=np.uint8)
                for k in range(across * down):
                    so = offsets[c * across * down + k]
                    sc = counts[c * across * down + k]
                    part = unpack_chunk(so, sc, tw * th, tw)
                    tarr = np.frombuffer(part, dtype=np.uint8).reshape(th, tw)
                    y0 = (k // across) * th
                    x0 = (k % across) * tw
                    ys = min(th, h - y0)
                    xs = min(tw, w - x0)
                    pl[y0 : y0 + ys, x0 : x0 + xs] = tarr[:ys, :xs]
                planes.append(pl)
            samples = np.stack(planes, axis=2).reshape(-1)
        else:
            if len(offsets) != across * down:
                raise ValueError("tiff: tile count does not cover image")
            out = np.zeros((h, w * spp), dtype=np.uint8)
            for k, (so, sc) in enumerate(zip(offsets, counts)):
                part = unpack_chunk(so, sc, tw * th * spp, tw * spp)
                tarr = np.frombuffer(part, dtype=np.uint8).reshape(th, tw * spp)
                y0 = (k // across) * th
                x0 = (k % across) * tw
                ys = min(th, h - y0)
                xs = min(tw, w - x0) * spp
                out[y0 : y0 + ys, x0 * spp : x0 * spp + xs] = tarr[:ys, :xs]
            samples = out.reshape(-1)
    else:
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("tiff: bad strip tables")
        rps = one(278, h)
        if rps <= 0:
            raise ValueError("tiff: bad rows-per-strip")
        strips_per_plane = (h + rps - 1) // rps
        if planar == 2:
            # spp x strips-per-plane entries, plane-major; each strip is
            # single-channel rows — decode the three planes and
            # interleave back to chunky RGB
            if len(offsets) != 3 * strips_per_plane:
                raise ValueError("tiff: planar strip count mismatch")
            planes = []
            for c in range(3):
                parts: list[bytes] = []
                rows_left = h
                for k in range(strips_per_plane):
                    so = offsets[c * strips_per_plane + k]
                    sc = counts[c * strips_per_plane + k]
                    strip_rows = min(rps, rows_left)
                    rows_left -= strip_rows
                    parts.append(unpack_chunk(so, sc, strip_rows * w, w))
                planes.append(
                    np.frombuffer(b"".join(parts), dtype=np.uint8).reshape(h, w)
                )
            samples = np.stack(planes, axis=2).reshape(-1)
        else:
            if len(offsets) != strips_per_plane:
                raise ValueError("tiff: strip count does not cover image")
            parts = []
            rows_left = h
            for so, sc in zip(offsets, counts):
                strip_rows = min(rps, rows_left)
                rows_left -= strip_rows
                parts.append(
                    unpack_chunk(so, sc, strip_rows * row_bytes, row_bytes)
                )
            samples = np.frombuffer(b"".join(parts), dtype=np.uint8)
    if cmap is not None:
        # ColorMap is 16-bit component-major; the 8-bit read is >> 8
        lut = (np.asarray(cmap, dtype=np.uint16).reshape(3, 256) >> 8).astype(
            np.uint8
        )
        idx = samples.reshape(h, w)
        rgb = np.stack([lut[0][idx], lut[1][idx], lut[2][idx]], axis=2)
    elif spp == 1:
        rgb = np.repeat(samples.reshape(h, w, 1), 3, axis=2)
    else:
        rgb = samples.reshape(h, w, 3)
    return w, h, np.ascontiguousarray(rgb).tobytes()


def encode_wav(sample_rate: int, channels: int, samples) -> bytes:
    """Minimal RIFF/WAVE writer (PCM, 16-bit LE) — the fixture side of
    the audio codec pair, exactly like encode_png. ``samples`` is the
    interleaved int16 frame stream (numpy array or any int iterable);
    its length must be a multiple of ``channels``."""
    import struct

    arr = np.asarray(list(samples) if not isinstance(samples, np.ndarray) else samples)
    if arr.size % channels:
        raise ValueError("sample count not a multiple of channels")
    if arr.size and (arr.max() > 32767 or arr.min() < -32768):
        raise ValueError("sample outside int16 range")
    pcm = arr.astype("<i2").tobytes()
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align,
        block_align, 16,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _build_ulaw_table() -> np.ndarray:
    """G.711 mu-law byte → int16 decode table (CCITT expansion: invert,
    split sign/exponent/mantissa, rebuild with the 0x84 bias). Anchors:
    0xFF → 0, 0x00 → −32124, 0x80 → +32124."""
    out = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        exp = (u >> 4) & 0x07
        mant = u & 0x0F
        mag = (((mant << 3) + 0x84) << exp) - 0x84
        out[b] = -mag if u & 0x80 else mag
    return out


_ULAW_TABLE = _build_ulaw_table()


def linear_to_ulaw(x: int) -> int:
    """int16 → G.711 mu-law byte (the fixture-side compressor; the
    standard segment encoder with bias 0x84 and clip 32635)."""
    sign = 0x80 if x < 0 else 0
    mag = min(-x if x < 0 else x, 32635) + 0x84
    exp = mag.bit_length() - 8
    mant = (mag >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


# IMA/DVI ADPCM (WAV format 17) tables — IMA "Recommended Practices for
# Enhancing Digital Audio Compatibility" (1992); the same tables every
# conforming decoder ships. 89 quantizer steps, 8 index deltas.
_IMA_STEP_TABLE: tuple[int, ...] = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_TABLE: tuple[int, ...] = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_adpcm_step(pred: int, idx: int, code: int) -> tuple[int, int]:
    """One IMA ADPCM expansion step — table-driven exact integers (the
    µ-law playbook): diff accumulates step>>3 plus the step halvings the
    three magnitude bits select, bit 3 is the sign; predictor clamps to
    int16, index to the 89-step table."""
    step = _IMA_STEP_TABLE[idx]
    diff = step >> 3
    if code & 1:
        diff += step >> 2
    if code & 2:
        diff += step >> 1
    if code & 4:
        diff += step
    pred = pred - diff if code & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX_TABLE[code & 7]))
    return pred, idx


def encode_wav_adpcm(
    sample_rate: int, pred0, index0, nibbles
) -> bytes:
    """RIFF/WAVE writer for IMA ADPCM (format 17, 4-bit), 1-8 CHANNELS
    (r13 late: the >2-channel quarantine closed — the spec's block
    layout is channel-count-generic) — the fixture side of the codec
    pair. One block: a 4-byte header PER CHANNEL carries that channel's
    initial predictor (which IS its output sample 0) and step index;
    the data region is 4-byte channel groups (8 codes for channel 0,
    then 8 for channel 1, ...), two 4-bit codes per byte, LOW nibble
    first — the IMA interleave. For mono, pass scalars and an
    even-length code sequence; for N>1 channels, pass N-sequences for
    ``pred0``/``index0`` and N equal-length code sequences whose length
    is a multiple of 8 (the group size). A ``fact`` chunk records the
    decoded frame count per the non-PCM WAV requirement."""
    import struct

    if isinstance(pred0, (tuple, list)):
        preds, idxs = list(pred0), list(index0)
        chans = [bytes(n) for n in nibbles]
    else:
        preds, idxs, chans = [pred0], [index0], [bytes(nibbles)]
    ch = len(preds)
    if not 1 <= ch <= 8 or len(idxs) != ch or len(chans) != ch:
        raise ValueError("adpcm: 1-8 channels with matching state")
    n = len(chans[0])
    if any(len(c) != n for c in chans):
        raise ValueError("adpcm: channels must carry equal code counts")
    if (ch == 1 and n % 2) or (ch > 1 and n % 8):
        raise ValueError("adpcm: code count must fill whole data groups")
    carr = [np.frombuffer(c, dtype=np.uint8) for c in chans]
    if any(int(a.max(initial=0)) > 15 for a in carr):
        raise ValueError("adpcm: nibble out of range")
    for p0, i0 in zip(preds, idxs):
        if not (-32768 <= p0 <= 32767 and 0 <= i0 <= 88):
            raise ValueError("adpcm: bad initial state")

    data = b"".join(
        struct.pack("<hBB", p0, i0, 0) for p0, i0 in zip(preds, idxs)
    )
    # two codes per byte, LOW nibble first; multi-channel interleaves
    # 4-byte (8-code) groups channel-major — assembled as one numpy
    # (ngroups, ch, 4) stack instead of a per-byte Python loop (r17)
    packed = [a[0::2] | (a[1::2] << 4) for a in carr]
    if ch == 1:
        data += packed[0].tobytes()
    elif n:
        data += np.stack(
            [p.reshape(-1, 4) for p in packed], axis=1
        ).tobytes()
    block_align = len(data)
    frames = n + 1
    fmt = struct.pack(
        "<HHIIHHHH", 17, ch, sample_rate,
        # byte rate for a single block per second is nominal; decoders
        # key on block_align, not byte rate
        sample_rate, block_align, 4, 2, frames,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, frames)
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# Microsoft ADPCM (WAV format 2) tables — the MSDN "Microsoft ADPCM
# Algorithm" reference (also RFC 2361 / libsndfile ms_adpcm): 7 standard
# predictor-coefficient pairs (files carry them in the fmt extension and
# conforming decoders read them FROM THE FILE, like JPEG Huffman tables)
# and the 16-entry delta-adaptation table indexed by the unsigned code.
_MSADPCM_COEF1: tuple[int, ...] = (256, 512, 0, 192, 240, 460, 392)
_MSADPCM_COEF2: tuple[int, ...] = (0, -256, 0, 64, 0, -208, -232)
_MSADPCM_ADAPT: tuple[int, ...] = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)


def _msadpcm_step(
    s1: int, s2: int, delta: int, c1: int, c2: int, code: int
) -> tuple[int, int, int]:
    """One MS ADPCM expansion step — exact integers. The linear predictor
    ``(s1·c1 + s2·c2) >> 8`` uses Python's arithmetic right shift, which
    is FLOOR division by 256 exactly like C's ``>>`` on a negative signed
    int (the oracle transcribes it as floor()); the 4-bit code applies
    SIGNED (two's complement nibble: 8..15 ≡ −8..−1) scaled by the
    current delta; the new sample clamps to int16; delta adapts by the
    unsigned-code table entry over 256 with the spec's floor of 16.
    Returns (new_s1, new_s2, new_delta) — s2 takes the old s1."""
    signed = code - 16 if code & 8 else code
    pred = ((s1 * c1 + s2 * c2) >> 8) + signed * delta
    pred = max(-32768, min(32767, pred))
    delta = max(16, (_MSADPCM_ADAPT[code] * delta) >> 8)
    return pred, s1, delta


def encode_wav_msadpcm(
    sample_rate: int, bpred, delta0, samp1, samp2, nibbles
) -> bytes:
    """RIFF/WAVE writer for Microsoft ADPCM (format 2, 4-bit), MONO or
    STEREO — the fixture side of the codec pair. One block: per-channel
    header fields grouped FIELD-major (all bpredictors, then all int16
    initial deltas, then all sample1, then all sample2 — 7 bytes per
    channel total); the data region packs codes HIGH nibble first (the
    opposite of IMA), mono sequential, stereo alternating channels per
    nibble (high→L, low→R). The fmt chunk carries the required
    extension: wSamplesPerBlock, wNumCoef=7 and the 7 standard
    coefficient pairs (decoders read the table from the file). sample2
    is the OLDER sample and plays FIRST; frames = codes-per-channel + 2.
    A ``fact`` chunk records the frame count per the non-PCM WAV rule."""
    import struct

    if isinstance(bpred, (tuple, list)):
        preds, deltas = list(bpred), list(delta0)
        s1s, s2s = list(samp1), list(samp2)
        chans = [bytes(n) for n in nibbles]
    else:
        preds, deltas = [bpred], [delta0]
        s1s, s2s, chans = [samp1], [samp2], [bytes(nibbles)]
    ch = len(preds)
    if ch not in (1, 2) or not (
        len(deltas) == len(s1s) == len(s2s) == len(chans) == ch
    ):
        raise ValueError("msadpcm: 1 or 2 channels with matching state")
    n = len(chans[0])
    if any(len(c) != n for c in chans):
        raise ValueError("msadpcm: channels must carry equal code counts")
    if ch == 1 and n % 2:
        raise ValueError("msadpcm: mono code count must fill whole bytes")
    carr = [np.frombuffer(c, dtype=np.uint8) for c in chans]
    if any(int(a.max(initial=0)) > 15 for a in carr):
        raise ValueError("msadpcm: nibble out of range")
    for p, d, a, b in zip(preds, deltas, s1s, s2s):
        if not 0 <= p <= 6:
            raise ValueError("msadpcm: predictor index out of range")
        if not (16 <= d <= 32767 and -32768 <= a <= 32767 and -32768 <= b <= 32767):
            raise ValueError("msadpcm: bad initial state")

    data = bytes(preds)
    data += b"".join(struct.pack("<h", d) for d in deltas)
    data += b"".join(struct.pack("<h", s) for s in s1s)
    data += b"".join(struct.pack("<h", s) for s in s2s)
    # HIGH nibble first (the opposite of IMA), numpy-packed (r17)
    if ch == 1:
        data += ((carr[0][0::2] << 4) | carr[0][1::2]).tobytes()
    else:
        data += ((carr[0] << 4) | carr[1]).tobytes()
    block_align = len(data)
    frames = n + 2
    coefs = b"".join(
        struct.pack("<hh", c1, c2)
        for c1, c2 in zip(_MSADPCM_COEF1, _MSADPCM_COEF2)
    )
    ext = struct.pack("<HH", frames, 7) + coefs
    fmt = struct.pack(
        "<HHIIHHH", 2, ch, sample_rate, sample_rate, block_align, 4, len(ext)
    ) + ext
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, frames)
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_ulaw(sample_rate: int, channels: int, ulaw: bytes) -> bytes:
    """RIFF/WAVE writer for G.711 mu-law (format 7, 8-bit) — one byte
    per sample, block align = channels."""
    import struct

    fmt = struct.pack(
        "<HHIIHH", 7, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(ulaw)) + ulaw
        + (b"\x00" if len(ulaw) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _parse_wav_header(buf: bytes):
    """RIFF chunk walk shared by the scalar decoder (``parse_wav``) and
    the batch ADPCM fast path (``decode_wav_adpcm_batch``): validates
    the container and the fmt chunk, collects the pieces every format
    needs. Returns ``(audio_fmt, rate, channels, bits, block_align,
    fact_frames, ms_coefs, pcm)``; raises ``ValueError`` exactly where
    the original inline walk did."""
    import struct
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (riff_size,) = struct.unpack_from("<I", buf, 4)
    if riff_size + 8 > len(buf):
        raise ValueError("truncated RIFF payload")
    i, n = 12, min(len(buf), riff_size + 8)
    audio_fmt = rate = channels = bits = None
    pcm = None
    block_align = fact_frames = None
    ms_coefs = None
    while i + 8 <= n:
        cid = buf[i : i + 4]
        (clen,) = struct.unpack_from("<I", buf, i + 4)
        data = buf[i + 8 : i + 8 + clen]
        if len(data) < clen:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        if cid == b"fact" and clen >= 4:
            (fact_frames,) = struct.unpack_from("<I", data)
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("malformed WAV fmt chunk")
            audio_fmt, channels, rate, _, block_align, bits = struct.unpack_from(
                "<HHIIHH", data
            )
            if not (
                (audio_fmt == 1 and bits == 16)
                or (audio_fmt == 7 and bits == 8)
                or (audio_fmt == 17 and bits == 4)
                or (audio_fmt == 2 and bits == 4)
            ):
                raise ValueError(
                    "unsupported WAV variant: need 16-bit PCM, 8-bit "
                    "G.711 mu-law, or 4-bit IMA/Microsoft ADPCM, got "
                    f"format={audio_fmt} bits={bits}"
                )
            # IMA blocks are channel-count-generic (r13 late: up to 8);
            # MS ADPCM is a mono/stereo format per its spec
            if audio_fmt == 17 and not 1 <= channels <= 8:
                raise ValueError("adpcm: 1-8 channels supported")
            if audio_fmt == 2 and channels not in (1, 2):
                raise ValueError("msadpcm: 1 or 2 channels supported")
            if audio_fmt == 2:
                # WAVEFORMATEX extension: cbSize, wSamplesPerBlock,
                # wNumCoef, then the coefficient pairs — conforming
                # decoders take the table FROM THE FILE (first 7 are
                # the standard pairs; extras are writer-defined).
                if clen < 22:
                    raise ValueError("msadpcm: fmt extension missing")
                (_cb, _spb, ncoef) = struct.unpack_from("<HHH", data, 16)
                if ncoef < 1 or clen < 22 + 4 * ncoef:
                    raise ValueError("msadpcm: coefficient table truncated")
                ms_coefs = [
                    struct.unpack_from("<hh", data, 22 + 4 * k)
                    for k in range(ncoef)
                ]
            if channels < 1 or rate < 1:
                # zero channels would divide-by-zero the frame-alignment
                # check below (ZeroDivisionError escapes the ValueError
                # quarantine and kills the whole Arrow task); zero rate
                # survives parse and divides by zero downstream in
                # decode_audio_features — both must quarantine here
                raise ValueError(
                    f"malformed WAV fmt: channels={channels} rate={rate}"
                )
        elif cid == b"data":
            pcm = data
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or pcm is None:
        raise ValueError("WAV missing fmt /data chunk")
    return audio_fmt, rate, channels, bits, block_align, fact_frames, ms_coefs, pcm


def parse_wav(payload: bytes):
    """Decode a RIFF/WAVE payload — dependency-free chunk walk per the
    RIFF spec (unknown chunks skipped, word-aligned). Supports the
    interchange common cases: PCM (format 1, 16-bit), G.711 mu-law
    (format 7, 8-bit — telephony; expanded to int16 via the CCITT
    table), 1-8 CHANNEL IMA ADPCM (format 17, 4-bit — r11, channels >2
    r13 late: table-driven exact-integer expansion, per-channel block
    headers restart the predictor/index state, low nibble first,
    channels interleaved per 4-byte word group, ``fact``-chunk frame
    trim), and MONO or STEREO Microsoft ADPCM (format 2, 4-bit — r12:
    2-tap linear predictor with the coefficient table read from the
    file's fmt extension, high nibble first, per-nibble channel
    interleave, block headers restart the (sample1, sample2, delta)
    state; MS ADPCM is mono/stereo BY SPEC, so >2 channels stays a
    quarantine there). Anything else — float/24-bit PCM, truncated
    data — raises ``ValueError``, keeping the decode operators'
    per-row quarantine contract. Returns ``(sample_rate, channels,
    int16 numpy array of interleaved samples)``.

    This scalar walk (arbitrary-precision Python ints) is the REFERENCE
    implementation; ``decode_wav_adpcm_batch`` is the vectorized twin
    the Arrow operators use, falling back here for anything it cannot
    prove exact (r17, guide §4.2)."""
    import struct

    buf = bytes(payload or b"")
    audio_fmt, rate, channels, bits, block_align, fact_frames, ms_coefs, pcm = (
        _parse_wav_header(buf)
    )
    if audio_fmt == 2:  # Microsoft ADPCM: block-structured 4-bit codes
        header = 7 * channels
        if block_align is None or block_align < header + 1:
            raise ValueError("msadpcm: bad block alignment")
        if len(pcm) % block_align:
            raise ValueError("msadpcm: data not block-aligned")
        if ms_coefs is None:
            raise ValueError("msadpcm: fmt extension missing")
        frames = []  # interleaved frame-major samples
        for b0 in range(0, len(pcm), block_align):
            bpred = [pcm[b0 + c] for c in range(channels)]
            if any(p >= len(ms_coefs) for p in bpred):
                raise ValueError("msadpcm: predictor index out of range")
            deltas = [
                struct.unpack_from("<h", pcm, b0 + channels + 2 * c)[0]
                for c in range(channels)
            ]
            s1 = [
                struct.unpack_from("<h", pcm, b0 + 3 * channels + 2 * c)[0]
                for c in range(channels)
            ]
            s2 = [
                struct.unpack_from("<h", pcm, b0 + 5 * channels + 2 * c)[0]
                for c in range(channels)
            ]
            c1 = [ms_coefs[p][0] for p in bpred]
            c2 = [ms_coefs[p][1] for p in bpred]
            # sample2 is the OLDER sample: it plays first
            frames.append(list(s2))
            frames.append(list(s1))
            data = pcm[b0 + header : b0 + block_align]
            if channels == 1:
                for byte in data:
                    for code in (byte >> 4, byte & 0x0F):  # HIGH first
                        s1[0], s2[0], deltas[0] = _msadpcm_step(
                            s1[0], s2[0], deltas[0], c1[0], c2[0], code
                        )
                        frames.append([s1[0]])
            else:
                for byte in data:
                    fr = [0, 0]
                    for c, code in ((0, byte >> 4), (1, byte & 0x0F)):
                        s1[c], s2[c], deltas[c] = _msadpcm_step(
                            s1[c], s2[c], deltas[c], c1[c], c2[c], code
                        )
                        fr[c] = s1[c]
                    frames.append(fr)
        if fact_frames is not None:
            if fact_frames > len(frames):
                raise ValueError("msadpcm: fact frames exceed decoded data")
            frames = frames[:fact_frames]
        flat = [v for fr in frames for v in fr]
        return rate, channels, np.asarray(flat, dtype=np.int16)
    if audio_fmt == 17:  # IMA ADPCM: block-structured 4-bit codes
        header = 4 * channels
        if block_align is None or block_align < header + 1:
            raise ValueError("adpcm: bad block alignment")
        if len(pcm) % block_align:
            raise ValueError("adpcm: data not block-aligned")
        frames: list[list[int]] = []  # interleaved frame-major samples
        for b0 in range(0, len(pcm), block_align):
            preds, idxs = [], []
            for c in range(channels):
                pred, idx, _rsv = struct.unpack_from("<hBB", pcm, b0 + 4 * c)
                if idx > 88:
                    raise ValueError("adpcm: step index out of range")
                preds.append(pred)
                idxs.append(idx)
            frames.append(list(preds))
            data = pcm[b0 + header : b0 + block_align]
            if channels == 1:
                # mono: a flat code stream, two codes per byte
                for byte in data:
                    for code in (byte & 0x0F, byte >> 4):  # LOW first
                        preds[0], idxs[0] = _ima_adpcm_step(
                            preds[0], idxs[0], code
                        )
                        frames.append([preds[0]])
                continue
            if len(data) % (4 * channels):
                raise ValueError("adpcm: data not group-aligned")
            for g0 in range(0, len(data), 4 * channels):
                # one 4-byte group (8 codes) per channel, channel-major
                block_frames = [[0] * channels for _ in range(8)]
                for c in range(channels):
                    k = 0
                    for byte in data[g0 + 4 * c : g0 + 4 * c + 4]:
                        for code in (byte & 0x0F, byte >> 4):  # LOW first
                            preds[c], idxs[c] = _ima_adpcm_step(
                                preds[c], idxs[c], code
                            )
                            block_frames[k][c] = preds[c]
                            k += 1
                frames.extend(block_frames)
        if fact_frames is not None:
            if fact_frames > len(frames):
                raise ValueError("adpcm: fact frames exceed decoded data")
            frames = frames[:fact_frames]
        flat = [v for fr in frames for v in fr]
        return rate, channels, np.asarray(flat, dtype=np.int16)
    if audio_fmt == 7:  # G.711 mu-law: one byte per sample
        if len(pcm) % channels:
            raise ValueError("WAV data not frame-aligned")
        return rate, channels, _ULAW_TABLE[np.frombuffer(pcm, dtype=np.uint8)]
    if len(pcm) % (2 * channels):
        raise ValueError("WAV data not frame-aligned")
    return rate, channels, np.frombuffer(pcm, dtype="<i2")


# --- batch ADPCM fast path (r17 — guide §4.2: vectorize inside the Arrow
# batch). The fixture clips are tiny (~64-160 codes), so per-payload
# vectorization loses to numpy call overhead; the winning axis is ACROSS
# payloads: extract every (block, channel) lane in the whole Arrow batch,
# pad to the longest lane, and run ONE transposed predictor walk — the
# Python loop is over TIME STEPS of the longest clip (≈160 iterations per
# batch, independent of batch size), not per sample (~650k at sf0.1).
# parse_wav stays the arbitrary-precision scalar reference; equivalence is
# pinned by tests/test_multimodal.py::test_adpcm_batch_decode_* .

_IMA_STEP_NP = np.asarray(_IMA_STEP_TABLE, dtype=np.int64)
_IMA_INDEX_NP = np.asarray(_IMA_INDEX_TABLE, dtype=np.int64)
_MS_ADAPT_NP = np.asarray(_MSADPCM_ADAPT, dtype=np.int64)


def _ima_extract_lanes(pcm, channels, block_align):
    """One payload's IMA lanes — ``(pred0, idx0, codes uint8 array)`` per
    (block, channel), block-major. Validation mirrors parse_wav."""
    import struct

    header = 4 * channels
    if block_align is None or block_align < header + 1:
        raise ValueError("adpcm: bad block alignment")
    if len(pcm) % block_align:
        raise ValueError("adpcm: data not block-aligned")
    lanes = []
    arr = np.frombuffer(pcm, dtype=np.uint8)
    for b0 in range(0, len(pcm), block_align):
        preds, idxs = [], []
        for c in range(channels):
            pred, idx, _rsv = struct.unpack_from("<hBB", pcm, b0 + 4 * c)
            if idx > 88:
                raise ValueError("adpcm: step index out of range")
            preds.append(pred)
            idxs.append(idx)
        data = arr[b0 + header : b0 + block_align]
        if channels == 1:
            codes = np.empty(data.size * 2, dtype=np.uint8)
            codes[0::2] = data & 0x0F  # LOW nibble first
            codes[1::2] = data >> 4
            lanes.append((preds[0], idxs[0], codes))
            continue
        if data.size % (4 * channels):
            raise ValueError("adpcm: data not group-aligned")
        groups = data.reshape(-1, channels, 4)  # (ngroups, ch, 4 bytes)
        for c in range(channels):
            by = groups[:, c, :]
            codes = np.empty((by.shape[0], 8), dtype=np.uint8)
            codes[:, 0::2] = by & 0x0F
            codes[:, 1::2] = by >> 4
            lanes.append((preds[c], idxs[c], codes.reshape(-1)))
    return lanes


def _ms_extract_lanes(pcm, channels, block_align, ms_coefs):
    """One payload's MS ADPCM lanes — ``(c1, c2, delta0, s1, s2, codes)``
    per (block, channel), block-major. Validation mirrors parse_wav."""
    import struct

    header = 7 * channels
    if block_align is None or block_align < header + 1:
        raise ValueError("msadpcm: bad block alignment")
    if len(pcm) % block_align:
        raise ValueError("msadpcm: data not block-aligned")
    if ms_coefs is None:
        raise ValueError("msadpcm: fmt extension missing")
    lanes = []
    arr = np.frombuffer(pcm, dtype=np.uint8)
    for b0 in range(0, len(pcm), block_align):
        bpred = [pcm[b0 + c] for c in range(channels)]
        if any(p >= len(ms_coefs) for p in bpred):
            raise ValueError("msadpcm: predictor index out of range")
        deltas = [
            struct.unpack_from("<h", pcm, b0 + channels + 2 * c)[0]
            for c in range(channels)
        ]
        s1 = [
            struct.unpack_from("<h", pcm, b0 + 3 * channels + 2 * c)[0]
            for c in range(channels)
        ]
        s2 = [
            struct.unpack_from("<h", pcm, b0 + 5 * channels + 2 * c)[0]
            for c in range(channels)
        ]
        data = arr[b0 + header : b0 + block_align]
        if channels == 1:
            codes = np.empty(data.size * 2, dtype=np.uint8)
            codes[0::2] = data >> 4  # HIGH nibble first
            codes[1::2] = data & 0x0F
            chan_codes = [codes]
        else:
            chan_codes = [data >> 4, data & 0x0F]  # high→L, low→R
        for c in range(channels):
            c1, c2 = ms_coefs[bpred[c]]
            lanes.append((c1, c2, deltas[c], s1[c], s2[c], chan_codes[c]))
    return lanes


def _ima_walk(preds0, idxs0, codes_mat, nsteps):
    """Transposed IMA walk: one step over ALL lanes per iteration —
    arithmetic identical to ``_ima_adpcm_step`` (numpy ``>>`` on int64
    is the same arithmetic shift; clips are the same clamps). Lanes
    shorter than ``nsteps`` compute garbage past their own length,
    which the caller never reads. No overflow anywhere: pred is clamped
    int16 each step, step ≤ 32767, diff < 2^17."""
    L, _ = codes_mat.shape
    pred = preds0.astype(np.int64)
    idx = idxs0.astype(np.int64)
    out = np.empty((L, nsteps), dtype=np.int64)
    for t in range(nsteps):
        code = codes_mat[:, t]
        step = _IMA_STEP_NP[idx]
        diff = step >> 3
        diff = diff + np.where(code & 1, step >> 2, 0)
        diff = diff + np.where(code & 2, step >> 1, 0)
        diff = diff + np.where(code & 4, step, 0)
        pred = np.where(code & 8, pred - diff, pred + diff)
        np.clip(pred, -32768, 32767, out=pred)
        idx = np.clip(idx + _IMA_INDEX_NP[code & 7], 0, 88)
        out[:, t] = pred
    return out


def _ms_walk(c1, c2, delta0, s1_0, s2_0, codes_mat, nsteps):
    """Transposed MS ADPCM walk — arithmetic identical to
    ``_msadpcm_step`` (floor shifts, int16 clamp, delta floor 16).
    delta is the one unclamped state variable: the scalar reference
    carries it in arbitrary-precision Python ints, so any lane whose
    delta leaves the provably-int64-exact window (> 2^48; next step
    multiplies by ≤ 768 < 2^10, far from 2^63) is flagged and the
    caller re-decodes that payload through the scalar path. The
    fixtures are shrink-heavy by design (measured max delta 1464)."""
    L, _ = codes_mat.shape
    s1 = s1_0.astype(np.int64)
    s2 = s2_0.astype(np.int64)
    delta = delta0.astype(np.int64)
    out = np.empty((L, nsteps), dtype=np.int64)
    overflow = np.zeros(L, dtype=bool)
    for t in range(nsteps):
        code = codes_mat[:, t].astype(np.int64)
        signed = np.where(code & 8, code - 16, code)
        pred = ((s1 * c1 + s2 * c2) >> 8) + signed * delta
        np.clip(pred, -32768, 32767, out=pred)
        s2 = s1
        s1 = pred
        delta = np.maximum(16, (_MS_ADAPT_NP[code] * delta) >> 8)
        overflow |= delta > (1 << 48)
        out[:, t] = pred
    return out, overflow


def decode_wav_adpcm_batch(bufs):
    """Batch twin of ``parse_wav`` for format 17/2 payloads. Returns a
    list aligned with ``bufs``: ``(rate, ch, int16 samples)`` on
    success, a ``ValueError`` instance for quarantined payloads, and
    ``None`` for payloads that are not ADPCM WAVs (the caller routes
    those through ``parse_audio``)."""
    results = [None] * len(bufs)
    metas = []  # (buf_i, fmt, rate, channels, fact, lane_lo, lane_hi)
    ima_lanes, ms_lanes = [], []
    for i, buf in enumerate(bufs):
        if buf[:4] == b"fLaC":
            continue  # parse_audio routes FLAC to parse_flac
        try:
            # a payload that is neither fLaC nor valid RIFF raises here
            # with the exact error parse_wav would raise — recording it
            # keeps quarantine semantics identical to the scalar path
            fmt, rate, channels, _bits, ba, fact, coefs, pcm = (
                _parse_wav_header(buf)
            )
            if fmt == 17:
                lanes = _ima_extract_lanes(pcm, channels, ba)
                metas.append((i, 17, rate, channels, fact,
                              len(ima_lanes), len(ima_lanes) + len(lanes)))
                ima_lanes.extend(lanes)
            elif fmt == 2:
                lanes = _ms_extract_lanes(pcm, channels, ba, coefs)
                metas.append((i, 2, rate, channels, fact,
                              len(ms_lanes), len(ms_lanes) + len(lanes)))
                ms_lanes.extend(lanes)
            # other formats: leave None (not ADPCM)
        except ValueError as e:
            results[i] = e
    ima_out = ms_out = ms_ovf = None
    if ima_lanes:
        L = len(ima_lanes)
        maxN = max(l[2].size for l in ima_lanes)
        codes = np.zeros((L, maxN), dtype=np.uint8)
        for k, (_p, _x, cd) in enumerate(ima_lanes):
            codes[k, : cd.size] = cd
        ima_out = _ima_walk(
            np.fromiter((l[0] for l in ima_lanes), np.int64, L),
            np.fromiter((l[1] for l in ima_lanes), np.int64, L),
            codes, maxN,
        )
    if ms_lanes:
        L = len(ms_lanes)
        maxN = max(l[5].size for l in ms_lanes)
        codes = np.zeros((L, maxN), dtype=np.uint8)
        for k, l in enumerate(ms_lanes):
            codes[k, : l[5].size] = l[5]
        ms_out, ms_ovf = _ms_walk(
            np.fromiter((l[0] for l in ms_lanes), np.int64, L),
            np.fromiter((l[1] for l in ms_lanes), np.int64, L),
            np.fromiter((l[2] for l in ms_lanes), np.int64, L),
            np.fromiter((l[3] for l in ms_lanes), np.int64, L),
            np.fromiter((l[4] for l in ms_lanes), np.int64, L),
            codes, maxN,
        )
    for (i, kind, rate, channels, fact, lo, hi) in metas:
        try:
            if kind == 17:
                lanes, out, hdr = ima_lanes, ima_out, 1
            else:
                lanes, out, hdr = ms_lanes, ms_out, 2
                if lo < hi and ms_ovf[lo:hi].any():
                    results[i] = parse_wav(bufs[i])
                    continue
            blocks = []
            for b in range(lo, hi, channels):
                n = lanes[b][2 if kind == 17 else 5].size
                mat = np.empty((n + hdr, channels), dtype=np.int64)
                for c in range(channels):
                    ln = lanes[b + c]
                    if kind == 17:
                        mat[0, c] = ln[0]
                    else:
                        mat[0, c] = ln[4]  # s2 is the OLDER sample
                        mat[1, c] = ln[3]  # then s1
                    mat[hdr:, c] = out[b + c, :n]
                blocks.append(mat)
            if not blocks:  # empty data chunk: zero frames, like parse_wav
                allf = np.empty((0, channels), dtype=np.int64)
            else:
                allf = blocks[0] if len(blocks) == 1 else np.concatenate(blocks)
            if fact is not None:
                if fact > allf.shape[0]:
                    raise ValueError(
                        ("adpcm" if kind == 17 else "msadpcm")
                        + ": fact frames exceed decoded data"
                    )
                allf = allf[:fact]
            results[i] = (rate, channels, allf.reshape(-1).astype(np.int16))
        except ValueError as e:
            results[i] = e
    return results


# ---------------------------------------------------------------------------
# FLAC (r13 — r12 VERDICT item 3): dependency-free lossless codec.
# Encoder (fixture synthesis) and decoder (the operator) are independent
# implementations of the format spec — CONSTANT/VERBATIM/FIXED(0-4)/LPC
# subframes, Rice/Rice2 residual partitions with escape codes, UTF-8
# coded frame numbers, wasted-bits, CRC-8 frame headers and CRC-16 frame
# trailers. Lossless means the decoded stream IS the closed-form sample
# formula, so the SQL oracle needs no recursive CTE (unlike ADPCM): it
# recomputes the features from the formula directly. Decoder scope
# after the r13/r14 closures: every fixed-depth frame code the spec
# defines — 8/12/16/20/24 plus RFC 9639's 32-bit point (the side
# channel of decorrelated 32-bit stereo reads at 33 bits; Python ints
# and the int64 sample arrays absorb it) — mono/stereo with all four
# channel assignments (independent, left/side, right/side, mid/side);
# reserved channel codes raise ValueError into the per-row quarantine.
# ---------------------------------------------------------------------------


def _crc_table(poly: int, width: int) -> list[int]:
    mask, top = (1 << width) - 1, 1 << (width - 1)
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return table


_FLAC_CRC8_TABLE = _crc_table(0x07, 8)
_FLAC_CRC16_TABLE = _crc_table(0x8005, 16)


def _flac_crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _FLAC_CRC8_TABLE[crc ^ b]
    return crc


def _flac_crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _FLAC_CRC16_TABLE[((crc >> 8) ^ b) & 0xFF] ^ ((crc << 8) & 0xFFFF)
    return crc


class _FlacBitWriter:
    """MSB-first bit accumulator (no byte stuffing — that is JPEG's)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            self.out.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_unary(self, q: int) -> None:
        self.write(0, q)
        self.write(1, 1)

    def write_bits(self, arr) -> None:
        """Bulk append of a 0/1 uint8 bit array (r17 — the vectorized
        subframe writers assemble whole residual/verbatim regions as one
        array; packbits emits the byte-aligned body in one shot)."""
        arr = np.asarray(arr, dtype=np.uint8)
        if not arr.size:
            return
        if self._n:
            pend = (
                (self._acc >> np.arange(self._n - 1, -1, -1)) & 1
            ).astype(np.uint8)
            arr = np.concatenate([pend, arr])
            self._acc = 0
            self._n = 0
        nby = arr.size >> 3
        if nby:
            self.out += np.packbits(arr[: nby * 8]).tobytes()
        rem = arr[nby * 8 :]
        acc = 0
        for b in rem:  # at most 7 trailing bits
            acc = (acc << 1) | int(b)
        self._acc = acc
        self._n = rem.size

    def getvalue_aligned_zero(self) -> bytes:
        if self._n:
            self.write(0, 8 - self._n)
        return bytes(self.out)


class _FlacBitReader:
    """MSB-first bit reader with absolute bit position (the byte slices
    under CRC are recovered from it)."""

    def __init__(self, buf: bytes, byte_pos: int = 0) -> None:
        self.buf = buf
        self.bitpos = byte_pos * 8

    def read(self, n: int) -> int:
        end = self.bitpos + n
        if end > len(self.buf) * 8:
            raise ValueError("flac: truncated stream")
        v = int.from_bytes(self.buf[self.bitpos // 8 : (end + 7) // 8], "big")
        v >>= (-end) % 8
        self.bitpos = end
        return v & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= 1 << (n - 1) else v

    def read_unary(self) -> int:
        q = 0
        while True:
            byte_i = self.bitpos >> 3
            if byte_i >= len(self.buf):
                raise ValueError("flac: truncated unary code")
            b = self.buf[byte_i] & (0xFF >> (self.bitpos & 7))
            if b == 0:
                step = 8 - (self.bitpos & 7)
                q += step
                self.bitpos += step
            else:
                zeros = (8 - (self.bitpos & 7)) - b.bit_length()
                self.bitpos += zeros + 1
                return q + zeros

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


def _utf8_number_encode(val: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index), up to 36 bits."""
    if val < 0x80:
        return bytes([val])
    for nbytes, limit in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31), (7, 36)):
        if val < 1 << limit:
            lead_mask = (0xFF00 >> nbytes) & 0xFF
            shift = 6 * (nbytes - 1)
            out = [lead_mask | (val >> shift)]
            for k in range(nbytes - 1):
                shift -= 6
                out.append(0x80 | ((val >> shift) & 0x3F))
            return bytes(out)
    raise ValueError("flac: frame number exceeds 36 bits")


def _utf8_number_decode(br: _FlacBitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    probe = b0
    while probe & 0x80:
        nbytes += 1
        probe <<= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("flac: malformed coded number")
    val = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("flac: malformed coded number continuation")
        val = (val << 6) | (cont & 0x3F)
    return val


_FLAC_FIXED_COEFS: dict[int, tuple[int, ...]] = {
    0: (),
    1: (1,),
    2: (2, -1),
    3: (3, -3, 1),
    4: (4, -6, 4, -1),
}


def _zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else ((-r) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if u & 1 == 0 else -((u + 1) >> 1)


def _bits_of(vals, width: int) -> np.ndarray:
    """(n, width) big-endian two's-complement bit matrix, flattened —
    the vectorized form of ``width``-bit writer calls (r17)."""
    v = np.asarray(vals, dtype=np.int64) & ((np.int64(1) << width) - 1)
    sh = np.arange(width - 1, -1, -1, dtype=np.int64)
    return ((v[:, None] >> sh) & 1).astype(np.uint8).ravel()


def _write_residuals(fw: _FlacBitWriter, resid) -> None:
    """Residual block: method 01 (RICE2, 5-bit params), partition order
    0 — one partition covering the block past the warm-up. r17: the
    whole partition's bit stream (terminator positions from the
    cumulative code lengths, low bits gathered per code) is assembled
    as ONE numpy bit array instead of 2 writer calls per residual —
    byte-identical output, 16x on 4096-sample production blocks."""
    fw.write(1, 2)
    fw.write(0, 4)
    r = np.asarray(resid, dtype=np.int64)
    zig = (np.abs(r) << 1) - (r < 0)
    k = 0
    if zig.size:
        mean = int(zig.sum()) // zig.size
        k = min(max(mean.bit_length() - 1, 0), 30)
    fw.write(k, 5)
    q = (zig >> k).astype(np.int64)
    lens = q + 1 + k
    bits = np.zeros(int(lens.sum()), dtype=np.uint8)
    ends = np.cumsum(lens)
    term = ends - (1 + k)
    bits[term] = 1
    if k:
        sh = np.arange(k - 1, -1, -1, dtype=np.int64)
        li = term[:, None] + 1 + np.arange(k, dtype=np.int64)
        bits[li.ravel()] = ((zig[:, None] >> sh) & 1).astype(np.uint8).ravel()
    fw.write_bits(bits)


# 0b111 = 32 bits per sample (RFC 9639 assigns the last code point;
# the legacy spec reserved it) — r14 closes the 32-bit quarantine.
_FLAC_SS_CODE = {
    8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110, 32: 0b111,
}
_FLAC_SS_BITS = {v: k for k, v in _FLAC_SS_CODE.items()}


def encode_flac(
    sample_rate: int,
    channels: int,
    samples,
    blocksize: int = 48,
    variant: int = 1,
    lpc_coefs: tuple[int, ...] = (3, -2),
    lpc_shift: int = 1,
    lpc_precision: int = 4,
    channel_mode: str = "independent",
    bits: int = 16,
) -> bytes:
    """REAL FLAC bytes for interleaved ``samples`` at ``bits`` per
    sample (8/12/16/20/24/32 — every fixed-depth frame code including
    RFC 9639's 32-bit point; r13 closed the non-16-bit quarantine, r14
    the 32-bit one). ``variant`` picks the subframe
    strategy applied to every block/channel:
    0 CONSTANT (samples must be constant per channel), 1 VERBATIM,
    2 FIXED order 1, 3 FIXED order 2, 4 LPC order ``len(lpc_coefs)``.
    Blocks too short for the predictor order fall back to VERBATIM
    (deterministically — the last partial block can be 1 sample).
    ``channel_mode`` (stereo only) selects the spec's inter-channel
    decorrelation: independent / left_side / right_side / mid_side —
    the side channel carries ``left - right`` at ``bits + 1`` bits, mid
    is the floor average with the dropped parity bit recovered from
    side."""
    samples = np.asarray(samples, dtype=np.int64)
    if channels < 1 or samples.size % channels:
        raise ValueError("flac encoder: samples not frame-aligned")
    if channel_mode != "independent" and channels != 2:
        raise ValueError("flac encoder: decorrelation needs 2 channels")
    if bits not in _FLAC_SS_CODE:
        raise ValueError(f"flac encoder: unsupported bit depth {bits}")
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    if samples.size and (samples.min() < lo or samples.max() > hi):
        raise ValueError(f"flac encoder: sample outside int{bits} range")
    frames = samples.size // channels
    chans = [samples[c::channels] for c in range(channels)]
    # per-subframe stored streams + bit widths + frame-header code
    if channel_mode == "independent":
        stored = chans
        sub_bits = [bits] * channels
        ch_code = channels - 1
    elif channel_mode == "left_side":
        stored = [chans[0], chans[0] - chans[1]]
        sub_bits = [bits, bits + 1]
        ch_code = 0b1000
    elif channel_mode == "right_side":
        stored = [chans[0] - chans[1], chans[1]]
        sub_bits = [bits + 1, bits]
        ch_code = 0b1001
    elif channel_mode == "mid_side":
        stored = [(chans[0] + chans[1]) >> 1, chans[0] - chans[1]]
        sub_bits = [bits, bits + 1]
        ch_code = 0b1010
    else:
        raise ValueError(f"flac encoder: unknown channel mode {channel_mode}")

    out = bytearray(b"fLaC")
    out += bytes([0x80, 0, 0, 34])  # last metadata block, STREAMINFO, len 34
    si = _FlacBitWriter()
    si.write(blocksize, 16)
    si.write(blocksize, 16)
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(sample_rate, 20)
    si.write(channels - 1, 3)
    si.write(bits - 1, 5)
    si.write(frames, 36)
    out += si.getvalue_aligned_zero()
    out += bytes(16)  # MD5 unset (zeros = unknown, per spec)

    def subframe(fw: _FlacBitWriter, blk: np.ndarray, bits: int) -> None:
        n = blk.size
        v = variant
        order = {2: 1, 3: 2}.get(v, len(lpc_coefs) if v == 4 else 0)
        if v in (2, 3, 4) and n <= order:
            v = 1  # too short for the predictor: verbatim fallback
        fw.write(0, 1)  # mandatory zero pad bit
        if v == 0:
            if n and not bool((blk == blk[0]).all()):
                raise ValueError("flac encoder: CONSTANT needs constant block")
            fw.write(0b000000, 6)
            fw.write(0, 1)  # no wasted bits
            fw.write(int(blk[0]) if n else 0, bits)
            return
        if v == 1:
            fw.write(0b000001, 6)
            fw.write(0, 1)
            fw.write_bits(_bits_of(blk, bits))
            return
        if v in (2, 3):
            fw.write(0b001000 | order, 6)
            fw.write(0, 1)
            coefs = _FLAC_FIXED_COEFS[order]
            shift = 0
        else:
            fw.write(0b100000 | (order - 1), 6)
            fw.write(0, 1)
            coefs, shift = lpc_coefs, lpc_shift
        fw.write_bits(_bits_of(blk[:order], bits))
        if v == 4:
            fw.write(lpc_precision - 1, 4)
            fw.write(shift, 5)
            for cf in coefs:
                fw.write(cf, lpc_precision)
        # residual = sample minus the shifted predictor, as one sliding
        # dot product over the block (exact in int64: |coef| <= 6,
        # samples <= 2^33)
        pred = np.zeros(n - order, dtype=np.int64)
        for j, cf in enumerate(coefs):
            pred += cf * blk[order - 1 - j : n - 1 - j]
        _write_residuals(fw, blk[order:] - (pred >> shift))

    for fi, start in enumerate(range(0, frames, blocksize)):
        bs = min(blocksize, frames - start)
        hw = _FlacBitWriter()
        hw.write(0b11111111111110, 14)
        hw.write(0, 1)  # reserved
        hw.write(0, 1)  # fixed-blocksize stream: frame number = index
        hw.write(0b0111, 4)  # blocksize: explicit 16-bit value follows
        hw.write(0b0000, 4)  # sample rate: from STREAMINFO
        hw.write(ch_code, 4)  # channel assignment (indep or decorrelated)
        hw.write(_FLAC_SS_CODE[bits], 3)  # bits per sample
        hw.write(0, 1)  # reserved
        header = bytearray(hw.getvalue_aligned_zero())
        header += _utf8_number_encode(fi)
        header += (bs - 1).to_bytes(2, "big")
        header.append(_flac_crc8(bytes(header)))
        fw = _FlacBitWriter()
        for c in range(len(stored)):
            subframe(fw, stored[c][start : start + bs], sub_bits[c])
        frame = bytes(header) + fw.getvalue_aligned_zero()
        out += frame
        out += _flac_crc16(frame).to_bytes(2, "big")
    return bytes(out)


_FLAC_BLOCKSIZE_FIXED = {
    0b0001: 192, 0b0010: 576, 0b0011: 1152, 0b0100: 2304, 0b0101: 4608,
    0b1000: 256, 0b1001: 512, 0b1010: 1024, 0b1011: 2048, 0b1100: 4096,
    0b1101: 8192, 0b1110: 16384, 0b1111: 32768,
}
_FLAC_RATE_FIXED = {
    0b0001: 88200, 0b0010: 176400, 0b0011: 192000, 0b0100: 8000,
    0b0101: 16000, 0b0110: 22050, 0b0111: 24000, 0b1000: 32000,
    0b1001: 44100, 0b1010: 48000, 0b1011: 96000,
}


# Adaptive decode threshold (r17, guide §4.2): numpy Rice decode beats
# the scalar bit walk only past ~48-64 codes per partition (measured
# crossover: 0.83x at 32, 1.04x at 48, 1.35x at 64, 3.0x at 1024) — the
# fixture's 48-sample blocks stay on the scalar path, production-sized
# 4096-sample blocks take the vectorized one (4.7x whole-payload).
_FLAC_VEC_MIN = 64


def _read_bits_vec(bits, pos, count, width):
    """Gather ``count`` consecutive ``width``-bit big-endian signed
    fields from the unpacked bit array starting at ``pos``."""
    end = pos + count * width
    if end > bits.size:
        raise ValueError("flac: truncated stream")
    if count == 0 or width == 0:
        return np.zeros(count, dtype=np.int64), end
    m = bits[pos:end].reshape(count, width).astype(np.int64)
    pw = np.int64(1) << np.arange(width - 1, -1, -1, dtype=np.int64)
    vals = m @ pw
    vals -= m[:, 0] << width  # two's complement sign
    return vals, end


def _rice_decode_vec(bits, ones, pos, count, k):
    """Decode ``count`` Rice(k) codes from bit ``pos`` in one shot:
    terminator positions come from pointer-jump doubling over the
    global ones index (each code consumes at most one terminator plus k
    low bits, so all terminators lie within the first count*(k+1) ones
    after ``pos``); quotients and low bits then gather vectorized.
    Returns (unzigzagged int64 residuals, new_pos)."""
    if count == 0:
        return np.zeros(0, dtype=np.int64), pos
    j0 = np.searchsorted(ones, pos)
    win = ones[j0 : j0 + count * (k + 1)]
    if win.size == 0:
        raise ValueError("flac: truncated unary code")
    if count == 1:
        idxs = np.zeros(1, dtype=np.int64)
    else:
        g = np.minimum(np.searchsorted(win, win + 1 + k), win.size)
        F = np.append(g, win.size)  # sentinel maps to itself
        idxs = np.empty(count, dtype=np.int64)
        idxs[0] = 0
        have = 1
        while have < count:
            take = min(have, count - have)
            idxs[have : have + take] = F[idxs[:take]]
            have += take
            if have < count:
                F = F[F]
        if idxs[-1] >= win.size:
            raise ValueError("flac: truncated unary code")
    term = win[idxs]
    new_pos = int(term[-1]) + 1 + k
    if new_pos > bits.size:
        raise ValueError("flac: truncated stream")
    starts = np.empty(count, dtype=np.int64)
    starts[0] = pos
    if count > 1:
        starts[1:] = term[:-1] + 1 + k
    q = term - starts
    if k:
        li = term[:, None] + 1 + np.arange(k, dtype=np.int64)
        pw = np.int64(1) << np.arange(k - 1, -1, -1, dtype=np.int64)
        u = (q << k) | (bits[li].astype(np.int64) @ pw)
    else:
        u = q
    return (u >> 1) ^ -(u & 1), new_pos


def _flac_residuals_vec(br, bits, ones, blocksize, order):
    """Vectorized twin of ``_flac_residuals`` — same partition walk,
    Rice partitions decoded by ``_rice_decode_vec`` when big enough."""
    method = br.read(2)
    if method > 1:
        raise ValueError(f"flac: reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if blocksize % nparts or blocksize // nparts <= order:
        raise ValueError("flac: invalid residual partition order")
    parts = []
    for p in range(nparts):
        count = blocksize // nparts - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            if raw == 0:
                parts.append(np.zeros(count, dtype=np.int64))
            else:
                vals, br.bitpos = _read_bits_vec(bits, br.bitpos, count, raw)
                parts.append(vals)
            continue
        vals, br.bitpos = _rice_decode_vec(bits, ones, br.bitpos, count, param)
        parts.append(vals)
    return parts[0] if nparts == 1 else np.concatenate(parts)


def _flac_subframe_vec(br, bits, ones, blocksize, bps):
    """Vectorized twin of ``_flac_subframe`` for production-sized
    blocks: verbatim/warm-up fields gather as bit matrices, FIXED
    prediction reconstructs by cumulative sums (the FIXED predictors
    ARE the finite-difference operators), residuals decode through
    ``_rice_decode_vec``. LPC keeps the scalar recurrence (quantized
    shift makes it sequential) over vector-decoded residuals. Returns
    an int64 ndarray. Magnitude guards re-raise the terminal
    out-of-range error BEFORE an int64 cumsum could wrap: any
    |Δ^j| ≥ 2^37 forces samples outside every legal depth (≤ 33 bits),
    where the arbitrary-precision scalar path raises the same error at
    the end of the frame walk."""
    if br.read(1):
        raise ValueError("flac: subframe pad bit set")
    type6 = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    eff = bps - wasted
    if eff < 1:
        raise ValueError("flac: wasted bits exceed sample size")
    if type6 == 0b000000:
        out = np.full(blocksize, br.read_signed(eff), dtype=np.int64)
    elif type6 == 0b000001:
        out, br.bitpos = _read_bits_vec(bits, br.bitpos, blocksize, eff)
    elif 0b001000 <= type6 <= 0b001100:
        order = type6 & 0x07
        if order > blocksize:
            raise ValueError("flac: fixed order exceeds block size")
        warm, br.bitpos = _read_bits_vec(bits, br.bitpos, order, eff)
        resid = _flac_residuals_vec(br, bits, ones, blocksize, order)
        out = np.empty(blocksize, dtype=np.int64)
        w = warm.copy()
        for j in range(order):
            out[j] = w[0]
            w = np.diff(w)
        out[order:] = resid
        big = np.int64(1) << 37
        for j in range(order - 1, -1, -1):
            if np.abs(out[j:]).max(initial=0) >= big:
                raise ValueError(
                    f"flac: decoded sample out of int{bps} range"
                )
            out[j:] = np.cumsum(out[j:])
    elif type6 & 0b100000:
        order = (type6 & 0x1F) + 1
        if order > blocksize:
            raise ValueError("flac: lpc order exceeds block size")
        warm, br.bitpos = _read_bits_vec(bits, br.bitpos, order, eff)
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("flac: invalid lpc precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative lpc shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        seq = [int(v) for v in warm]
        for r in _flac_residuals_vec(br, bits, ones, blocksize, order).tolist():
            pred = sum(cf * seq[-1 - j] for j, cf in enumerate(coefs)) >> shift
            seq.append(r + pred)
        if seq and max(abs(v) for v in seq) >= (1 << 37):
            raise ValueError(f"flac: decoded sample out of int{bps} range")
        out = np.asarray(seq, dtype=np.int64)
    else:
        raise ValueError(f"flac: reserved subframe type {type6:#08b}")
    if wasted:
        if np.abs(out).max(initial=0) >= (np.int64(1) << np.int64(62 - wasted)):
            raise ValueError(f"flac: decoded sample out of int{bps} range")
        out = out << wasted
    return out


def _flac_residuals(br: _FlacBitReader, blocksize: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError(f"flac: reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if blocksize % nparts or blocksize // nparts <= order:
        raise ValueError("flac: invalid residual partition order")
    resid: list[int] = []
    for p in range(nparts):
        count = blocksize // nparts - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            if raw == 0:
                resid.extend(0 for _ in range(count))
            else:
                resid.extend(br.read_signed(raw) for _ in range(count))
            continue
        for _ in range(count):
            q = br.read_unary()
            u = (q << param) | br.read(param) if param else q
            resid.append(_unzigzag(u))
    return resid


def _flac_subframe(br: _FlacBitReader, blocksize: int, bps: int) -> list[int]:
    if br.read(1):
        raise ValueError("flac: subframe pad bit set")
    type6 = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    eff = bps - wasted
    if eff < 1:
        raise ValueError("flac: wasted bits exceed sample size")
    if type6 == 0b000000:
        val = br.read_signed(eff)
        out = [val] * blocksize
    elif type6 == 0b000001:
        out = [br.read_signed(eff) for _ in range(blocksize)]
    elif 0b001000 <= type6 <= 0b001100:
        order = type6 & 0x07
        if order > blocksize:
            raise ValueError("flac: fixed order exceeds block size")
        out = [br.read_signed(eff) for _ in range(order)]
        coefs = _FLAC_FIXED_COEFS[order]
        for r in _flac_residuals(br, blocksize, order):
            pred = sum(cf * out[-1 - j] for j, cf in enumerate(coefs))
            out.append(r + pred)
    elif type6 & 0b100000:
        order = (type6 & 0x1F) + 1
        if order > blocksize:
            raise ValueError("flac: lpc order exceeds block size")
        out = [br.read_signed(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("flac: invalid lpc precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative lpc shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        for r in _flac_residuals(br, blocksize, order):
            pred = sum(cf * out[-1 - j] for j, cf in enumerate(coefs)) >> shift
            out.append(r + pred)
    else:
        raise ValueError(f"flac: reserved subframe type {type6:#08b}")
    if wasted:
        out = [s << wasted for s in out]
    return out


def parse_flac(payload: bytes):
    """Decode a FLAC payload — dependency-free per the format spec.
    Supported (the interchange subset this engine synthesizes AND the
    common encoder output shapes): 8/12/16/20/24/32-bit samples
    (every fixed-depth frame code the spec defines, including RFC
    9639's 32-bit point — r13 closed the non-16-bit quarantine, r14
    the 32-bit one), mono/stereo with ALL FOUR channel
    assignments (independent, left/side, right/side, mid/side — the
    side channel reads at bps+1 bits and mid's dropped parity bit is
    recovered from side, r13), CONSTANT/VERBATIM/FIXED(0-4)/LPC
    subframes, both Rice methods with escape partitions, any partition
    order, wasted bits, UTF-8 coded frame/sample numbers, explicit and
    table block sizes. CRC-8 and CRC-16 are VERIFIED — a corrupt frame
    quarantines rather than emitting wrong samples. Reserved channel
    codes raise ValueError (honest quarantine).
    Returns ``(sample_rate, channels, numpy array of interleaved
    samples)`` — int16 for depths ≤ 16, int32 above — the same contract
    shape as ``parse_wav``."""
    buf = bytes(payload or b"")
    if len(buf) < 42 or buf[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    rate = channels = total = bps = None
    while True:
        if pos + 4 > len(buf):
            raise ValueError("flac: truncated metadata")
        head = buf[pos]
        last, btype = head >> 7, head & 0x7F
        length = int.from_bytes(buf[pos + 1 : pos + 4], "big")
        body = buf[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise ValueError("flac: truncated metadata block")
        if btype == 0:
            if length != 34:
                raise ValueError("flac: malformed STREAMINFO")
            sr = _FlacBitReader(body)
            sr.read(16)  # min blocksize
            sr.read(16)  # max blocksize
            sr.read(24)  # min framesize
            sr.read(24)  # max framesize
            rate = sr.read(20)
            channels = sr.read(3) + 1
            bps = sr.read(5) + 1
            total = sr.read(36)
            if bps not in _FLAC_SS_CODE:
                raise ValueError(f"flac: unsupported bit depth {bps}")
        pos += 4 + length
        if last:
            break
    if rate is None:
        raise ValueError("flac: missing STREAMINFO")
    if channels > 2:
        raise ValueError(f"flac: unsupported channel count {channels}")
    # per-channel list of per-frame chunks (python lists from the scalar
    # path, int64 arrays from the vectorized one), flattened at the end
    chans: list[list] = [[] for _ in range(channels)]
    bit_ctx = None  # lazy (bits, ones) — built on the first big frame
    decoded = 0
    while decoded < total:
        frame_start = pos
        br = _FlacBitReader(buf, pos)
        if br.read(14) != 0b11111111111110:
            raise ValueError("flac: lost frame sync")
        if br.read(1):
            raise ValueError("flac: reserved header bit set")
        br.read(1)  # blocking strategy (frame vs sample numbering)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise ValueError("flac: reserved header bit set")
        _utf8_number_decode(br)
        if bs_code == 0b0000:
            raise ValueError("flac: reserved block size code")
        elif bs_code == 0b0110:
            blocksize = br.read(8) + 1
        elif bs_code == 0b0111:
            blocksize = br.read(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZE_FIXED[bs_code]
        if sr_code == 0b0000:
            pass  # STREAMINFO rate
        elif sr_code == 0b1100:
            br.read(8)
        elif sr_code in (0b1101, 0b1110):
            br.read(16)
        elif sr_code == 0b1111:
            raise ValueError("flac: invalid sample rate code")
        # fixed-table codes carry no extra bytes; STREAMINFO stays canon
        if ch_code > 0b1010:
            raise ValueError(f"flac: reserved channel assignment {ch_code}")
        decorrelated = ch_code >= 0b1000
        if (2 if decorrelated else ch_code + 1) != channels:
            raise ValueError("flac: frame channel count mismatch")
        # 0b000 defers to STREAMINFO; a fixed code must AGREE with it —
        # a depth flip mid-stream is corruption, not a feature
        if ss_code and _FLAC_SS_BITS.get(ss_code) != bps:
            raise ValueError("flac: unsupported frame sample size")
        header_end = br.bitpos // 8
        if _flac_crc8(buf[frame_start:header_end]) != br.read(8):
            raise ValueError("flac: frame header CRC mismatch")
        take = min(blocksize, total - decoded)
        # adaptive dispatch (r17): production-sized blocks decode
        # through the vectorized subframe twin; the fixture's 48-sample
        # blocks stay on the scalar reference path (below numpy's
        # measured break-even)
        vec = blocksize >= _FLAC_VEC_MIN
        if vec and bit_ctx is None:
            b = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
            bit_ctx = (b, np.flatnonzero(b))
        if decorrelated:
            # the SIDE channel (left-right) needs one extra bit; which
            # subframe is the side depends on the assignment
            side_slot = 0 if ch_code == 0b1001 else 1
            if vec:
                s0 = _flac_subframe_vec(
                    br, *bit_ctx, blocksize, bps + (side_slot == 0))
                s1 = _flac_subframe_vec(
                    br, *bit_ctx, blocksize, bps + (side_slot == 1))
                if ch_code == 0b1000:  # left/side
                    left = s0
                    right = s0 - s1
                elif ch_code == 0b1001:  # side/right
                    right = s1
                    left = s1 + s0
                else:  # mid/side: recover the parity bit mid dropped
                    m2 = (s0 << 1) | (s1 & 1)
                    left = (m2 + s1) >> 1
                    right = (m2 - s1) >> 1
            else:
                s0 = _flac_subframe(br, blocksize, bps + (side_slot == 0))
                s1 = _flac_subframe(br, blocksize, bps + (side_slot == 1))
                if ch_code == 0b1000:  # left/side
                    left = s0
                    right = [x - s for x, s in zip(s0, s1)]
                elif ch_code == 0b1001:  # side/right
                    right = s1
                    left = [r + s for r, s in zip(s1, s0)]
                else:  # mid/side: recover the parity bit mid dropped
                    left, right = [], []
                    for m, s in zip(s0, s1):
                        m2 = (m << 1) | (s & 1)
                        left.append((m2 + s) >> 1)
                        right.append((m2 - s) >> 1)
            chans[0].append(left[:take])
            chans[1].append(right[:take])
        else:
            for c in range(channels):
                sub = (
                    _flac_subframe_vec(br, *bit_ctx, blocksize, bps)
                    if vec else _flac_subframe(br, blocksize, bps)
                )
                chans[c].append(sub[:take])
        br.align()
        body_end = br.bitpos // 8
        if _flac_crc16(buf[frame_start:body_end]) != br.read(16):
            raise ValueError("flac: frame CRC-16 mismatch")
        decoded += take
        pos = br.bitpos // 8
    flat = np.empty(decoded * channels, dtype=np.int64)
    for c in range(channels):
        if chans[c]:
            flat[c::channels] = np.concatenate(
                [np.asarray(ch, dtype=np.int64) for ch in chans[c]]
            )
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if flat.size and (flat.max() > hi or flat.min() < lo):
        raise ValueError(f"flac: decoded sample out of int{bps} range")
    return rate, channels, flat.astype(np.int16 if bps <= 16 else np.int32)


def parse_audio(payload: bytes):
    """Magic-byte audio dispatch (the audio twin of the image dispatch):
    ``fLaC`` → parse_flac, RIFF → parse_wav. MP3/AAC stay import-gated
    (lossy, patent-era DSP — not hash-oracle-able the way lossless and
    table-driven codecs are)."""
    buf = bytes(payload or b"")
    if buf[:4] == b"fLaC":
        return parse_flac(buf)
    return parse_wav(buf)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """WAV or FLAC payloads (``parse_audio``) → per-clip features via
    ``mapInPandas`` (Arrow-batched): frame count, duration, mean
    absolute amplitude, peak. Amplitude statistics are exact-integer
    sums (int64 — int16's |−32768| overflows its own width, so abs
    happens AFTER the widening cast) divided once in double, the same
    IEEE op the SQL oracle performs. Undecodable payloads yield
    ``decode_ok=false`` with null features instead of failing the batch
    — one corrupt blob must not kill a 100 TB scan."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {k.name: [] for k in AUDIO_FEATURE_SCHEMA}
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            # ADPCM payloads decode through ONE transposed walk across
            # the whole batch (r17, guide §4.2) — `pre` holds the decoded
            # samples, the quarantining ValueError, or None (other
            # formats, routed through the per-row dispatch below)
            pre = decode_wav_adpcm_batch(payloads)
            for mid, payload, fast in zip(pdf["media_id"], payloads, pre):
                try:
                    import math

                    if isinstance(fast, ValueError):
                        raise fast
                    rate, ch, samples = (
                        fast if fast is not None else parse_audio(payload)
                    )
                    a = np.abs(samples.astype(np.int64))
                    frames = samples.size // ch
                    # fixed-point half-up (floor(x*1e6+0.5)/1e6), NOT
                    # round(): 61 frames / 16000 Hz = 0.0038125 is a
                    # 6-decimal TIE, where Python rounds half-even and
                    # SQL half-up — the registry's cross-engine
                    # convention sidesteps the mode entirely
                    row = (
                        True,
                        rate,
                        ch,
                        frames,
                        math.floor(frames * 1.0 / rate * 1e6 + 0.5) / 1e6,
                        math.floor(
                            int(a.sum()) * 1.0 / max(samples.size, 1) * 1e6
                            + 0.5
                        )
                        / 1e6,
                        int(a.max(initial=0)),
                    )
                except ValueError:
                    row = (False, None, None, None, None, None, None)
                for k, v in zip(out, (int(mid), *row)):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=AUDIO_FEATURE_SCHEMA
    )


def synth_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic WAV payloads keyed by doc id — REAL RIFF
    bytes whose sample stream is arithmetically predictable, so a SQL
    oracle derives the decoded features without a decoder:
    ``channels = 1 + doc_id % 2``, ``rate = 8000 + (doc_id % 3) * 4000``,
    ``frames = 50 + doc_id % 40``, interleaved sample ``i`` =
    ``(doc_id*53 + i*7) % 65536 - 32768`` (full int16 dynamic range, so
    the |−32768| widening contract stays exercised)."""

    def payload(did: int) -> bytes:
        ch = 1 + did % 2
        rate = 8000 + (did % 3) * 4000
        i = np.arange((50 + did % 40) * ch, dtype=np.int64)
        return encode_wav(rate, ch, (did * 53 + i * 7) % 65536 - 32768)

    return _synth_media(docs, payload, spread=False)


def synth_ulaw_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic G.711 mu-law WAV payloads keyed by doc id
    — REAL format-7 RIFF bytes: ``rate = 8000`` (the telephony rate),
    mono, ``frames = 60 + doc_id % 50``, mu-law BYTE at sample ``i`` =
    ``(doc_id * 29 + i * 11) % 256`` (every code point exercised), so a
    SQL oracle derives the EXPANDED int16 stream by transcribing the
    CCITT expansion arithmetic."""

    def payload(did: int) -> bytes:
        i = np.arange(60 + did % 50, dtype=np.int64)
        ulaw = ((did * 29 + i * 11) % 256).astype(np.uint8)
        return encode_wav_ulaw(8000, 1, ulaw.tobytes())

    return _synth_media(docs, payload, spread=False)


def synth_adpcm_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic IMA ADPCM WAV payloads keyed by doc id —
    REAL format-17 RIFF bytes (r11): ``rate = 11025``, one block,
    channel count cycling ``doc_id % 3`` → MONO / STEREO / QUAD (r13
    late: the >2-channel quarantine closed; the 4-byte channel-group
    interleave is channel-count-generic). Per-channel code count: mono
    ``64 + (doc_id % 48) * 2`` (even → whole data bytes), multi
    ``64 + (doc_id % 12) * 8`` (multiple of the 8-code group); frames =
    codes + 1 including the header sample. 4-bit code for channel ``c``
    at step ``i`` = ``(doc_id*13 + c*5 + i*7) % 16`` (every code point
    exercised), initial predictor ``((doc_id*37 + c*11) % 256 - 128) *
    16``, initial step index ``(doc_id + c*7) % 89`` (every table row
    exercised), so a SQL oracle derives the EXPANDED int16 stream by
    transcribing the IMA step/index recurrence as a recursive CTE over
    (doc, channel). Multipliers 13/7·37/29 collide with no other audio
    fixture."""

    def payload(did: int) -> bytes:
        ch = (1, 2, 4)[did % 3]
        nibs = 64 + (did % 48) * 2 if ch == 1 else 64 + (did % 12) * 8
        i7 = np.arange(nibs, dtype=np.int64) * 7
        chans = [
            (((did * 13 + c * 5) + i7) % 16).astype(np.uint8).tobytes()
            for c in range(ch)
        ]
        preds = [((did * 37 + c * 11) % 256 - 128) * 16 for c in range(ch)]
        idxs = [(did + c * 7) % 89 for c in range(ch)]
        if ch == 1:
            return encode_wav_adpcm(11025, preds[0], idxs[0], chans[0])
        return encode_wav_adpcm(11025, preds, idxs, chans)

    return _synth_media(docs, payload)


def synth_msadpcm_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic Microsoft ADPCM WAV payloads keyed by doc
    id — REAL format-2 RIFF bytes (r12): ``rate = 11025``, one block,
    alternating MONO (even doc_id) and STEREO (odd doc_id — per-nibble
    channel interleave, high→L). Per-channel code count: mono
    ``64 + (doc_id % 48) * 2`` (even → whole data bytes), stereo
    ``64 + (doc_id % 24) * 4``; frames = codes + 2 (sample2 and sample1
    from the header play first). The code stream is SHRINK-HEAVY by
    design: every 8th step carries a full-range code
    ``(doc_id*19 + c*5 + (i//8)*7) % 16`` and the steps between carry
    small codes ``(doc_id + c + i) % 4`` — across the corpus every code
    point (and so every adaptation-table row) is exercised, while the
    delta stays bounded (measured max 1464 over 3000 docs). A UNIFORM
    code stream is adversarial for MS ADPCM: the adaptation table's
    geometric mean is ×1.35 per step, so delta grows EXPONENTIALLY on
    uniform codes (real encoders emit mostly-small codes precisely
    because delta tracks the residual) — unbounded delta overflows any
    fixed-width decoder and the SQL oracle's int64. Predictor index
    ``(doc_id + c) % 7`` (every standard coefficient pair exercised),
    initial delta ``16 + (doc_id*7 + c*13) % 480``, initial samples
    ``s1 = ((doc_id*31 + c*17) % 256 - 128) * 16`` and
    ``s2 = ((doc_id*23 + c*19) % 256 - 128) * 16``, so a SQL oracle
    derives the EXPANDED int16 stream by transcribing the MS ADPCM
    recurrence (floor predictor, signed nibble, int16 clamp, delta
    adaptation with the 16 floor) as a recursive CTE over (doc,
    channel). Multipliers 19/5/3·31/23 collide with no other audio
    fixture (IMA uses 13/5/7·37, µ-law 29/11)."""

    def payload(did: int) -> bytes:
        ch = 1 if did % 2 == 0 else 2
        nibs = 64 + (did % 48) * 2 if ch == 1 else 64 + (did % 24) * 4
        iv = np.arange(nibs, dtype=np.int64)
        spike = iv % 8 == 0
        chans = [
            np.where(
                spike,
                (did * 19 + c * 5 + (iv // 8) * 7) % 16,
                (did + c + iv) % 4,
            ).astype(np.uint8).tobytes()
            for c in range(ch)
        ]
        bpred = [(did + c) % 7 for c in range(ch)]
        deltas = [16 + (did * 7 + c * 13) % 480 for c in range(ch)]
        s1s = [((did * 31 + c * 17) % 256 - 128) * 16 for c in range(ch)]
        s2s = [((did * 23 + c * 19) % 256 - 128) * 16 for c in range(ch)]
        if ch == 1:
            return encode_wav_msadpcm(
                11025, bpred[0], deltas[0], s1s[0], s2s[0], chans[0]
            )
        return encode_wav_msadpcm(11025, bpred, deltas, s1s, s2s, chans)

    return _synth_media(docs, payload)


def synth_flac_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic FLAC payloads keyed by doc id — REAL
    ``fLaC`` streams (r13): ``rate = 16000``, alternating MONO (even
    doc_id) and STEREO (odd — channel assignment cycling
    ``(doc_id // 2) % 4``: independent / left-side / right-side /
    mid-side, so every decorrelation mode is corpus-exercised;
    losslessness makes the oracle mode-blind), ``frames = 60 +
    doc_id % 60`` over 48-sample blocks (2-3 frames per file, partial
    tail always present), subframe strategy cycling ``doc_id % 5``:
    CONSTANT / VERBATIM / FIXED-1 / FIXED-2 / LPC-2 (coefs (3, -2),
    shift 1), BIT DEPTH cycling ``(doc_id // 3) % 4`` → 16 / 8 / 24 /
    32 (r13 late closed the non-16-bit quarantine; r14 adds RFC 9639's
    32-bit code point, the last fixed-depth tier — the depth only
    changes the sample modulus, so one oracle certifies every depth
    tier). Sample ``i`` of channel ``c`` =
    ``(doc_id*47 + c*31 + i*9) % 2^bits - 2^(bits-1)`` (full dynamic
    range at every depth, the mod-wrap spikes exercise long Rice
    quotients), except the CONSTANT variant which drops the ``i``
    term. FLAC is LOSSLESS, so the SQL oracle recomputes features from
    this closed form directly — no recurrence transcription needed;
    any codec bug (Rice overlap, CRC, predictor, warm-up, block split,
    depth-code mapping) changes decoded samples and hash-fails.
    Multipliers 47/31/9 collide with no other audio fixture."""

    def payload(did: int) -> bytes:
        ch = 1 + did % 2
        frames = 60 + did % 60
        variant = did % 5
        bits = (16, 8, 24, 32)[(did // 3) % 4]
        mod, half = 1 << bits, 1 << (bits - 1)
        i = np.arange(frames, dtype=np.int64)
        interleaved = np.empty(frames * ch, dtype=np.int64)
        for c in range(ch):
            if variant == 0:
                interleaved[c::ch] = (did * 47 + c * 31) % mod - half
            else:
                interleaved[c::ch] = (did * 47 + c * 31 + i * 9) % mod - half
        mode = (
            "independent" if ch == 1 else
            ("independent", "left_side", "right_side", "mid_side")[
                (did // 2) % 4
            ]
        )
        return encode_flac(
            16000, ch, interleaved, variant=variant, channel_mode=mode,
            bits=bits,
        )

    return _synth_media(docs, payload)


# --- JPEG (baseline JFIF) ---------------------------------------------------
#
# Dependency-free baseline-DCT JPEG codec (r8 — r7 VERDICT item 5): JPEG
# is the first format a real image corpus hits, and baseline JFIF
# (huffman + IDCT) is numpy-vectorizable the same way the PNG unfilter
# work was. Decoder scope — the baseline common case: SOF0, 8-bit
# precision, 1 or 3 components, any sampling factors up to 2×2 (4:4:4 /
# 4:2:2 / 4:2:0), restart markers. Progressive (SOF2), arithmetic
# coding, 12-bit, and hierarchical variants raise ValueError — the
# quarantine contract, same as PNG's unsupported variants. The encoder
# is the fixture side (like encode_png): spec-conformant 4:4:4 baseline
# output any JPEG implementation reads; its Huffman tables are fixed-
# length canonical codes (legal, and the decoder reads tables from the
# file's own DHT segments — never assumes the Annex K defaults).

_JPEG_STD_QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
_JPEG_STD_QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)


def _zigzag_indices() -> np.ndarray:
    """The 64-entry zigzag scan order, generated (not hand-typed): walk
    the 15 anti-diagonals, alternating direction."""
    order = []
    for s in range(15):
        cells = [(y, s - y) for y in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            cells.reverse()  # even diagonals run bottom-left → top-right
        order.extend(y * 8 + x for y, x in cells)
    return np.array(order, dtype=np.int64)


_ZIGZAG = _zigzag_indices()
_UNZIGZAG = np.argsort(_ZIGZAG)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis: forward F = C·x·Cᵀ, inverse
    x = Cᵀ·F·C."""
    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0, :] = np.sqrt(1.0 / 8.0)
    return c


_DCT_C = _dct_matrix()


def _jpeg_category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            b = (self._acc >> self._nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing per spec
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


# Fixed-length canonical Huffman tables for the ENCODER: DC categories
# 0-11 at 4 bits (codes 0000..1011 — the all-ones code stays unused, as
# the spec requires), AC symbols 0x00..0xFA minus the undefined
# (run,0) combos at 9 bits. Fixed-length codes are legal Huffman tables;
# the decoder always reconstructs from the file's DHT, so interop holds.
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = sorted(
    {0x00, 0xF0}
    | {(run << 4) | size for run in range(16) for size in range(1, 11)}
)


def _encoder_huff(symbols: list[int], length: int):
    bits = [0] * 17
    bits[length] = len(symbols)
    codes = {sym: (i, length) for i, sym in enumerate(symbols)}
    if len(symbols) >= (1 << length):  # pragma: no cover - static config
        raise ValueError("fixed-length huffman table overflow")
    return bits, symbols, codes


_DC_BITS, _DC_VALS, _DC_CODES = _encoder_huff(_DC_SYMBOLS, 4)
_AC_BITS, _AC_VALS, _AC_CODES = _encoder_huff(_AC_SYMBOLS, 9)


def _encode_block(
    bw: _BitWriter,
    block: np.ndarray,
    quant: np.ndarray,
    dc_pred: int,
    level: float = 128.0,
) -> int:
    """DCT → quantize → zigzag → huffman-encode one 8×8 sample block;
    returns the new DC predictor. ``level`` is the precision's level
    shift (128 for 8-bit, 2048 for the 12-bit extended process)."""
    coef = _DCT_C @ (block.astype(np.float64) - level) @ _DCT_C.T
    q = np.round(coef / quant).astype(np.int64)
    zz = q.reshape(-1)[_ZIGZAG]
    diff = int(zz[0]) - dc_pred
    cat = _jpeg_category(diff)
    code, nbits = _DC_CODES[cat]
    bw.write(code, nbits)
    if cat:
        bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    run = 0
    for v in zz[1:]:
        v = int(v)
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, nb = _AC_CODES[0xF0]  # ZRL
            bw.write(c, nb)
            run -= 16
        size = _jpeg_category(v)
        c, nb = _AC_CODES[(run << 4) | size]
        bw.write(c, nb)
        bw.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if run:
        c, nb = _AC_CODES[0x00]  # EOB
        bw.write(c, nb)
    return int(zz[0])


def encode_jpeg(
    width: int,
    height: int,
    data,
    ncomp: int = 3,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Encode a baseline JFIF JPEG — REAL spec-conformant bytes any JPEG
    implementation decodes. ``data`` is interleaved RGB (``ncomp=3``,
    converted to YCbCr here; ``subsampling`` "4:4:4" or "4:2:0" — the
    latter mean-pools chroma 2×2 and interleaves 4 Y blocks per MCU, the
    dominant layout in real corpora) or a grayscale plane (``ncomp=1``).
    ``precision=12`` (r13 late) emits the EXTENDED sequential process —
    SOF1, a 2048 level shift, and Pq=1 (16-bit) quantization tables —
    for a grayscale plane passed as uint16-LE bytes or a uint16 array.
    Dimensions that aren't multiples of the MCU are edge-replicated to
    the block grid (the decoder crops back). Fixture-side twin of
    ``parse_jpeg``, exactly like encode_png/parse_png."""
    import struct

    if ncomp not in (1, 3):
        raise ValueError("encode_jpeg supports 1 or 3 components")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError("encode_jpeg supports 4:4:4 or 4:2:0")
    if precision not in (8, 12):
        raise ValueError("encode_jpeg supports 8- or 12-bit precision")
    if precision == 12:
        if ncomp != 1:
            raise ValueError("12-bit encode is the grayscale tier")
        if isinstance(data, np.ndarray):
            arr = data.astype(np.int64)
        else:
            arr = np.frombuffer(bytes(data), dtype="<u2").astype(np.int64)
        if arr.size and (arr.min() < 0 or arr.max() > 4095):
            raise ValueError("sample outside 12-bit range")
    else:
        arr = np.frombuffer(bytes(data), dtype=np.uint8)
    if arr.size != width * height * ncomp:
        raise ValueError("raster size mismatch")
    if ncomp == 3:
        rgb = arr.reshape(height, width, 3).astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        quants = [_JPEG_STD_QUANT_LUMA, _JPEG_STD_QUANT_CHROMA]
        comp_q = [0, 1, 1]
        if subsampling == "4:2:0":
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1)] * 3
    else:
        planes = [arr.reshape(height, width).astype(np.float64)]
        quants = [_JPEG_STD_QUANT_LUMA]
        comp_q = [0]
        samp = [(1, 1)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)

    def pad_to(p: np.ndarray, ph: int, pw: int) -> np.ndarray:
        ch, cw = p.shape
        pp = np.empty((ph, pw), dtype=np.float64)
        pp[:ch, :cw] = p
        pp[ch:, :cw] = p[-1:, :]  # edge replication
        pp[:, cw:] = pp[:, cw - 1 : cw]
        return pp

    padded = []
    for ci, p in enumerate(planes):
        hi, vi = samp[ci]
        if (hi, vi) != (hmax, vmax):
            # mean-pool down to the component resolution (chroma in
            # 4:2:0): pad to even dims first, then 2×2 block means
            fy, fx = vmax // vi, hmax // hi
            p = pad_to(
                p,
                (p.shape[0] + fy - 1) // fy * fy,
                (p.shape[1] + fx - 1) // fx * fx,
            )
            p = p.reshape(
                p.shape[0] // fy, fy, p.shape[1] // fx, fx
            ).mean(axis=(1, 3))
        padded.append(pad_to(p, mcus_y * vi * 8, mcus_x * hi * 8))

    # restart_interval > 0 (in MCUs) segments the scan with RSTn markers
    # — each segment byte-aligns, resets DC predictors, and can be
    # decoded independently (the real-corpora resilience feature; camera
    # output uses it routinely). Emitted here so the decoder's DRI/RST
    # path is round-trip-testable, not just claimed.
    scan_parts: list[bytes] = []
    bw = _BitWriter()
    preds = [0] * len(planes)
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                scan_parts.append(bw.flush())
                scan_parts.append(
                    bytes([0xFF, 0xD0 + (mcu_i // restart_interval - 1) % 8])
                )
                bw = _BitWriter()
                preds = [0] * len(planes)
            for ci, p in enumerate(padded):
                hi, vi = samp[ci]
                for by in range(vi):
                    for bx in range(hi):
                        py = (my * vi + by) * 8
                        px = (mx * hi + bx) * 8
                        preds[ci] = _encode_block(
                            bw,
                            p[py : py + 8, px : px + 8],
                            quants[comp_q[ci]],
                            preds[ci],
                            level=float(1 << (precision - 1)),
                        )
            mcu_i += 1
    scan_parts.append(bw.flush())
    scan = b"".join(scan_parts)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    for qi, qt in enumerate(quants):
        zzq = qt.reshape(-1)[_ZIGZAG]
        if precision == 12:
            # extended process: Pq=1, 16-bit big-endian table entries
            seg(0xDB, bytes([0x10 | qi]) + zzq.astype(">u2").tobytes())
        else:
            seg(0xDB, bytes([qi]) + bytes(zzq.astype(np.uint8)))
    sof = struct.pack(">BHHB", precision, height, width, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], comp_q[ci]])
    seg(0xC0 if precision == 8 else 0xC1, sof)  # SOF0 / SOF1 extended
    for tc in (0, 1):  # DC=class 0, AC=class 1; one shared table each
        bits, vals = (_DC_BITS, _DC_VALS) if tc == 0 else (_AC_BITS, _AC_VALS)
        seg(0xC4, bytes([tc << 4]) + bytes(bits[1:]) + bytes(vals))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += b"\x00\x3f\x00"  # Ss=0, Se=63, Ah=Al=0
    seg(0xDA, sos)
    out.extend(scan)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def encode_jpeg_progressive(
    width: int,
    height: int,
    data: bytes,
    ncomp: int = 3,
    subsampling: str = "4:4:4",
) -> bytes:
    """Encode a PROGRESSIVE (SOF2) JFIF JPEG — REAL spec-conformant
    bytes (r13). Quantized coefficients are computed with the IDENTICAL
    math to ``encode_jpeg``, then emitted as a six-stage progression
    per the spec's successive-approximation rules: an interleaved DC
    first scan at Al=1, a DC refinement scan, and per component AC
    first scans over two spectral bands (1-5, 6-63) at Al=1 followed by
    their refinement scans — so a decode of this stream must equal a
    decode of the baseline stream bit for bit (the identity the unit
    suite pins on arbitrary content). DC point transform is an
    arithmetic shift, AC truncates toward zero, newly-nonzero
    refinement coefficients are ±1 with the correction-bit interleave,
    and every block ends its first/refine AC scans with EOB0 (EOB runs
    of length one keep the encoder simple and legal; the DECODER
    handles arbitrary EOBn)."""
    import struct

    if ncomp not in (1, 3):
        raise ValueError("encode_jpeg supports 1 or 3 components")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError("encode_jpeg supports 4:4:4 or 4:2:0")
    arr = np.frombuffer(bytes(data), dtype=np.uint8)
    if arr.size != width * height * ncomp:
        raise ValueError("raster size mismatch")
    if ncomp == 3:
        rgb = arr.reshape(height, width, 3).astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        quants = [_JPEG_STD_QUANT_LUMA, _JPEG_STD_QUANT_CHROMA]
        comp_q = [0, 1, 1]
        samp = [(2, 2), (1, 1), (1, 1)] if subsampling == "4:2:0" else [(1, 1)] * 3
    else:
        planes = [arr.reshape(height, width).astype(np.float64)]
        quants = [_JPEG_STD_QUANT_LUMA]
        comp_q = [0]
        samp = [(1, 1)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)

    def pad_to(p: np.ndarray, ph: int, pw: int) -> np.ndarray:
        ch, cw = p.shape
        pp = np.empty((ph, pw), dtype=np.float64)
        pp[:ch, :cw] = p
        pp[ch:, :cw] = p[-1:, :]
        pp[:, cw:] = pp[:, cw - 1 : cw]
        return pp

    coef_arrays: list[np.ndarray] = []
    for ci, p in enumerate(planes):
        hi, vi = samp[ci]
        if (hi, vi) != (hmax, vmax):
            fy, fx = vmax // vi, hmax // hi
            p = pad_to(
                p,
                (p.shape[0] + fy - 1) // fy * fy,
                (p.shape[1] + fx - 1) // fx * fx,
            )
            p = p.reshape(
                p.shape[0] // fy, fy, p.shape[1] // fx, fx
            ).mean(axis=(1, 3))
        p = pad_to(p, mcus_y * vi * 8, mcus_x * hi * 8)
        by_n, bx_n = p.shape[0] // 8, p.shape[1] // 8
        zz_arr = np.zeros((by_n, bx_n, 64), dtype=np.int64)
        qt = quants[comp_q[ci]]
        for by in range(by_n):
            for bx in range(bx_n):
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = _DCT_C @ (blk - 128.0) @ _DCT_C.T
                zz_arr[by, bx] = np.round(coef / qt).astype(np.int64).reshape(-1)[
                    _ZIGZAG
                ]
        coef_arrays.append(zz_arr)

    def scan_dc_first(al: int) -> bytes:
        bw = _BitWriter()
        preds = [0] * len(planes)
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in range(len(planes)):
                    hi, vi = samp[ci]
                    for by in range(vi):
                        for bx in range(hi):
                            v = int(coef_arrays[ci][my * vi + by, mx * hi + bx, 0]) >> al
                            diff = v - preds[ci]
                            preds[ci] = v
                            cat = _jpeg_category(diff)
                            code, nb = _DC_CODES[cat]
                            bw.write(code, nb)
                            if cat:
                                bw.write(
                                    diff if diff >= 0 else diff + (1 << cat) - 1,
                                    cat,
                                )
        return bw.flush()

    def scan_dc_refine(al: int) -> bytes:
        bw = _BitWriter()
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in range(len(planes)):
                    hi, vi = samp[ci]
                    for by in range(vi):
                        for bx in range(hi):
                            bw.write(
                                (int(coef_arrays[ci][my * vi + by, mx * hi + bx, 0]) >> al) & 1,
                                1,
                            )
        return bw.flush()

    def comp_blocks(ci: int):
        hi, vi = samp[ci]
        cw = (width * hi + hmax - 1) // hmax
        chh = (height * vi + vmax - 1) // vmax
        for by in range((chh + 7) // 8):
            for bx in range((cw + 7) // 8):
                yield coef_arrays[ci][by, bx]

    def scan_ac_first(ci: int, ss: int, se: int, al: int) -> bytes:
        bw = _BitWriter()
        for zz in comp_blocks(ci):
            run = 0
            for k in range(ss, se + 1):
                c = int(zz[k])
                v = (abs(c) >> al) * (1 if c >= 0 else -1)
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, nb = _AC_CODES[0xF0]
                    bw.write(code, nb)
                    run -= 16
                size = _jpeg_category(v)
                code, nb = _AC_CODES[(run << 4) | size]
                bw.write(code, nb)
                bw.write(v if v >= 0 else v + (1 << size) - 1, size)
                run = 0
            if run:
                code, nb = _AC_CODES[0x00]  # EOB0
                bw.write(code, nb)
        return bw.flush()

    def scan_ac_refine(ci: int, ss: int, se: int, al: int) -> bytes:
        ah = al + 1
        bw = _BitWriter()
        for zz in comp_blocks(ci):
            run = 0
            pending: list[int] = []
            emitted_any_tail = False
            for k in range(ss, se + 1):
                c = int(zz[k])
                if abs(c) >> ah:  # history-nonzero: one correction bit
                    pending.append((abs(c) >> al) & 1)
                elif abs(c) >> al:  # newly nonzero: must be magnitude 1
                    code, nb = _AC_CODES[(run << 4) | 1]
                    bw.write(code, nb)
                    bw.write(1 if c > 0 else 0, 1)
                    for bit in pending:
                        bw.write(bit, 1)
                    pending = []
                    run = 0
                else:
                    run += 1
                    if run == 16:
                        code, nb = _AC_CODES[0xF0]  # ZRL
                        bw.write(code, nb)
                        for bit in pending:
                            bw.write(bit, 1)
                        pending = []
                        run = 0
            if run or pending:
                code, nb = _AC_CODES[0x00]  # EOB0 + tail correction bits
                bw.write(code, nb)
                for bit in pending:
                    bw.write(bit, 1)
        return bw.flush()

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for qi, qt in enumerate(quants):
        seg(0xDB, bytes([qi]) + bytes(qt.reshape(-1)[_ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], comp_q[ci]])
    seg(0xC2, sof)  # SOF2 progressive
    for tc in (0, 1):
        bits, vals = (_DC_BITS, _DC_VALS) if tc == 0 else (_AC_BITS, _AC_VALS)
        seg(0xC4, bytes([tc << 4]) + bytes(bits[1:]) + bytes(vals))

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int,
            entropy: bytes) -> None:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, body)
        out.extend(entropy)

    all_ids = [ci + 1 for ci in range(ncomp)]
    sos(all_ids, 0, 0, 0, 1, scan_dc_first(1))
    sos(all_ids, 0, 0, 1, 0, scan_dc_refine(0))
    for ci in range(ncomp):
        sos([ci + 1], 1, 5, 0, 1, scan_ac_first(ci, 1, 5, 1))
        sos([ci + 1], 6, 63, 0, 1, scan_ac_first(ci, 6, 63, 1))
    for ci in range(ncomp):
        sos([ci + 1], 1, 5, 1, 0, scan_ac_refine(ci, 1, 5, 0))
        sos([ci + 1], 6, 63, 1, 0, scan_ac_refine(ci, 6, 63, 0))
    out.extend(b"\xff\xd9")
    return bytes(out)


def _jpeg_lossless_predict(
    arr, y: int, x: int, sel: int, default: int
) -> int:
    """One spec-G.1.2.1 prediction: ``sel`` is the SOS Ss field (1-7).
    Boundary rules: the very first sample predicts the default
    ``2^(P-1)``; the rest of the first line predicts Ra; the first
    column predicts Rb. Ra/Rb/Rc are RECONSTRUCTED neighbors, so
    encoder and decoder walk identical state."""
    if y == 0 and x == 0:
        return default
    if y == 0:
        return int(arr[0, x - 1])
    if x == 0:
        return int(arr[y - 1, 0])
    ra, rb, rc = int(arr[y, x - 1]), int(arr[y - 1, x]), int(arr[y - 1, x - 1])
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # sel == 7


# Lossless-scan Huffman table: categories 0-16 (ssss 16 = the spec's
# extra-bits-free 32768 difference, reachable at 16-bit precision) at a
# fixed 5-bit length — a legal table; decoders rebuild from the DHT.
_LL_BITS, _LL_VALS, _LL_CODES = _encoder_huff(list(range(17)), 5)


def encode_jpeg_lossless(
    width: int,
    height: int,
    data,
    ncomp: int = 1,
    predictor: int = 1,
    precision: int = 8,
) -> bytes:
    """Encode a LOSSLESS (SOF3) JPEG — REAL spec-conformant bytes
    (r13 late: the lossless member of the JPEG quarantine trio closed).
    2-16 bit precision (r13 late: 12/16-bit joins — the precisions
    medical/raw corpora actually carry; ``data`` is uint8 bytes at
    precision ≤ 8, uint16-LE bytes or a uint16 array above), 1
    (grayscale) or 3 (RGB, stored as independent components — lossless
    JPEG defines no color transform) components at 1x1 sampling, one
    interleaved scan whose Ss field selects one of the spec's SEVEN
    predictors. Differences are coded with DC-category Huffman (ssss +
    extra bits, ssss 16 carrying none per the spec) modulo 2^16 per
    G.1.2.1-2; there is no DCT, no quantization, and no point
    transform (Al=0), so decode is bit-exact on ARBITRARY content —
    the FLAC property, not the constant-block trick. Fixture-side twin
    of the parse_jpeg SOF3 branch."""
    import struct

    if ncomp not in (1, 3):
        raise ValueError("encode_jpeg_lossless supports 1 or 3 components")
    if not 1 <= predictor <= 7:
        raise ValueError("lossless predictor must be 1-7")
    if not 2 <= precision <= 16:
        raise ValueError("lossless precision must be 2-16")
    if precision <= 8:
        arr = np.frombuffer(bytes(data), dtype=np.uint8).astype(np.int64)
    elif isinstance(data, np.ndarray):
        arr = data.astype(np.int64)
    else:
        arr = np.frombuffer(bytes(data), dtype="<u2").astype(np.int64)
    if arr.size != width * height * ncomp:
        raise ValueError("raster size mismatch")
    if arr.size and (arr.min() < 0 or arr.max() >= (1 << precision)):
        raise ValueError("sample outside the declared precision")
    arr = arr.reshape(height, width * ncomp)
    planes = [arr[:, ci::ncomp] for ci in range(ncomp)]
    default = 1 << (precision - 1)
    bw = _BitWriter()
    for y in range(height):
        for x in range(width):
            for p in planes:
                px = _jpeg_lossless_predict(p, y, x, predictor, default)
                d = int(p[y, x]) - px
                # modulo-2^16 difference, encoded as its signed rep
                d16 = ((d + 32768) & 0xFFFF) - 32768
                if d16 == -32768:
                    ssss = 16  # the spec's no-extra-bits 32768 case
                else:
                    ssss = _jpeg_category(d16)
                code, nbits = _LL_CODES[ssss]
                bw.write(code, nbits)
                if ssss and ssss != 16:
                    bw.write(
                        d16 if d16 >= 0 else d16 + (1 << ssss) - 1, ssss
                    )
    scan = bw.flush()

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    sof = struct.pack(">BHHB", precision, height, width, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])  # 1x1 sampling; Tq unused
    seg(0xC3, sof)
    seg(0xC4, bytes([0x00]) + bytes(_LL_BITS[1:]) + bytes(_LL_VALS))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, 0])  # Ss=predictor, Se=0, Ah=0, Al=0
    seg(0xDA, sos)
    out.extend(scan)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _parse_jpeg_lossless(buf: bytes) -> tuple[int, int, bytes]:
    """Decode a LOSSLESS (SOF3) JPEG — the predictive process of
    Annex H/G: no DCT, no quantization; each sample is a Huffman-coded
    (DC-category) difference from one of seven neighbor predictors,
    reconstructed modulo 2^16. Scope: 2-16 bit precision (r13 late —
    12/16-bit lossless decodes for real; samples above 8 bits scale to
    the 8-bit feature raster by ``>> (P-8)``, full precision pinned by
    the roundtrip unit suite via decode_jpeg_lossless_planes), 1-4
    components at 1x1 sampling in ONE interleaved scan, point
    transform 0; subsampled or multi-scan lossless and restart-
    interval streams quarantine (ValueError) — the honesty contract.
    A decoded sample outside the declared precision means a corrupt
    stream and quarantines rather than wrapping silently."""
    w, h, prec, planes = decode_jpeg_lossless_planes(buf)
    shift = max(0, prec - 8)
    planes = [p >> shift for p in planes]
    if len(planes) == 1:
        grey = planes[0].astype(np.uint8)
        return w, h, np.repeat(grey[..., None], 3, axis=2).tobytes()
    if len(planes) == 3:
        rgb = np.stack(planes, axis=2).astype(np.uint8)
        return w, h, np.ascontiguousarray(rgb).tobytes()
    raise ValueError("unsupported lossless JPEG: %d components" % len(planes))


def decode_jpeg_lossless_planes(buf: bytes):
    """The SOF3 scanner at FULL precision: returns ``(w, h, precision,
    [int64 plane arrays])`` — the unit-testable core ``
    _parse_jpeg_lossless`` scales for the 8-bit raster contract."""
    import struct

    pos = 2  # caller verified SOI
    huff: dict[int, dict] = {}
    frame = None
    scan_done = False
    planes: list[np.ndarray] = []
    while True:
        if pos + 2 > len(buf):
            if scan_done:
                break
            raise ValueError("truncated JPEG (no SOS)")
        if buf[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xFF:
            pos -= 1
            continue
        if marker == 0xD9:
            break
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(buf):
            raise ValueError("truncated JPEG segment")
        (seglen,) = struct.unpack_from(">H", buf, pos)
        if seglen < 2 or pos + seglen > len(buf):
            raise ValueError("truncated JPEG segment")
        body = buf[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                i += 1
                if i + 16 > len(body):
                    raise ValueError("corrupt JPEG huffman table")
                bits = list(body[i : i + 16])
                i += 16
                n = sum(bits)
                vals = body[i : i + n]
                if len(vals) != n:
                    raise ValueError("corrupt JPEG huffman table")
                i += n
                if tc == 0:
                    huff[th] = _decoder_huff(bits, vals)
        elif marker == 0xC3:
            if frame is not None:
                raise ValueError("JPEG: multiple frames")
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if not 2 <= prec <= 16:
                raise ValueError(
                    "unsupported lossless JPEG: %d-bit precision" % prec
                )
            if not 1 <= nc <= 4:
                raise ValueError("unsupported JPEG: %d components" % nc)
            comps = []
            for ci in range(nc):
                cid, hv, _tq = body[3 + 3 + ci * 3 : 3 + 6 + ci * 3]
                if hv != 0x11:
                    raise ValueError(
                        "unsupported lossless JPEG: subsampled components"
                    )
                comps.append(cid)
            if w <= 0 or h <= 0 or w * h > 1 << 26:
                raise ValueError("jpeg: unreasonable dimensions")
            frame = (h, w, comps, prec)
            planes = [np.zeros((h, w), dtype=np.int64) for _ in comps]
        elif marker == 0xDD:
            (ri,) = struct.unpack_from(">H", body, 0)
            if ri:
                raise ValueError(
                    "unsupported lossless JPEG: restart intervals"
                )
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if scan_done:
                raise ValueError("unsupported lossless JPEG: multi-scan")
            h, w, comps, prec = frame
            ns = body[0]
            if ns != len(comps) or len(body) < 1 + 2 * ns + 3:
                raise ValueError(
                    "unsupported lossless JPEG: non-interleaved scan"
                )
            tds = []
            cid_order = {cid: i for i, cid in enumerate(comps)}
            order = []
            for si in range(ns):
                cs, tbl = body[1 + si * 2], body[2 + si * 2]
                if cs not in cid_order:
                    raise ValueError("JPEG scan references unknown component")
                order.append(cid_order[cs])
                tds.append(tbl >> 4)
            sel = body[1 + 2 * ns]
            al = body[3 + 2 * ns] & 0x0F
            if not 1 <= sel <= 7:
                raise ValueError("lossless JPEG: bad predictor selection")
            if al != 0:
                raise ValueError(
                    "unsupported lossless JPEG: point transform"
                )
            for td in tds:
                if td not in huff:
                    raise ValueError("JPEG scan references missing table")
            br = _BitReader(buf, pos)
            default = 1 << (prec - 1)
            limit = 1 << prec
            try:
                for y in range(h):
                    for x in range(w):
                        for k, ci in enumerate(order):
                            p = planes[ci]
                            s = _huff_decode(br, huff[tds[k]])
                            if s > 16:
                                raise ValueError(
                                    "corrupt lossless JPEG category"
                                )
                            if s == 16:
                                d = 32768
                            elif s:
                                v = br.read_bits(s)
                                d = (
                                    v
                                    if v >= (1 << (s - 1))
                                    else v - (1 << s) + 1
                                )
                            else:
                                d = 0
                            px = _jpeg_lossless_predict(p, y, x, sel, default)
                            val = (px + d) & 0xFFFF
                            if val >= limit:
                                raise ValueError(
                                    "lossless JPEG sample out of range"
                                )
                            p[y, x] = val
            except ValueError as exc:
                if "ended at marker" in str(exc):
                    raise ValueError(
                        "truncated lossless JPEG scan"
                    ) from None
                raise
            scan_done = True
            p2 = br.pos
            while p2 + 1 < len(buf) and not (
                buf[p2] == 0xFF and buf[p2 + 1] not in (0x00, 0xFF)
            ):
                p2 += 1
            pos = p2
        # APPn / COM / DQT (unused in lossless): skipped
    if frame is None or not scan_done:
        raise ValueError("truncated JPEG (no SOS)")
    h, w, comps, prec = frame
    return w, h, prec, planes


# --- arithmetic (QM) entropy coding, ITU-T T.81 Annex D ---------------------
#
# r13 late: the LAST JPEG quarantine closed. The probability-estimation
# state machine is the spec's Table D.3 (Qe value, next-LPS, next-MPS,
# MPS-switch per state) — public-standard constants, verified against
# the system libjpeg's exported `jpeg_aritab` relocation and pinned by
# the cross-decoder tests in tests/test_multimodal.py (the engine's
# decoder must reproduce libjpeg's coefficients bit for bit, and
# libjpeg must decode this engine's streams — the GIF width-sync
# lesson applied to arithmetic coding).

_QM_QE: tuple[int, ...] = (
    0x5A1D, 0x2586, 0x1114, 0x080B, 0x03D8, 0x01DA, 0x00E5, 0x006F,
    0x0036, 0x001A, 0x000D, 0x0006, 0x0003, 0x0001, 0x5A7F, 0x3F25,
    0x2CF2, 0x207C, 0x17B9, 0x1182, 0x0CEF, 0x09A1, 0x072F, 0x055C,
    0x0406, 0x0303, 0x0240, 0x01B1, 0x0144, 0x00F5, 0x00B7, 0x008A,
    0x0068, 0x004E, 0x003B, 0x002C, 0x5AE1, 0x484C, 0x3A0D, 0x2EF1,
    0x261F, 0x1F33, 0x19A8, 0x1518, 0x1177, 0x0E74, 0x0BFB, 0x09F8,
    0x0861, 0x0706, 0x05CD, 0x04DE, 0x040F, 0x0363, 0x02D4, 0x025C,
    0x01F8, 0x01A4, 0x0160, 0x0125, 0x00F6, 0x00CB, 0x00AB, 0x008F,
    0x5B12, 0x4D04, 0x412C, 0x37D8, 0x2FE8, 0x293C, 0x2379, 0x1EDF,
    0x1AA9, 0x174E, 0x1424, 0x119C, 0x0F6B, 0x0D51, 0x0BB6, 0x0A40,
    0x5832, 0x4D1C, 0x438E, 0x3BDD, 0x34EE, 0x2EAE, 0x299A, 0x2516,
    0x5570, 0x4CA9, 0x44D9, 0x3E22, 0x3824, 0x32B4, 0x2E17, 0x56A8,
    0x4F46, 0x47E5, 0x41CF, 0x3C3D, 0x375E, 0x5231, 0x4C0F, 0x4639,
    0x415E, 0x5627, 0x50E7, 0x4B85, 0x5597, 0x504F, 0x5A10, 0x5522,
    0x59EB, 0x5A1D,
)
_QM_NLPS: tuple[int, ...] = (
    1, 14, 16, 18, 20, 23, 25, 28, 30, 33, 35, 9, 10, 12, 15, 36,
    38, 39, 40, 42, 43, 45, 46, 48, 49, 51, 52, 54, 56, 57, 59, 60,
    62, 63, 32, 33, 37, 64, 65, 67, 68, 69, 70, 72, 73, 74, 75, 77,
    78, 79, 48, 50, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 61, 61,
    65, 80, 81, 82, 83, 84, 86, 87, 87, 72, 72, 74, 74, 75, 77, 77,
    80, 88, 89, 90, 91, 92, 93, 86, 88, 95, 96, 97, 99, 99, 93, 95,
    101, 102, 103, 104, 99, 105, 106, 107, 103, 105, 108, 109, 110,
    111, 110, 112, 112, 113,
)
_QM_NMPS: tuple[int, ...] = (
    1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 13, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 9, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48,
    49, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 60, 61, 62, 63, 32,
    65, 66, 67, 68, 69, 70, 71, 72, 73, 74, 75, 76, 77, 78, 79, 48,
    81, 82, 83, 84, 85, 86, 87, 71, 89, 90, 91, 92, 93, 94, 86, 96,
    97, 98, 99, 100, 93, 102, 103, 104, 99, 106, 107, 103, 109, 107,
    111, 109, 111, 113,
)
_QM_SWITCH: tuple[int, ...] = (
    1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 1,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0,
    1, 0,
)


class _QMDecoder:
    """T.81 Annex D arithmetic decoder over one entropy segment.
    Convention notes (pinned by the libjpeg cross tests): the entropy
    stream is 0x00-BYTE-stuffed after every 0xFF data byte (huffman's
    rule — the stuffed zero is NOT code data); hitting a real marker
    feeds zero bytes forever (decoder coasts to the end of the MCU
    walk). Contexts are (index, mps) pairs stored in a bytearray as
    ``index | mps << 7``, libjpeg's compact layout."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos  # next unread byte
        self.c = 0
        self.a = 0
        self.ct = -16  # force two byte-ins before the first decision
        self.marker: int | None = None

    def _byte_in(self) -> int:
        if self.marker is not None:
            return 0
        buf, p = self.buf, self.pos
        if p >= len(buf):
            self.marker = 0xD9
            return 0
        b = buf[p]
        if b == 0xFF:
            nxt = buf[p + 1] if p + 1 < len(buf) else 0xD9
            if nxt == 0x00:
                self.pos = p + 2  # stuffed literal 0xFF
                return 0xFF
            self.marker = nxt
            return 0
        self.pos = p + 1
        return b

    def decode(self, st: bytearray, i: int) -> int:
        # renormalization + data feeding per F.2.2.5 (the two-byte
        # warm-up rides the same loop via the ct init of -16)
        a = self.a
        while a < 0x8000:
            self.ct -= 1
            if self.ct < 0:
                self.c = ((self.c << 8) | self._byte_in()) & 0xFFFFFFFF
                self.ct += 8
                if self.ct < 0:
                    self.ct += 1
                    if self.ct == 0:
                        a = 0x8000  # two initial bytes in: re-init A
            a <<= 1
        sv = st[i]
        idx = sv & 0x7F
        qe = _QM_QE[idx]
        a -= qe
        temp = (a << self.ct) & 0xFFFFFFFF
        if self.c < temp:
            # MPS path
            if a < 0x8000:
                if a < qe:
                    st[i] = (sv & 0x80) ^ (
                        _QM_NLPS[idx] | (_QM_SWITCH[idx] << 7)
                    )
                    sv ^= 0x80
                else:
                    st[i] = (sv & 0x80) ^ _QM_NMPS[idx]
            self.a = a
            return sv >> 7
        # LPS path (conditional exchange)
        self.c -= temp
        if a < qe:
            st[i] = (sv & 0x80) ^ _QM_NMPS[idx]
        else:
            st[i] = (sv & 0x80) ^ (_QM_NLPS[idx] | (_QM_SWITCH[idx] << 7))
            sv ^= 0x80
        self.a = qe
        return sv >> 7


class _QMEncoder:
    """T.81 Annex D arithmetic encoder — the fixture-side twin of
    ``_QMDecoder`` (jcarith-shaped: carry propagation via a pending
    byte + stacked-0xFF accounting, 0x00 byte stuffing after every
    emitted 0xFF)."""

    def __init__(self) -> None:
        self.c = 0
        self.a = 0x10000
        self.sc = 0  # stacked 0xFF bytes that may still overflow
        self.zc = 0  # pending zero bytes
        self.ct = 11
        self.buffer = -1  # last unemitted byte (-1 = none yet)
        self.out = bytearray()

    def _emit(self, b: int) -> None:
        self.out.append(b)

    def _byte_out(self) -> None:
        temp = self.c >> 19
        if temp > 0xFF:
            # carry over the pending byte and all stacked 0xFFs
            if self.buffer >= 0:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0x00)
            self.zc += self.sc  # carried 0xFFs become 0x00s
            self.sc = 0
            self.buffer = temp & 0xFF
        elif temp == 0xFF:
            self.sc += 1  # stack it: may still carry
        else:
            # flush: pending byte + stacked 0xFFs are final
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self._emit(self.buffer)
            if self.sc:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                while self.sc:
                    self._emit(0xFF)
                    self._emit(0x00)  # byte stuffing
                    self.sc -= 1
            self.buffer = temp
        self.c &= 0x7FFFF
        self.ct += 8

    def encode(self, st: bytearray, i: int, val: int) -> None:
        sv = st[i]
        idx = sv & 0x7F
        qe = _QM_QE[idx]
        self.a -= qe
        if val != sv >> 7:
            # LPS: code it in the bottom subinterval unless exchanged
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            st[i] = (sv & 0x80) ^ (_QM_NLPS[idx] | (_QM_SWITCH[idx] << 7))
        else:
            # MPS
            if self.a >= 0x8000:
                return
            if self.a < qe:
                self.c += self.a
                self.a = qe
            st[i] = (sv & 0x80) ^ _QM_NMPS[idx]
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byte_out()
            if self.a >= 0x8000:
                break

    def flush(self) -> bytes:
        # T.81 D.1.8: choose the in-interval code point with the most
        # trailing zeros, then push the remaining bits out
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        if temp < self.c:
            self.c = temp + 0x8000
        else:
            self.c = temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            # final carry
            if self.buffer >= 0:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0x00)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                self._emit(self.buffer)
            if self.sc:
                if self.zc:
                    self.out.extend(b"\x00" * self.zc)
                    self.zc = 0
                while self.sc:
                    self._emit(0xFF)
                    self._emit(0x00)
                    self.sc -= 1
        # emit the two remaining code bytes if nonzero (trailing zero
        # bytes are discardable per the spec)
        if self.c & 0x7FFF800:
            if self.zc:
                self.out.extend(b"\x00" * self.zc)
                self.zc = 0
            b = (self.c >> 19) & 0xFF
            self._emit(b)
            if b == 0xFF:
                self._emit(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self._emit(b)
                if b == 0xFF:
                    self._emit(0x00)
        return bytes(self.out)


def _qm_enc_dc(
    enc: "_QMEncoder",
    dc_stats: bytearray,
    dc_context: int,
    last_dc: int,
    value: int,
    lo: int = 0,
    up: int = 1,
) -> tuple[int, int]:
    """Encode one DC difference (Figures F.4/F.6-F.9) against the
    running predictor; returns updated ``(dc_context, last_dc)``. Used
    by the sequential block walk AND the progressive DC-first scan
    (whose ``value`` is the point-transformed DC)."""
    base = dc_context
    v = value - last_dc
    if v == 0:
        enc.encode(dc_stats, base, 0)
        return 0, last_dc
    last_dc = value
    enc.encode(dc_stats, base, 1)
    if v > 0:
        enc.encode(dc_stats, base + 1, 0)
        pos = base + 2
        sign = 0
    else:
        v = -v
        enc.encode(dc_stats, base + 1, 1)
        pos = base + 3
        sign = 1
    m = 0
    v1 = v - 1
    if v1:
        enc.encode(dc_stats, pos, 1)
        m = 1
        v2 = v1
        pos = 20  # Table F.4: X1
        while v2 >> 1:
            v2 >>= 1
            enc.encode(dc_stats, pos, 1)
            m <<= 1
            pos += 1
    enc.encode(dc_stats, pos, 0)
    if m < (1 << lo) >> 1:
        dc_context = 0
    elif m > (1 << up) >> 1:
        dc_context = 12 + sign * 4
    else:
        dc_context = 4 + sign * 4
    pos += 14
    mm = m
    while mm := mm >> 1:
        enc.encode(dc_stats, pos, 1 if (mm & v1) else 0)
    return dc_context, last_dc


def _qm_enc_ac_band(
    enc: "_QMEncoder",
    ac_stats: bytearray,
    fixed: bytearray,
    zz: list,
    k_lo: int,
    k_hi: int,
    kx: int = 5,
) -> None:
    """Encode the nonzero AC coefficients of ``zz`` over zigzag band
    ``[k_lo, k_hi]`` (Figures F.5-F.9). The sequential walk is the
    full band (1, 63); progressive AC-first scans pass the spectral
    band with point-transformed values."""
    ke = k_hi
    while ke >= k_lo and zz[ke] == 0:
        ke -= 1
    k = k_lo
    while k <= ke:
        base = 3 * (k - 1)
        enc.encode(ac_stats, base, 0)  # not EOB
        while zz[k] == 0:
            enc.encode(ac_stats, base + 1, 0)
            base += 3
            k += 1
        enc.encode(ac_stats, base + 1, 1)
        v = int(zz[k])
        if v > 0:
            enc.encode(fixed, 0, 0)
        else:
            v = -v
            enc.encode(fixed, 0, 1)
        pos = base + 2
        m = 0
        v1 = v - 1
        if v1:
            enc.encode(ac_stats, pos, 1)
            m = 1
            v2 = v1
            if v2 >> 1:
                v2 >>= 1
                enc.encode(ac_stats, pos, 1)
                m <<= 1
                pos = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(ac_stats, pos, 1)
                    m <<= 1
                    pos += 1
        enc.encode(ac_stats, pos, 0)
        pos += 14
        mm = m
        while mm := mm >> 1:
            enc.encode(ac_stats, pos, 1 if (mm & v1) else 0)
        k += 1
    if k <= k_hi:
        enc.encode(ac_stats, 3 * (k - 1), 1)  # EOB


def _qm_encode_block(
    enc: "_QMEncoder",
    zz: list,
    dc_stats: bytearray,
    ac_stats: bytearray,
    fixed: bytearray,
    dc_context: int,
    last_dc: int,
    lo: int = 0,
    up: int = 1,
    kx: int = 5,
) -> tuple[int, int]:
    """Encode one SEQUENTIAL block: DC difference + the full AC band
    (the encoder twin of decode_arith_scan's sequential walk). Returns
    the updated ``(dc_context, last_dc)`` conditioning state."""
    dc_context, last_dc = _qm_enc_dc(
        enc, dc_stats, dc_context, last_dc, int(zz[0]), lo, up
    )
    _qm_enc_ac_band(enc, ac_stats, fixed, zz, 1, 63, kx)
    return dc_context, last_dc


def encode_jpeg_arithmetic(width: int, height: int, data: bytes) -> bytes:
    """Encode a sequential ARITHMETIC (SOF9) JPEG — REAL spec-conformant
    bytes (r13 late: the LAST JPEG quarantine closed). Grayscale tier:
    the same DCT/quantization math as ``encode_jpeg``, entropy-coded by
    the T.81 QM coder instead of Huffman (DAC conditioning L=0/U=1/
    Kx=5, the interchange defaults). The cross tests pin this encoder
    BYTE-FOR-BYTE against the system libjpeg on identical quantized
    coefficients and pin parse_jpeg's SOF9 branch against libjpeg's
    decode — the GIF width-sync lesson: a symmetric convention bug
    cannot round-trip invisibly."""
    import struct

    arr = np.frombuffer(bytes(data), dtype=np.uint8)
    if arr.size != width * height:
        raise ValueError("raster size mismatch")
    plane = arr.reshape(height, width).astype(np.float64)
    bx_n = (width + 7) // 8
    by_n = (height + 7) // 8
    padded = np.empty((by_n * 8, bx_n * 8), dtype=np.float64)
    padded[:height, :width] = plane
    padded[height:, :width] = plane[-1:, :]
    padded[:, width:] = padded[:, width - 1 : width]

    enc = _QMEncoder()
    dc_stats = bytearray(64)
    ac_stats = bytearray(256)
    fixed = bytearray([113])
    dc_context = 0
    last_dc = 0
    for by in range(by_n):
        for bx in range(bx_n):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = _DCT_C @ (block - 128.0) @ _DCT_C.T
            q = np.round(coef / _JPEG_STD_QUANT_LUMA).astype(np.int64)
            zz = q.reshape(-1)[_ZIGZAG].tolist()
            dc_context, last_dc = _qm_encode_block(
                enc, zz, dc_stats, ac_stats, fixed, dc_context, last_dc
            )
    scan = enc.flush()

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    zzq = _JPEG_STD_QUANT_LUMA.reshape(-1)[_ZIGZAG]
    seg(0xDB, bytes([0]) + bytes(zzq.astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    seg(0xC9, sof)
    # DAC: DC table 0 conditioning U<<4|L = 0x10; AC table 0 Kx = 5
    seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out.extend(scan)
    out.extend(b"\xff\xd9")
    return bytes(out)


def encode_jpeg_arithmetic_progressive(
    width: int, height: int, data: bytes
) -> bytes:
    """Encode a PROGRESSIVE ARITHMETIC (SOF10) JPEG — REAL bytes
    (r13 late): the Annex G successive-approximation scan kinds
    entropy-coded by the QM coder. Emits libjpeg's exact grayscale
    ``jpeg_simple_progression`` script — DC first (Al=1), AC first
    over bands 1-5 and 6-63 (Al=2), AC refine (Ah=2→Al=1), DC refine
    (fixed-bin correction bits), AC refine (Ah=1→Al=0) — so the cross
    tests can compare entropy segments byte-for-byte. Each scan gets
    fresh statistics areas and its own QM flush, mirroring libjpeg's
    per-scan start_pass/finish_pass."""
    import struct

    arr = np.frombuffer(bytes(data), dtype=np.uint8)
    if arr.size != width * height:
        raise ValueError("raster size mismatch")
    plane = arr.reshape(height, width).astype(np.float64)
    bx_n = (width + 7) // 8
    by_n = (height + 7) // 8
    padded = np.empty((by_n * 8, bx_n * 8), dtype=np.float64)
    padded[:height, :width] = plane
    padded[height:, :width] = plane[-1:, :]
    padded[:, width:] = padded[:, width - 1 : width]
    blocks = []
    for by in range(by_n):
        for bx in range(bx_n):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = _DCT_C @ (block - 128.0) @ _DCT_C.T
            q = np.round(coef / _JPEG_STD_QUANT_LUMA).astype(np.int64)
            blocks.append(q.reshape(-1)[_ZIGZAG].tolist())

    def scan_dc_first(al: int) -> bytes:
        enc = _QMEncoder()
        st = bytearray(64)
        ctx, last = 0, 0
        for zz in blocks:
            ctx, last = _qm_enc_dc(enc, st, ctx, last, int(zz[0]) >> al)
        return enc.flush()

    def scan_dc_refine(al: int) -> bytes:
        enc = _QMEncoder()
        fixed = bytearray([113])
        for zz in blocks:
            enc.encode(fixed, 0, (int(zz[0]) >> al) & 1)
        return enc.flush()

    def scan_ac_first(ss: int, se: int, al: int) -> bytes:
        enc = _QMEncoder()
        sta = bytearray(256)
        fixed = bytearray([113])
        for zz in blocks:
            # point transform: magnitude shift, sign preserved
            band = list(zz)
            for k in range(ss, se + 1):
                v = int(zz[k])
                band[k] = -((-v) >> al) if v < 0 else v >> al
            _qm_enc_ac_band(enc, sta, fixed, band, ss, se)
        return enc.flush()

    def scan_ac_refine(ss: int, se: int, ah: int, al: int) -> bytes:
        enc = _QMEncoder()
        sta = bytearray(256)
        fixed = bytearray([113])
        for zz in blocks:
            mags_al = [0] * 64
            mags_ah = [0] * 64
            for k in range(ss, se + 1):
                v = int(zz[k])
                a = -v if v < 0 else v
                mags_al[k] = a >> al
                mags_ah[k] = a >> ah
            ke = se
            while ke >= ss and mags_al[ke] == 0:
                ke -= 1
            kex = se
            while kex >= ss and mags_ah[kex] == 0:
                kex -= 1
            k = ss
            while k <= ke:
                base = 3 * (k - 1)
                if k > kex:
                    enc.encode(sta, base, 0)  # not EOB yet
                while True:
                    t = mags_al[k]
                    if t:
                        if t >> 1:  # history-nonzero: correction bit
                            enc.encode(sta, base + 2, t & 1)
                        else:  # newly nonzero: place ±1
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
                enc.encode(sta, 3 * (k - 1), 1)  # EOB
        return enc.flush()

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    zzq = _JPEG_STD_QUANT_LUMA.reshape(-1)[_ZIGZAG]
    seg(0xDB, bytes([0]) + bytes(zzq.astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    seg(0xCA, sof)  # SOF10: progressive arithmetic
    dac = bytes([0x00, 0x10, 0x10, 0x05])

    def sos(ss: int, se: int, ah: int, al: int, ent: bytes) -> None:
        seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        out.extend(ent)

    seg(0xCC, dac)
    sos(0, 0, 0, 1, scan_dc_first(1))
    seg(0xCC, dac)
    sos(1, 5, 0, 2, scan_ac_first(1, 5, 2))
    seg(0xCC, dac)
    sos(6, 63, 0, 2, scan_ac_first(6, 63, 2))
    seg(0xCC, dac)
    sos(1, 63, 2, 1, scan_ac_refine(1, 63, 2, 1))
    sos(0, 0, 1, 0, scan_dc_refine(0))
    seg(0xCC, dac)
    sos(1, 63, 1, 0, scan_ac_refine(1, 63, 1, 0))
    out.extend(b"\xff\xd9")
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, stops at markers.
    ``marker`` holds the pending marker byte once one is hit."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self._acc = 0
        self._nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.pos >= len(self.buf):
            raise ValueError("truncated JPEG scan")
        b = self.buf[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.buf):
                raise ValueError("truncated JPEG scan")
            nxt = self.buf[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed literal 0xFF
            else:
                self.marker = nxt
                self.pos += 1
                raise ValueError("JPEG scan data ended at marker")
        self._acc = (self._acc << 8) | b
        self._nbits += 8

    def read_bit(self) -> int:
        if self._nbits == 0:
            self._fill()
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self._acc = 0
        self._nbits = 0


def _decoder_huff(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """(length, code) → symbol from a DHT (BITS, HUFFVAL) pair — the
    canonical code construction from the spec."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise ValueError("corrupt JPEG huffman table")
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("corrupt JPEG huffman stream")


def _receive_extend(br: _BitReader, size: int) -> int:
    if size == 0:
        return 0
    v = br.read_bits(size)
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def parse_jpeg(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a JFIF JPEG — dependency-free. Returns
    ``(width, height, raster)``, interleaved RGB (grayscale replicates,
    the parse_png grey convention). Supports 8-bit SOF0 (baseline),
    SOF2 (PROGRESSIVE, r13 — spectral selection and successive
    approximation: interleaved or single-component DC first/refine
    scans, single-component AC first/refine scans with EOB runs and the
    correction-bit interleave), SOF1 at 8/12-bit (extended sequential,
    r13 late — Pq=1 quant tables, top-8-bit feature raster), SOF3
    (LOSSLESS predictive, r13 late, 2-16 bit), and SOF9 (sequential
    ARITHMETIC, r13 late — the T.81 QM coder with DAC conditioning,
    cross-pinned against the system libjpeg in the unit suite); 1 or 3
    components, sampling factors up to 2×2, restart markers in any
    huffman scan. Coefficients accumulate across scans and
    dequantize+IDCT once at EOI, so a progressive stream decodes
    bit-identically to the baseline coding of the same quantized
    coefficients. Everything else — progressive/lossless ARITHMETIC
    processes (SOF10/11/13-15), hierarchical SOFs, restart-interval
    arithmetic streams, unknown markers mid-scan — raises
    ``ValueError`` (quarantine contract)."""
    import struct

    buf = bytes(payload)
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    dc_cond: dict[int, tuple[int, int]] = {}  # DAC: Tb -> (L, U)
    ac_cond: dict[int, int] = {}  # DAC: Tb -> Kx
    frame = None  # (h, w, comps, progressive, prec, arith); comps = [(cid, hi, vi, tq)]
    coefs: list[np.ndarray] = []  # per comp: (blocks_y, blocks_x, 64) zigzag
    restart_interval = 0
    scans_done = 0

    def decode_scan(scan_comps, ss, se, ah, al, start: int) -> int:
        """Entropy-decode one scan into ``coefs``; returns the byte
        position of the next marker. ``scan_comps`` = [(ci, td, ta)]."""
        nonlocal restart_interval
        h, w, comps, progressive, prec, arith = frame
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        br = _BitReader(buf, start)
        preds = {ci: 0 for ci, _, _ in scan_comps}
        eobrun = 0

        def check_tables() -> None:
            for ci, td, ta in scan_comps:
                if ss == 0 and not (ah and progressive) and td not in huff_dc:
                    raise ValueError("JPEG scan references missing huffman table")
                if (not progressive or ss > 0) and ta not in huff_ac:
                    raise ValueError("JPEG scan references missing huffman table")

        check_tables()

        def dc_first(zz, ci, td, shift):
            cat = _huff_decode(br, huff_dc[td])
            if cat > 11:
                raise ValueError("corrupt JPEG DC category")
            preds[ci] += _receive_extend(br, cat)
            zz[0] = preds[ci] << shift

        def dc_refine(zz):
            if br.read_bit():
                zz[0] |= 1 << al

        def full_band(zz, ci, td, ta):
            dc_first(zz, ci, td, 0)
            k = 1
            while k < 64:
                rs = _huff_decode(br, huff_ac[ta])
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:
                        k += 16  # ZRL
                        continue
                    break  # EOB
                k += run
                if k > 63:
                    raise ValueError("corrupt JPEG AC run")
                zz[k] = _receive_extend(br, size)
                k += 1

        def ac_first(zz, ta):
            nonlocal eobrun
            if eobrun:
                eobrun -= 1
                return
            k = ss
            while k <= se:
                rs = _huff_decode(br, huff_ac[ta])
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << run) - 1
                    if run:
                        eobrun += br.read_bits(run)
                    return
                k += run
                if k > se:
                    raise ValueError("corrupt JPEG AC run")
                zz[k] = _receive_extend(br, size) << al
                k += 1

        def ac_refine(zz, ta):
            # the correction-bit interleave from the spec (G.1.2.3):
            # history-nonzero coefficients consume one magnitude bit
            # whenever the position is crossed; newly-nonzero ±1<<al
            # values place after skipping `run` zero-history positions
            nonlocal eobrun
            p1, m1 = 1 << al, -1 << al
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = _huff_decode(br, huff_ac[ta])
                    run, size = rs >> 4, rs & 0x0F
                    val = 0
                    if size == 0:
                        if run != 15:
                            # EOBn covers the CURRENT block too: the
                            # tail walk below consumes its correction
                            # bits, then decrements
                            eobrun = 1 << run
                            if run:
                                eobrun += br.read_bits(run)
                            break
                        # ZRL: skip 16 zero-history positions
                    elif size == 1:
                        val = p1 if br.read_bit() else m1
                    else:
                        raise ValueError("corrupt JPEG refinement symbol")
                    while k <= se:
                        if zz[k]:
                            if br.read_bit() and not (zz[k] & p1):
                                zz[k] += p1 if zz[k] > 0 else m1
                        else:
                            if run == 0:
                                break
                            run -= 1
                        k += 1
                    if val and k <= se:
                        zz[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if zz[k]:
                        if br.read_bit() and not (zz[k] & p1):
                            zz[k] += p1 if zz[k] > 0 else m1
                    k += 1
                eobrun -= 1

        def decode_unit(ci, td, ta, by, bx):
            # decode into a plain python list and write back once:
            # per-coefficient numpy setitem inside the huffman loop
            # measured 2.5x slower on the baseline bench path
            zz_np = coefs[ci][by, bx]
            # baseline scans own the whole band, so the prior state is
            # irrelevant — skip the tolist
            zz = zz_np.tolist() if progressive else [0] * 64
            if not progressive:
                full_band(zz, ci, td, ta)
            elif ss == 0 and ah == 0:
                dc_first(zz, ci, td, al)
            elif ss == 0:
                dc_refine(zz)
            elif ah == 0:
                ac_first(zz, ta)
            else:
                ac_refine(zz, ta)
            zz_np[:] = zz

        def restart(unit_i: int) -> None:
            nonlocal eobrun
            if restart_interval and unit_i and unit_i % restart_interval == 0:
                br.align()
                if br.pos + 2 <= len(buf) and buf[br.pos] == 0xFF and (
                    0xD0 <= buf[br.pos + 1] <= 0xD7
                ):
                    br.pos += 2
                for ci in preds:
                    preds[ci] = 0
                eobrun = 0

        try:
            if len(scan_comps) > 1:
                unit = 0
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        restart(unit)
                        for ci, td, ta in scan_comps:
                            _, hi, vi, _ = comps[ci]
                            for by in range(vi):
                                for bx in range(hi):
                                    decode_unit(
                                        ci, td, ta, my * vi + by, mx * hi + bx
                                    )
                        unit += 1
            else:
                # non-interleaved: the scan covers the component's OWN
                # block grid (ceil of its scaled dims), not MCU padding
                ci, td, ta = scan_comps[0]
                _, hi, vi, _ = comps[ci]
                cw = (w * hi + hmax - 1) // hmax
                chh = (h * vi + vmax - 1) // vmax
                bx_n = (cw + 7) // 8
                by_n = (chh + 7) // 8
                unit = 0
                for by in range(by_n):
                    for bx in range(bx_n):
                        restart(unit)
                        decode_unit(ci, td, ta, by, bx)
                        unit += 1
        except ValueError as e:
            if "ended at marker" not in str(e):
                raise
            raise ValueError(
                "truncated JPEG scan (marker inside MCU)"
            ) from None
        # entropy data ends at a byte boundary; the next marker follows
        # (optionally after 0xFF fill bytes)
        p = br.pos
        while p + 1 < len(buf) and not (
            buf[p] == 0xFF and buf[p + 1] not in (0x00, 0xFF)
        ):
            p += 1
        return p

    def decode_arith_scan(scan_comps, ss, se, ah, al, start: int) -> int:
        """ARITHMETIC scan (SOF9 sequential + SOF10 progressive, r13
        late) — the QM-coded sibling of decode_scan. Statistics areas
        (fresh per scan, like libjpeg's per-scan start_pass reset),
        conditioning contexts, and decision trees follow T.81 Annex F
        (Figures F.19-F.24) with the Annex G progressive variants
        (DC/AC first at a point transform, fixed-bin DC refinement,
        the correction-bit AC refinement walk over the previous-stage
        EOB index); pinned bit-for-bit against the system libjpeg by
        the cross tests."""
        h, w, comps, progressive, prec, arith = frame
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        if restart_interval:
            raise ValueError(
                "unsupported arithmetic JPEG: restart intervals"
            )
        dc_stats: dict[int, bytearray] = {}
        ac_stats: dict[int, bytearray] = {}
        for _ci, td, ta in scan_comps:
            dc_stats.setdefault(td, bytearray(64))
            ac_stats.setdefault(ta, bytearray(256))
        fixed = bytearray([113])  # never-adapting equiprobable bin
        dc_context = {ci: 0 for ci, _, _ in scan_comps}
        last_dc = {ci: 0 for ci, _, _ in scan_comps}
        qm = _QMDecoder(buf, start)

        def dc_diff(ci, td) -> None:
            # Figures F.19-F.24: DC difference into last_dc/dc_context
            lo, up = dc_cond.get(td, (0, 1))
            std = dc_stats[td]
            base = dc_context[ci]
            if qm.decode(std, base) == 0:
                dc_context[ci] = 0
                return
            sign = qm.decode(std, base + 1)
            p2 = base + 2 + sign
            m = qm.decode(std, p2)
            if m:
                p2 = 20  # Table F.4: X1
                while qm.decode(std, p2):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("corrupt arithmetic JPEG (DC)")
                    p2 += 1
            if m < (1 << lo) >> 1:
                dc_context[ci] = 0
            elif m > (1 << up) >> 1:
                dc_context[ci] = 12 + sign * 4
            else:
                dc_context[ci] = 4 + sign * 4
            v = m
            p2 += 14
            while m := m >> 1:
                if qm.decode(std, p2):
                    v |= m
            v += 1
            last_dc[ci] += -v if sign else v

        def ac_band(zz, ta, k_lo, k_hi, shift) -> None:
            # Figure F.20 + F.21-F.24 over a spectral band; values
            # place at << shift (sequential: full band, shift 0)
            sta = ac_stats[ta]
            kx = ac_cond.get(ta, 5)
            k = k_lo
            while k <= k_hi:
                base = 3 * (k - 1)
                if qm.decode(sta, base):
                    break  # EOB
                while qm.decode(sta, base + 1) == 0:
                    base += 3
                    k += 1
                    if k > k_hi:
                        raise ValueError(
                            "corrupt arithmetic JPEG (AC run)"
                        )
                sign = qm.decode(fixed, 0)
                p2 = base + 2
                m = qm.decode(sta, p2)
                if m:
                    if qm.decode(sta, p2):
                        m = 2
                        p2 = 189 if k <= kx else 217
                        while qm.decode(sta, p2):
                            m <<= 1
                            if m == 0x8000:
                                raise ValueError(
                                    "corrupt arithmetic JPEG (AC)"
                                )
                            p2 += 1
                v = m
                p2 += 14
                while m := m >> 1:
                    if qm.decode(sta, p2):
                        v |= m
                v += 1
                zz[k] = (-v if sign else v) << shift
                k += 1

        def decode_one(ci, td, ta, by, bx):
            zz_np = coefs[ci][by, bx]
            if not progressive:
                zz = [0] * 64
                dc_diff(ci, td)
                zz[0] = last_dc[ci]
                ac_band(zz, ta, 1, 63, 0)
                zz_np[:] = zz
                return
            # Annex G progressive scan kinds
            if ss == 0 and ah == 0:  # DC first at Al
                dc_diff(ci, td)
                zz_np[0] = last_dc[ci] << al
                return
            if ss == 0:  # DC refinement: one fixed-bin decision
                if qm.decode(fixed, 0):
                    zz_np[0] |= 1 << al
                return
            if ah == 0:  # AC first over the band at Al
                zz = zz_np.tolist()
                ac_band(zz, ta, ss, se, al)
                zz_np[:] = zz
                return
            # AC refinement (Figure G.10 mirror): correction bits for
            # history-nonzero positions, ±1<<Al placements after the
            # previous-stage EOB index kex
            zz = zz_np.tolist()
            sta = ac_stats[ta]
            p1, m1 = 1 << al, (-1) << al
            kex = se
            while kex > 0 and zz[kex] == 0:
                kex -= 1
            k = ss
            while k <= se:
                base = 3 * (k - 1)
                if k > kex and qm.decode(sta, base):
                    break  # EOB
                while True:
                    if zz[k]:
                        if qm.decode(sta, base + 2):
                            zz[k] += m1 if zz[k] < 0 else p1
                        break
                    if qm.decode(sta, base + 1):
                        zz[k] = m1 if qm.decode(fixed, 0) else p1
                        break
                    base += 3
                    k += 1
                    if k > se:
                        raise ValueError(
                            "corrupt arithmetic JPEG (AC refine)"
                        )
                k += 1
            zz_np[:] = zz

        if len(scan_comps) > 1:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for ci, td, ta in scan_comps:
                        _, hi, vi, _ = comps[ci]
                        for by in range(vi):
                            for bx in range(hi):
                                decode_one(
                                    ci, td, ta, my * vi + by, mx * hi + bx
                                )
        else:
            ci, td, ta = scan_comps[0]
            _, hi, vi, _ = comps[ci]
            cw = (w * hi + hmax - 1) // hmax
            chh = (h * vi + vmax - 1) // vmax
            for by in range((chh + 7) // 8):
                for bx in range((cw + 7) // 8):
                    decode_one(ci, td, ta, by, bx)
        p = qm.pos
        while p + 1 < len(buf) and not (
            buf[p] == 0xFF and buf[p + 1] not in (0x00, 0xFF)
        ):
            p += 1
        return p

    while True:
        if pos + 2 > len(buf):
            if scans_done:
                break  # tolerated: EOI missing but scans complete
            raise ValueError("truncated JPEG (no SOS)")
        if buf[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xFF:  # fill byte (spec allows 0xFF padding runs)
            pos -= 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers: stray SOI, TEM, RSTn
        if marker == 0xC3:
            # r13 late: LOSSLESS (SOF3) decodes for real — predictive
            # process, dedicated scanner (no DCT machinery to share)
            return _parse_jpeg_lossless(buf)
        if marker in (0xC5, 0xC6, 0xC7):
            raise ValueError(
                "unsupported JPEG variant: hierarchical/differential (SOF%d)"
                % (marker - 0xC0)
            )
        if marker in (0xCB, 0xCD, 0xCE, 0xCF):
            # lossless/differential arithmetic processes; SEQUENTIAL
            # (SOF9) and PROGRESSIVE (SOF10) arithmetic decode for
            # real since r13 late
            raise ValueError(
                "unsupported JPEG variant: lossless/differential "
                "arithmetic"
            )
        if pos + 2 > len(buf):
            raise ValueError("truncated JPEG segment")
        (seglen,) = struct.unpack_from(">H", buf, pos)
        if seglen < 2 or pos + seglen > len(buf):
            raise ValueError("truncated JPEG segment")
        body = buf[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq not in (0, 1):
                    raise ValueError("corrupt JPEG quant table precision")
                size = 64 * (pq + 1)
                if i + size > len(body):
                    raise ValueError("corrupt JPEG quant table")
                raw = (
                    np.frombuffer(body[i : i + 64], dtype=np.uint8)
                    if pq == 0
                    else np.frombuffer(body[i : i + 128], dtype=">u2")
                )
                q = raw.astype(np.int32)[_UNZIGZAG].reshape(8, 8)
                quant[tq] = q
                i += size
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                i += 1
                if i + 16 > len(body):
                    raise ValueError("corrupt JPEG huffman table")
                bits = list(body[i : i + 16])
                i += 16
                n = sum(bits)
                vals = body[i : i + n]
                if len(vals) != n:
                    raise ValueError("corrupt JPEG huffman table")
                i += n
                (huff_dc if tc == 0 else huff_ac)[th] = _decoder_huff(
                    bits, vals
                )
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0 baseline / SOF1 extended sequential (r13 late: the
            # 12-bit DCT tier) / SOF2 progressive / SOF9+SOF10
            # sequential and progressive ARITHMETIC (r13 late: the
            # final JPEG entropy-coding quarantines closed)
            if frame is not None:
                raise ValueError("JPEG: multiple frames")
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if marker == 0xC1:
                if prec not in (8, 12):
                    raise ValueError(
                        "unsupported JPEG: %d-bit precision" % prec
                    )
            elif prec != 8:
                # 12-bit is an EXTENDED huffman process: SOF0/SOF2/SOF9
                # stay 8-bit (12-bit arithmetic quarantines)
                raise ValueError("unsupported JPEG: %d-bit precision" % prec)
            if nc not in (1, 3):
                raise ValueError("unsupported JPEG: %d components" % nc)
            # the GIF-fuzz lesson applied here (r13 late): the two
            # unvalidated header shorts size the coefficient buffers
            # (64 int64 per block) — a 65535x65535 claim would commit
            # ~34 TB before any scan data is read, presenting as an OOM
            # task kill instead of a quarantine
            if w <= 0 or h <= 0 or w * h > 1 << 26:
                raise ValueError("jpeg: unreasonable dimensions")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[3 + 3 + ci * 3 : 3 + 6 + ci * 3]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise ValueError("unsupported JPEG sampling factors")
                comps.append((cid, hi, vi, tq))
            frame = (
                h, w, comps, marker in (0xC2, 0xCA), prec,
                marker in (0xC9, 0xCA),
            )
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            coefs = [
                np.zeros((mcus_y * vi, mcus_x * hi, 64), dtype=np.int64)
                for _, hi, vi, _ in comps
            ]
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xCC:  # DAC: arithmetic conditioning (T.81 B.2.4.3)
            i = 0
            while i + 1 < len(body):
                tc, tb = body[i] >> 4, body[i] & 0x0F
                cs = body[i + 1]
                i += 2
                if tc == 0:
                    lo, up = cs & 0x0F, cs >> 4
                    if up < lo:
                        raise ValueError("corrupt JPEG DAC conditioning")
                    dc_cond[tb] = (lo, up)
                else:
                    if not 1 <= cs <= 63:
                        raise ValueError("corrupt JPEG DAC conditioning")
                    ac_cond[tb] = cs
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            h, w, comps, progressive, prec, arith = frame
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3:
                raise ValueError("corrupt JPEG SOS header")
            cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
            scan_comps = []
            for si in range(ns):
                cs, tbl = body[1 + si * 2], body[2 + si * 2]
                if cs not in cid_to_ci:
                    raise ValueError("JPEG scan references unknown component")
                scan_comps.append((cid_to_ci[cs], tbl >> 4, tbl & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("JPEG: baseline scan with progression")
            if progressive:
                if ss == 0 and se != 0:
                    raise ValueError("JPEG: progressive DC scan with Se>0")
                if ss > 0 and (ns != 1 or se < ss or se > 63):
                    raise ValueError("JPEG: bad progressive AC scan header")
                if ah and ah != al + 1:
                    raise ValueError("JPEG: non-successive approximation")
            for _, hi, vi, tq in (comps[c[0]] for c in scan_comps):
                if tq not in quant:
                    raise ValueError("JPEG scan references missing quant table")
            if arith:
                pos = decode_arith_scan(scan_comps, ss, se, ah, al, pos)
            else:
                pos = decode_scan(scan_comps, ss, se, ah, al, pos)
            scans_done += 1
        # APPn / COM / others: skipped
    if frame is None or scans_done == 0:
        raise ValueError("truncated JPEG (no SOS)")
    h, w, comps, progressive, prec, arith = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        by_n, bx_n, _ = coefs[ci].shape
        qt = quant[tq]
        zz = coefs[ci].reshape(by_n * bx_n, 64)
        blocks = (
            zz[:, _UNZIGZAG].reshape(-1, 8, 8).astype(np.float64)
            * qt[None, :, :]
        )
        level = float(1 << (prec - 1))
        spatial = np.einsum("ij,njk,kl->nil", _DCT_C.T, blocks, _DCT_C) + level
        p = (
            spatial.reshape(by_n, bx_n, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by_n * 8, bx_n * 8)
        )
        if hi != hmax or vi != vmax:
            p = np.repeat(
                np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1
            )
        full.append(p[:h, :w])
    # high-precision samples clamp at full range, then the top 8 bits
    # form the feature raster (the lossless tier's >> (P-8) contract)
    top = float((1 << prec) - 1)
    shift = prec - 8
    if len(full) == 1:
        grey = np.clip(np.round(full[0]), 0, top).astype(np.int64) >> shift
        grey = grey.astype(np.uint8)
        return w, h, np.repeat(grey[..., None], 3, axis=2).tobytes()
    level = float(1 << (prec - 1))
    y, cb, cr = full[0], full[1] - level, full[2] - level
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    out8 = np.clip(np.round(rgb), 0, top).astype(np.int64) >> shift
    return w, h, out8.astype(np.uint8).tobytes()


def _block_levels(did: int, a: int, b: int) -> np.ndarray:
    """The level grid of the constant-block JPEG fixtures: an
    ``(8·hb)×(8·wb)`` int64 raster, ``wb = 1 + did % 2``,
    ``hb = 1 + did % 3``, whose 8×8 block ``bi`` (row-major) holds
    ``m = (a + bi·b) % 81 − 40``. Each caller maps ``m`` to its level
    (``128 + 2·m`` at 8 bits): an even offset from the level shift makes
    every block DC-only and exact through the lossy codec."""
    wb, hb = 1 + did % 2, 1 + did % 3
    m = (a + np.arange(wb * hb, dtype=np.int64) * b) % 81 - 40
    return np.kron(m.reshape(hb, wb), np.ones((8, 8), dtype=np.int64))


def synth_jpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic JPEG payloads keyed by doc id — REAL
    baseline JFIF bytes whose DECODED pixels are arithmetically
    predictable despite the lossy codec: each image is GRAYSCALE with
    CONSTANT 8×8 blocks whose value has an even offset from 128, so the
    DCT is DC-only, the DC coefficient (8·(v−128)) is exactly
    representable under the standard table's q₀=16 (8·2k/16 = k), and
    the IDCT reconstructs v EXACTLY — lossless through a lossy pipe, by
    construction. ``w = 8·(1 + doc_id % 2)``, ``h = 8·(1 + doc_id % 3)``,
    block ``bi`` (row-major) value
    ``v = 128 + 2·((doc_id·7 + bi·13) % 81 − 40)`` ∈ [48, 208].
    r13 late: PRECISION cycles ``(doc_id // 6) % 2`` → 8-bit SOF0 /
    12-bit SOF1 (the extended sequential process — 2048 level shift,
    Pq=1 quant tables); the 12-bit block value is ``2048 + 32·m``
    whose top-8-bit read is the SAME ``128 + 2·m``, so one oracle
    certifies both processes and a 12-bit level-shift/Pq/DC bug still
    hash-fails (wrong means or dropped rows)."""

    def payload(did: int) -> bytes:
        prec = (8, 12)[(did // 6) % 2]
        m = _block_levels(did, did * 7, 13)
        h, w = m.shape
        data = (
            (128 + 2 * m).astype(np.uint8).tobytes()
            if prec == 8
            else (2048 + 32 * m).astype("<u2").tobytes()
        )
        return encode_jpeg(w, h, data, ncomp=1, precision=prec)

    return _synth_media(docs, payload)


def synth_jpeg_progressive_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic PROGRESSIVE JPEG payloads keyed by doc id
    (r13) — REAL SOF2 bytes (six-scan spectral-selection + successive-
    approximation progression, encode_jpeg_progressive) with the same
    constant-block exactness trick as the baseline fixture: grayscale
    constant 8x8 blocks at even offsets from 128 are DC-only and decode
    bit-exactly, so the oracle derives the features in closed form.
    ``w = 8*(1 + doc_id % 2)``, ``h = 8*(1 + doc_id % 3)``, block ``bi``
    value ``128 + 2*((doc_id*11 + bi*19) % 81 - 40)`` — multipliers
    11/19 distinct from the baseline fixture's 7/13, so a dispatch
    mix-up between the two JPEG tiers cannot silently hash-match."""

    def payload(did: int) -> bytes:
        m = _block_levels(did, did * 11, 19)
        h, w = m.shape
        data = (128 + 2 * m).astype(np.uint8).tobytes()
        return encode_jpeg_progressive(w, h, data, ncomp=1)

    return _synth_media(docs, payload)


def synth_jpeg_arith_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic ARITHMETIC (SOF9) JPEG payloads keyed by
    doc id (r13 late) — REAL QM-coded bytes with the same
    constant-block exactness trick as the baseline/progressive
    fixtures: grayscale constant 8x8 blocks at even offsets from 128
    are DC-only and decode bit-exactly, so the oracle derives the
    features in closed form even though the entropy coder is adaptive.
    ``w = 8*(1 + doc_id % 2)``, ``h = 8*(1 + doc_id % 3)``, block
    ``bi`` value ``128 + 2*((doc_id*23 + bi*29) % 81 - 40)`` —
    multipliers 23/29 distinct from the baseline (7/13), progressive
    (11/19), and JPEG-in-TIFF (27/17) fixtures, so a dispatch mix-up
    between JPEG tiers cannot silently hash-match."""

    def payload(did: int) -> bytes:
        m = _block_levels(did, did * 23, 29)
        h, w = m.shape
        return encode_jpeg_arithmetic(
            w, h, (128 + 2 * m).astype(np.uint8).tobytes()
        )

    return _synth_media(docs, payload)


def synth_jpeg_arith_prog_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic PROGRESSIVE ARITHMETIC (SOF10) JPEG
    payloads keyed by doc id (r13 late) — REAL QM-coded six-scan
    successive-approximation streams (libjpeg's exact grayscale
    progression script) with the constant-block exactness trick.
    ``w = 8*(1 + doc_id % 2)``, ``h = 8*(1 + doc_id % 3)``, block
    ``bi`` value ``128 + 2*((doc_id*31 + bi*37) % 81 - 40)`` —
    multipliers 31/37 distinct from the baseline (7/13), progressive-
    huffman (11/19), sequential-arithmetic (23/29), and JPEG-in-TIFF
    (27/17) fixtures."""

    def payload(did: int) -> bytes:
        m = _block_levels(did, did * 31, 37)
        h, w = m.shape
        return encode_jpeg_arithmetic_progressive(
            w, h, (128 + 2 * m).astype(np.uint8).tobytes()
        )

    return _synth_media(docs, payload)


def synth_jpeg_lossless_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic LOSSLESS (SOF3) JPEG payloads keyed by
    doc id (r13 late) — REAL predictive-process bytes on ARBITRARY
    content: lossless means the constant-block trick is unnecessary
    (the FLAC property). Grayscale, ``w = 5 + doc_id % 6``,
    ``h = 4 + doc_id % 5`` (no MCU rounding in lossless — odd dims are
    first-class), PREDICTOR cycling ``1 + doc_id % 7`` (all seven
    spec predictors corpus-exercised; losslessness makes the oracle
    predictor-blind), PRECISION cycling ``(doc_id // 7) % 3`` →
    8 / 12 / 16 bits (r13 late: the high-precision lossless tiers
    medical/raw corpora carry), pixel ``p`` =
    ``(doc_id*83 + p*67) % 2^prec`` with the feature raster reading
    ``v >> (prec-8)`` (the decoder's 8-bit contract; full precision is
    pinned by the roundtrip unit suite). Multipliers 83/67 collide
    with no other image fixture."""

    def payload(did: int) -> bytes:
        w, h = 5 + did % 6, 4 + did % 5
        prec = (8, 12, 16)[(did // 7) % 3]
        v = (did * 83 + np.arange(w * h, dtype=np.int64) * 67) % (1 << prec)
        data = v.astype(np.uint8 if prec == 8 else "<u2").tobytes()
        return encode_jpeg_lossless(
            w, h, data, predictor=1 + did % 7, precision=prec
        )

    return _synth_media(docs, payload)


def parse_image(payload: bytes) -> tuple[int, int, bytes]:
    """Magic-byte dispatch over the supported raster codecs: P6 → PPM,
    PNG signature → PNG, SOI → JPEG (baseline AND progressive, r13,
    AND lossless SOF3, r13 late), GIF87a/89a → GIF-LZW,
    BM → BMP, II*/MM* → baseline TIFF (uncompressed/PackBits strips);
    anything else raises ``ValueError`` (H.264/VP9-class video
    remains the declared import-gated extension — MJPEG-in-AVI is real,
    see parse_avi)."""
    buf = bytes(payload or b"")
    if buf[: len(_PNG_SIG)] == _PNG_SIG:
        return parse_png(buf)
    if buf[:2] == b"\xff\xd8":
        return parse_jpeg(buf)
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return parse_gif(buf)
    if buf[:2] == b"BM":
        return parse_bmp(buf)
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        return parse_tiff(buf)
    return parse_ppm(buf)


# --- video: MJPEG-in-AVI ----------------------------------------------------
#
# With a real JPEG decoder in hand, the classic no-external-deps video
# container is MJPEG inside AVI: a RIFF file (the same chunk discipline
# as WAV) whose 'movi' list carries one baseline-JPEG payload per frame
# ('00dc' chunks). That makes the video tier REAL — container walk,
# per-frame decode, frame sampling — while inter-frame codecs
# (H.264/VP9/AV1) stay honestly import-gated: they need external codec
# libraries, and no fixture trick makes motion compensation exact.


def encode_avi_mjpeg(
    width: int,
    height: int,
    frames: list[bytes],
    fps: int = 10,
) -> bytes:
    """Encode an MJPEG AVI — REAL RIFF/AVI structure (avih + strl
    headers, 'movi' list of '00dc' JPEG frames, idx1 index) that any
    AVI-aware player decodes. ``frames`` are ready-made baseline JPEG
    payloads (encode_jpeg). Fixture-side twin of ``parse_avi``."""
    import struct

    if not frames:
        raise ValueError("AVI needs at least one frame")

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    uspf = 1_000_000 // fps
    avih = struct.pack(
        "<14I",
        uspf,  # dwMicroSecPerFrame
        0,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        len(frames),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        0,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids",
        b"MJPG",
        0, 0, 0, 0,  # flags, priority, language, initial frames
        1,  # dwScale
        fps,  # dwRate (rate/scale = fps)
        0,  # dwStart
        len(frames),  # dwLength
        0,  # dwSuggestedBufferSize
        0xFFFFFFFF,  # dwQuality
        0,  # dwSampleSize
        0, 0, width, height,  # rcFrame (left, top, right, bottom)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",
        width * height * 3,  # biSizeImage
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks, idx, off = [], [], 4  # offsets count from 'movi' fourcc
    for f in frames:
        c = chunk(b"00dc", f)
        movi_chunks.append(c)
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(f)))
        off += len(c)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx1 = chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi(payload: bytes) -> tuple[int, int, int, list[bytes]]:
    """Parse an MJPEG AVI — dependency-free. Returns
    ``(width, height, usec_per_frame, jpeg_frames)``; each frame is the
    raw baseline-JPEG payload (decode with ``parse_jpeg``). Raises
    ``ValueError`` (quarantine contract) on non-AVI RIFF, non-MJPG
    streams, or truncated/corrupt chunk structure."""
    import struct

    buf = bytes(payload or b"")
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack_from("<I", buf, 4)
    if riff_size + 8 > len(buf):
        raise ValueError("truncated AVI payload")
    end = min(len(buf), riff_size + 8)

    width = height = uspf = None
    fourcc = None
    frames: list[bytes] = []

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        nonlocal width, height, uspf, fourcc
        if depth > 16:
            # real AVIs nest 2-3 LISTs deep; an adversarial payload with
            # thousands of nested LISTs would otherwise blow the Python
            # stack as RecursionError, which escapes the ValueError
            # quarantine and kills the whole Arrow task (the WAV
            # zero-channels lesson, r7 ADVICE)
            raise ValueError("AVI LIST nesting too deep")
        i = lo
        while i + 8 <= hi:
            cid = buf[i : i + 4]
            (clen,) = struct.unpack_from("<I", buf, i + 4)
            data_lo, data_hi = i + 8, i + 8 + clen
            if data_hi > hi:
                raise ValueError(f"truncated AVI chunk {cid!r}")
            if cid == b"LIST":
                walk(data_lo + 4, data_hi, depth + 1)  # skip the kind fourcc
            elif cid == b"avih":
                if clen < 40:
                    raise ValueError("malformed AVI avih header")
                vals = struct.unpack_from("<10I", buf, data_lo)
                uspf, width, height = vals[0], vals[8], vals[9]
            elif cid == b"strh":
                if clen >= 8 and buf[data_lo : data_lo + 4] == b"vids":
                    fourcc = buf[data_lo + 4 : data_lo + 8]
            elif cid in (b"00dc", b"00db"):
                frames.append(buf[data_lo:data_hi])
            i = data_hi + (clen & 1)  # chunks are word-aligned

    walk(12, end)
    if width is None or uspf is None:
        raise ValueError("AVI missing avih header")
    if fourcc is not None and fourcc not in (b"MJPG", b"mjpg"):
        raise ValueError(
            f"unsupported AVI video codec {fourcc!r}: only MJPG is "
            "dependency-free (H.264-class codecs are import-gated)"
        )
    if not frames:
        raise ValueError("AVI has no video frames")
    return int(width), int(height), int(uspf), frames


VIDEO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def decode_video_features(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Video payloads (MJPEG-AVI or animated GIF — magic-byte dispatch)
    → per-SAMPLED-frame features via ``mapInPandas`` (Arrow-batched):
    container walk (parse_avi / parse_gif_frames), decode every
    ``every_n``-th frame (real JPEG decoder for AVI; GIF frames arrive
    already palette-resolved), emit one row per sampled frame
    (frame_idx, dims, channel means — exact-integer sums divided once
    in double, the image convention). Undecodable
    payloads yield ONE ``decode_ok=false`` row instead of failing the
    batch — the multimodal quarantine contract. The heavy binary column
    dies here; downstream sees only small typed rows. ``every_n`` is
    validated EAGERLY — a bad stride inside the batch loop would
    quarantine every payload as decode_ok=false, a config error
    masquerading as corrupt data."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def decode(payload) -> list[tuple]:
        # container dispatch: animated GIF frames arrive as decoded RGB;
        # AVI frames as per-frame JPEG payloads
        if bytes(payload or b"")[:6] in (b"GIF87a", b"GIF89a"):
            w, h, rasters = parse_gif_frames(payload)
            decode_frame = lambda fr: (w, h, fr)  # noqa: E731
        else:
            w, h, _uspf, rasters = parse_avi(payload)
            decode_frame = parse_jpeg
        rows = []
        for fi in range(0, len(rasters), every_n):
            fw, fh, raster = decode_frame(rasters[fi])
            if (fw, fh) != (w, h):
                raise ValueError("video frame dims disagree with header")
            means = _rgb_means(np.frombuffer(raster, dtype=np.uint8), fw * fh)
            rows.append((fi, len(rasters), fw, fh, *means))
        return rows

    return _decode_quarantined(media, VIDEO_FEATURE_SCHEMA, decode)


def synth_avi_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic MJPEG-AVI payloads keyed by doc id — REAL
    RIFF/AVI containers of REAL baseline-JPEG frames whose decoded
    pixels are arithmetically predictable (the encode_jpeg constant-
    block exactness trick, per frame): ``w = 8·(1 + doc_id % 2)``,
    ``h = 8·(1 + doc_id % 3)``, ``n_frames = 2 + doc_id % 4``, frame
    ``f`` block ``bi`` value
    ``v = 128 + 2·((doc_id·7 + f·29 + bi·13) % 81 − 40)``."""

    def payload(did: int) -> bytes:
        levels = [
            _block_levels(did, did * 7 + f * 29, 13) for f in range(2 + did % 4)
        ]
        h, w = levels[0].shape
        frames = [
            encode_jpeg(w, h, (128 + 2 * m).astype(np.uint8).tobytes(), ncomp=1)
            for m in levels
        ]
        return encode_avi_mjpeg(w, h, frames)

    return _synth_media(docs, payload)


def decode_image_features(media: DataFrame) -> DataFrame:
    """Raster payloads → per-image features via ``mapInPandas``
    (Arrow-batched).

    Accepts every supported raster codec per payload (``parse_image``:
    PPM, PNG, GIF, BMP, TIFF and every JPEG process, dispatched on magic
    bytes). Emits (media_id, decode_ok, width, height, mean_r/g/b,
    row_moment). Channel means are exact-integer sums (numpy int64)
    divided once in double — the same IEEE op an SQL oracle performs, so
    results are bit-comparable. Undecodable payloads yield
    ``decode_ok=false`` with null features instead of failing the batch
    (quarantine-friendly: one corrupt blob must not kill a 100 TB
    scan)."""

    def decode(payload) -> list[tuple]:
        w, h, raster = parse_image(payload)
        arr = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
        means = _rgb_means(arr, w * h)
        row_sums = arr.reshape(h, w * 3).sum(axis=1)
        row_moment = int((np.arange(h, dtype=np.int64) * row_sums).sum())
        return [(w, h, *means, row_moment)]

    return _decode_quarantined(media, IMAGE_FEATURE_SCHEMA, decode)


def resize_image_features(
    media: DataFrame, out_w: int = 2, out_h: int = 2
) -> DataFrame:
    """Raster payloads → nearest-neighbor RESIZE → per-channel means of
    the resized raster, via ``mapInPandas`` (Arrow-batched) — the resize
    step of a decode→resize→embed vision pipeline, with REAL raster math
    (numpy fancy-indexing selects source pixel (ty·h//out_h, tx·w//out_w)
    for each target pixel). Undecodable payloads yield
    ``resize_ok=false`` instead of failing the batch. ``out_w``/``out_h``
    are validated EAGERLY: a target below 1 pixel would select nothing
    and emit NaN means as resize_ok=true rows."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"out_w and out_h must be >= 1, got {out_w}x{out_h}")

    def decode(payload) -> list[tuple]:
        w, h, raster = parse_image(payload)
        arr = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
        ry = (np.arange(out_h) * h) // out_h
        rx = (np.arange(out_w) * w) // out_w
        return [(out_w, out_h, *_rgb_means(arr[ry][:, rx], out_w * out_h))]

    return _decode_quarantined(media, RESIZE_SCHEMA, decode)


def synth_ppm_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic PPM payloads keyed by doc id (fixture for
    the decode path — REAL P6 bytes, arithmetically predictable content so
    a SQL oracle can derive the expected features without a decoder):
    ``width = 4 + doc_id % 5``, ``height = 3 + doc_id % 4``, raster byte
    ``i`` = ``(doc_id*31 + i) % 256``."""

    def payload(did: int) -> bytes:
        w, h = 4 + did % 5, 3 + did % 4
        raster = bytes((did * 31 + i) % 256 for i in range(w * h * 3))
        return b"P6\n%d %d\n255\n" % (w, h) + raster

    return _synth_media(docs, payload, spread=False)


def synth_png_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic PNG payloads keyed by doc id — REAL PNG
    bytes (signature, CRC'd chunks, DEFLATE, per-row filters 0-4 via
    ``encode_png``) whose pixel content is arithmetically predictable, so
    a SQL oracle can derive the decoded features without a decoder.
    ``width = 4 + doc_id % 5``, ``height = 3 + doc_id % 4``; the COLOUR
    TYPE cycles ``doc_id % 3`` so one relation mixes all three supported
    codec variants (r6 VERDICT item 6) and each drives every filter type:

    * 0 → RGB (type 2): raster byte ``i`` = ``(doc_id*37 + i) % 256`` (a
      different multiplier than the PPM fixture so a codec mix-up cannot
      silently hash-match);
    * 1 → RGBA (type 6): RGBA byte ``j`` = ``(doc_id*37 + j) % 256`` —
      the decoder drops the alpha lane, so pixel ``p`` channel ``c``
      surfaces ``(doc_id*37 + p*4 + c) % 256``;
    * 2 → palette (type 3): index at pixel ``p`` =
      ``(doc_id*37 + p) % 64``, PLTE entry ``k`` channel ``c`` =
      ``(doc_id*41 + k*3 + c) % 256``."""

    def payload(did: int) -> bytes:
        w, h = 4 + did % 5, 3 + did % 4
        variant = did % 3
        if variant == 0:
            raster = bytes((did * 37 + i) % 256 for i in range(w * h * 3))
            return encode_png(w, h, raster)
        if variant == 1:
            rgba = bytes((did * 37 + j) % 256 for j in range(w * h * 4))
            return encode_png(w, h, rgba, ctype=6)
        idx = bytes((did * 37 + p) % 64 for p in range(w * h))
        plte = bytes((did * 41 + b) % 256 for b in range(64 * 3))
        return encode_png(w, h, idx, ctype=3, palette=plte)

    return _synth_media(docs, payload)


def synth_bmp_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic BMP payloads keyed by doc id — REAL BMP
    bytes (file + info headers, BGR rows, 4-byte row padding via
    ``encode_bmp``) whose pixel content a SQL oracle can derive.
    ``width = 4 + doc_id % 5``, ``height = 3 + doc_id % 4``; the variant
    cycles ``doc_id % 10`` so one relation exercises every decoded bit
    depth, both row orders, both RLE compressions, all three header
    versions, and BITFIELDS
    (padding is non-zero whenever width*3 % 4 != 0, so the stride math
    is genuinely under test):

    * 0 → 24-bit bottom-up: pixel ``p`` channel ``c`` =
      ``(doc_id*43 + p*3 + c) % 256``;
    * 1 → 24-bit TOP-DOWN (negative biHeight): same logical raster — a
      row-order bug flips the image, which every per-channel MEAN is
      blind to; the decoder's order-sensitive ``row_moment`` feature
      exists exactly to catch this case by hash;
    * 2 → 8-bit palette bottom-up: index at ``p`` =
      ``(doc_id*43 + p) % 64``, palette entry ``k`` channel ``c`` =
      ``(doc_id*47 + k*3 + c) % 256``;
    * 3 → the SAME palette image BI_RLE8-compressed (r13): encoded
      runs + absolute-mode literals + EOL/EOB — RLE is a lossless
      re-coding, so variants 2 and 3 share the oracle formula and a
      cursor/escape/padding bug hash-fails;
    * 4 → 16-bit BI_BITFIELDS 5-6-5 (r13 late): the variant-0 RGB
      formula truncated to the field widths — channel ``c`` decodes to
      ``(v >> (3 - c%2)) * 255 // field_max`` in closed form, so a
      mask/shift/scale bug hash-fails;
    * 5 → 32-bit BI_RGB (BGRX quads, r13 late): the variant-0 formula
      bit-exactly — the padding byte must be ignored;
    * 6 → 4-bit palette BI_RLE4-compressed (r13 late): index at ``p`` =
      ``(doc_id*43 + p) % 16``, palette entry ``k`` channel ``c`` =
      ``(doc_id*47 + k*3 + c) % 256`` — nibble runs alternate the value
      byte's two halves and absolute mode nibble-packs, so an
      alternation/packing bug hash-fails;
    * 7 → 1-BIT palette bottom-up (r14, the last palette tier): index
      at ``p`` = ``(doc_id*43 + p) % 2``, 2-entry palette with the
      shared palette formula — rows are MSB-first bit-packed into
      ``(w+7)//8`` bytes then 4-byte padded, so the bit-unpack and the
      sub-byte stride math are genuinely under test;
    * 8 → the variant-4 BITFIELDS-565 image under a V4 HEADER (r14):
      masks move INSIDE the 108-byte header at offset 40, sRGB CSType
      — a header-offset bug shifts palette/pixel reads and hash-fails;
    * 9 → the variant-5 32-bit image under a V5 HEADER (r14, 124-byte)
      — same RGB formula bit-exactly.

    Multipliers 43/47 are distinct from the PPM (31), PNG (37/41), and
    GIF fixtures so a codec mix-up cannot silently hash-match."""

    def payload(did: int) -> bytes:
        w, h = 4 + did % 5, 3 + did % 4
        variant = did % 10
        if variant in (0, 1, 4, 5, 8, 9):
            raster = bytes((did * 43 + i) % 256 for i in range(w * h * 3))
            return encode_bmp(
                w, h, raster,
                top_down=(variant == 1),
                bitfields565=(variant in (4, 8)),
                rgb32=(variant in (5, 9)),
                header_version={8: 108, 9: 124}.get(variant, 40),
            )
        if variant == 6:
            idx = bytes((did * 43 + p) % 16 for p in range(w * h))
            pal = bytes((did * 47 + b) % 256 for b in range(16 * 3))
            return encode_bmp(w, h, idx, palette=pal, rle4=True)
        if variant == 7:
            idx = bytes((did * 43 + p) % 2 for p in range(w * h))
            pal = bytes((did * 47 + b) % 256 for b in range(2 * 3))
            return encode_bmp(w, h, idx, palette=pal, bit1=True)
        idx = bytes((did * 43 + p) % 64 for p in range(w * h))
        pal = bytes((did * 47 + b) % 256 for b in range(64 * 3))
        return encode_bmp(w, h, idx, palette=pal, rle8=(variant == 3))

    return _synth_media(docs, payload)


def synth_tiff_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic TIFF payloads keyed by doc id — REAL
    baseline-TIFF bytes (IFD walk, strip assembly, PackBits, both byte
    orders via ``encode_tiff``) whose pixel content a SQL oracle can
    derive. ``width = 4 + doc_id % 5``, ``height = 3 + doc_id % 4``,
    ``rows_per_strip = 2`` (every image is MULTI-strip, so strip
    offset/count arrays always spill to the external value area and the
    strip-boundary math is genuinely under test); the variant cycles
    ``doc_id % 11`` so one relation exercises all five compressions,
    both byte orders, all three color models, the horizontal predictor,
    the TILED layout, and the PLANAR configuration in both layouts:

    * 0 → 24-bit RGB, uncompressed, little-endian: pixel ``p`` channel
      ``c`` = ``(doc_id*53 + p*3 + c) % 256``;
    * 1 → 24-bit RGB, PackBits, big-endian: same raster formula — a
      byte-order or packbits bug shifts values and hash-fails;
    * 2 → 8-bit grayscale, uncompressed, big-endian: sample at ``p`` =
      ``(doc_id*59 + p) % 256`` (decode expands to equal RGB channels);
    * 3 → 8-bit grayscale, PackBits, little-endian: same samples;
    * 4 → 24-bit RGB, LZW + predictor 2, little-endian (r11): the RGB
      formula again — an EarlyChange/bit-order/differencing bug shifts
      values and hash-fails;
    * 5 → 8-bit grayscale, Deflate, big-endian (r11): the gray formula;
    * 6 → 8-bit grayscale, TILED 16x16 + LZW, little-endian (r11): one
      padded edge-clipped tile covers the whole fixture image, so the
      tile-grid assembly and zero-pad clipping are always under test;
    * 7 → 8-bit PALETTE + PackBits, little-endian (r12): index at ``p``
      = ``(doc_id*53 + p) % 64``, palette byte ``b`` =
      ``(doc_id*61 + b) % 256`` — pixel ``p`` channel ``c`` decodes to
      ``(doc_id*61 + ((doc_id*53 + p) % 64)*3 + c) % 256``; a ColorMap
      scale/order bug shifts every channel and hash-fails;
    * 8 → 24-bit RGB PLANAR (PlanarConfiguration 2) + LZW + predictor
      2, big-endian (r13): the RGB formula again — the strip tables
      carry 3x the strips plane-major and each plane differences
      independently, so a plane-order or per-plane-predictor bug
      shuffles channels and hash-fails;
    * 9 → grayscale new-style JPEG-in-TIFF (compression 7, r13 late):
      DIMENSION OVERRIDE ``w = 8*(1 + doc_id % 2)``, ``h = 8*(1 +
      doc_id % 3)``, ``rows_per_strip = 8`` — each strip a COMPLETE
      baseline-JPEG stream of one constant-block row, block ``bi``
      value ``128 + 2*((doc_id*27 + bi*17) % 81 - 40)`` (the
      encode_jpeg DC-only exactness trick, multipliers 27/17 distinct
      from the standalone JPEG fixtures' 7/13 and 11/19);
    * 10 → 24-bit RGB PLANAR **TILED** 16x16 + LZW + predictor 2,
      big-endian (r13 late): the RGB formula — tile tables carry 3x
      the tiles plane-major, each tile single-channel edge-padded, so
      a plane/tile-order or clip bug shuffles pixels and hash-fails.

    Multipliers 53/59/61 are distinct from the PPM (31), PNG (37/41),
    BMP/GIF (43/47), and JPEG (7/13) fixtures so a codec mix-up cannot
    silently hash-match."""

    def payload(did: int) -> bytes:
        variant = did % 11
        w, h = 4 + did % 5, 3 + did % 4
        gray = variant in (2, 3, 5, 6, 9)
        pal = None
        if variant == 7:
            raster = bytes((did * 53 + p) % 64 for p in range(w * h))
            pal = bytes((did * 61 + b) % 256 for b in range(256 * 3))
        elif variant == 9:
            # JPEG-in-TIFF needs 8-multiple dims for the constant-block
            # exactness trick (one block row per 8-row strip)
            m = _block_levels(did, did * 27, 17)
            h, w = m.shape
            raster = (128 + 2 * m).astype(np.uint8).tobytes()
        elif gray:
            raster = bytes((did * 59 + p) % 256 for p in range(w * h))
        else:
            raster = bytes((did * 53 + i) % 256 for i in range(w * h * 3))
        comp = {
            0: "none", 1: "packbits", 2: "none",
            3: "packbits", 4: "lzw", 5: "deflate", 6: "lzw",
            7: "packbits", 8: "lzw", 9: "jpeg", 10: "lzw",
        }[variant]
        return encode_tiff(
            w,
            h,
            raster,
            gray=gray,
            compression=comp,
            big_endian=variant in (1, 2, 5, 8, 10),
            rows_per_strip=8 if variant == 9 else 2,
            predictor=2 if variant in (4, 8, 10) else 1,
            tile=(16, 16) if variant in (6, 10) else None,
            palette=pal,
            planar=variant in (8, 10),
        )

    return _synth_media(docs, payload)


def synth_gif_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic GIF payloads keyed by doc id — REAL GIF89a
    bytes (global color table, variable-width LZW via ``encode_gif``)
    whose content a SQL oracle can derive: ``width = 4 + doc_id % 5``,
    ``height = 3 + doc_id % 4``, index at pixel ``p`` =
    ``(doc_id*43 + p) % 64``, palette byte ``b`` = ``(doc_id*47 + b) %
    256`` — so pixel ``p`` channel ``c`` decodes to
    ``(doc_id*47 + ((doc_id*43 + p) % 64)*3 + c) % 256``. Multipliers
    differ from every other codec fixture so a dispatch mix-up cannot
    silently hash-match."""

    def payload(did: int) -> bytes:
        w, h = 4 + did % 5, 3 + did % 4
        idx = bytes((did * 43 + p) % 64 for p in range(w * h))
        pal = bytes((did * 47 + b) % 256 for b in range(256 * 3))
        return encode_gif(w, h, idx, pal)

    return _synth_media(docs, payload)


def synth_gif_anim_media(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic ANIMATED GIF payloads keyed by doc id —
    REAL multi-frame GIF89a with PARTIAL-RECT disposal compositing
    (r13): ``width = 4 + doc_id % 5``, ``height = 3 + doc_id % 4``,
    ``n_frames = 2 + doc_id % 4``, background index 7. Frame 0 is
    full-rect with index ``(doc_id*53 + p) % 64`` at pixel ``p``; every
    later frame ``g`` is a SINGLE-ROW sub-rect over row ``g-1`` (rows
    are distinct, so each canvas pixel is painted by at most one
    sub-rect — the closed form the SQL oracle needs) with content index
    ``(doc_id*53 + g*17 + x) % 64`` at column ``x``, TRANSPARENT index
    63 (those pixels keep the frame-0 canvas underneath), disposal 2 on
    frame 1 (its row restores to BACKGROUND in every later snapshot),
    disposal 3 on frame 2 (its row restores to the PRE-RENDER canvas —
    frame 0's content — in every later snapshot), disposal 1 on the
    rest. Palette byte ``b`` = ``(doc_id*59 + b) % 256``."""

    def payload(did: int) -> bytes:
        w, h = 4 + did % 5, 3 + did % 4
        pal = bytes((did * 59 + b) % 256 for b in range(256 * 3))
        frames: list = [bytes((did * 53 + p) % 64 for p in range(w * h))]
        for g in range(1, 2 + did % 4):
            row = bytes((did * 53 + g * 17 + x) % 64 for x in range(w))
            disposal = {1: 2, 2: 3}.get(g, 1)
            frames.append((row, 0, g - 1, w, 1, disposal, 63))
        return encode_gif_animated(w, h, frames, pal, background=7)

    return _synth_media(docs, payload)


def decode_stub(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake 'decoder': fixed-dim feature from byte statistics.

    Stands in for decode→resize→embed so the distributed path (Arrow batch
    shapes, schema, partitioning) is fully exercised."""
    if payload is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] += b
    n = max(len(payload), 1)
    return [a / n for a in acc]


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Binary → feature rows via ``mapInPandas`` (Arrow-batched).

    One narrow pass; each Arrow batch holds whole payloads, Python touches
    bytes only inside the batch loop."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(lambda p: 0 if p is None else len(p)),
                    "byte_sum": payloads.map(
                        lambda p: 0 if p is None else int(sum(p))
                    ),
                    "feature": payloads.map(lambda p: decode_stub(p, dim)),
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode sample timestamps from metadata.

    The decode of each sampled frame is the stubbed step; the exploded
    (media_id, sample_ms) rows are the real distributed work list, sized
    by ``duration_ms`` so Catalyst can estimate cardinality."""
    return media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("sample_ms"),
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents fixture: the UTF-8
    text bytes become the payload. Deterministic, so oracle-checkable."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.length("text") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
