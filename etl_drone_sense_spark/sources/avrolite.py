"""Dependency-free Avro object-container-file codec + PySpark DataSource.

The reference has no file IO at all (its only source is one HTTPS GET,
task.ts:112-117); SURVEY §2 Part B requires the engine to expose standard
file-format scans anyway. Parquet/JSON/CSV/ORC/text are Spark built-ins;
Avro's DataFrame connector (``spark-avro``) is an EXTERNAL module absent
from this environment — through round 5 the engine import-gated it with
an actionable error. This module closes that gap honestly: a from-scratch
decoder for the Avro 1.x object container format (spec: magic ``Obj\\x01``,
metadata map carrying the writer schema JSON + codec, 16-byte sync-marker
delimited blocks, zigzag-varint binary encoding), surfaced as the
PySpark-4 custom DataSource ``format("avrolite")``.

Supported schema subset — the analytics-table common case: a top-level
``record`` of primitive fields (``long/int/double/float/string/boolean/
bytes``), nullable unions (``["null", T]`` either order), and the
``timestamp-micros`` logical type. Codecs: ``null``, ``deflate``
(stdlib zlib, raw DEFLATE per spec), ``snappy`` (per spec: raw
snappy block + 4-byte big-endian CRC32 of the UNCOMPRESSED data), and
``zstandard`` (raw zstd frames) when a public implementation is
importable — pyarrow bundles both, so this container reads
snappy/zstd-coded files from other writers; without one, those blocks
raise ``ValueError`` and quarantine. Anything else raises
``ValueError`` — same quarantine-friendly honesty as the multimodal
codec tier.

Scale posture: the DataSource is declared on the shared landing shell
(sources/datasource.py — planning is driver-side metadata only, batch and
stream). Small files are one partition each and executors decode
independently. Files larger than ``split_target_bytes``
(option, default 32 MiB) are split at BLOCK boundaries by a driver-side
sync-marker index (``build_split_index`` — cost proportional to block
COUNT, ~30 bytes read per block, never the data), so one multi-GB
container file fans out to many executor partitions. Reading streams
block-by-block from the open handle: executor memory is bounded by one
block (compressed + decompressed), never the whole file (r6 ADVICE).

The WRITER (``write_avro``) exists so tests and fixtures can produce real
Avro bytes without the external connector — it is the fixture side of the
codec pair, exactly like multimodal.encode_png.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

MAGIC = b"Obj\x01"
SYNC = bytes(range(16))  # deterministic marker: fixtures stay byte-stable


def _snappy_codec():
    """A public snappy implementation if one is importable (pyarrow
    bundles one), else ``None`` — the import-gate pattern: presence
    enables the codec, absence quarantines instead of crashing."""
    try:
        import pyarrow as pa

        return pa.Codec("snappy")
    except Exception:
        return None


def _snappy_uncompressed_len(data: bytes) -> int:
    """Raw-snappy streams lead with a little-endian base-128 varint of
    the uncompressed length (the size pyarrow's decompress requires)."""
    n = shift = i = 0
    while True:
        if i >= len(data):
            raise ValueError("corrupt snappy block (truncated preamble)")
        b = data[i]
        n |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return n
        shift += 7


def _zstd_codec():
    """pyarrow's bundled zstd codec if importable, else ``None`` — same
    import-gate pattern as snappy."""
    try:
        import pyarrow as pa

        return pa.Codec("zstd")
    except Exception:
        return None


def _zstd_compress_block(data: bytes) -> bytes:
    codec = _zstd_codec()
    if codec is None:
        raise ValueError(
            "Avro zstandard codec needs a zstd implementation "
            "(pyarrow not importable)"
        )
    comp = codec.compress(data)
    return comp.to_pybytes() if hasattr(comp, "to_pybytes") else bytes(comp)


def _zstd_decompress_block(raw: bytes) -> bytes:
    """zstd frames are self-describing, but pyarrow's one-shot
    decompress demands the decompressed size up front — the streaming
    reader path doesn't, so decode through it (bounded by one block
    either way)."""
    import_err = None
    try:
        import pyarrow as pa

        stream = pa.CompressedInputStream(pa.BufferReader(raw), "zstd")
        return bytes(stream.read())
    except ImportError as e:  # pragma: no cover - env-specific
        import_err = e
    except Exception as e:
        raise ValueError(f"corrupt zstandard block: {e}") from None
    raise ValueError(
        "unsupported Avro codec: 'zstandard' (no zstd implementation "
        f"importable: {import_err})"
    )


def _snappy_compress_block(data: bytes) -> bytes:
    codec = _snappy_codec()
    if codec is None:
        raise ValueError(
            "Avro snappy codec needs a snappy implementation "
            "(pyarrow not importable)"
        )
    comp = codec.compress(data)
    comp = comp.to_pybytes() if hasattr(comp, "to_pybytes") else bytes(comp)
    # spec: 4-byte big-endian CRC32 of the UNCOMPRESSED data trails the block
    return comp + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)


def _snappy_decompress_block(raw: bytes) -> bytes:
    codec = _snappy_codec()
    if codec is None:
        raise ValueError(
            "unsupported Avro codec: 'snappy' (no snappy implementation "
            "importable — pyarrow provides one)"
        )
    if len(raw) < 4:
        raise ValueError("corrupt snappy block (missing CRC)")
    body, (crc,) = raw[:-4], struct.unpack(">I", raw[-4:])
    try:
        out = codec.decompress(body, _snappy_uncompressed_len(body))
    except Exception as e:
        raise ValueError(f"corrupt snappy block: {e}") from None
    out = out.to_pybytes() if hasattr(out, "to_pybytes") else bytes(out)
    if zlib.crc32(out) & 0xFFFFFFFF != crc:
        raise ValueError("corrupt snappy block (CRC mismatch)")
    return out


_PRIMITIVE_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "bytes": "binary",
}


# --- binary primitives ------------------------------------------------------


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


# --- schema handling --------------------------------------------------------


def _field_codec(ftype) -> tuple[str, int | None, str | None]:
    """(primitive, null_branch, logical) for a supported Avro field type.

    ``null_branch`` is the union index of ``"null"`` as DECLARED by the
    writer schema (``None`` → non-nullable field). Avro encodes a union
    value as its branch index, so both sides of the codec must honor the
    declared order — hardcoding null-first decoded spec-conformant
    ``[T, "null"]`` files with the branches swapped, desyncing the record
    stream (r6 ADVICE, high)."""
    logical = None
    if isinstance(ftype, dict):
        logical = ftype.get("logicalType")
        ftype = ftype.get("type")
    if isinstance(ftype, list):
        non_null = [t for t in ftype if t != "null"]
        if len(ftype) > 2 or len(non_null) != 1:
            raise ValueError(f"unsupported Avro union: {ftype}")
        null_branch = ftype.index("null")
        prim, _, logical2 = _field_codec(non_null[0])
        return prim, null_branch, logical2
    if ftype not in _PRIMITIVE_TO_SPARK:
        raise ValueError(f"unsupported Avro type: {ftype!r}")
    return ftype, None, logical


def spark_ddl_for(schema: dict) -> str:
    """Spark DDL string for a supported Avro record schema."""
    cols = []
    for f in schema["fields"]:
        prim, _, logical = _field_codec(f["type"])
        spark_t = (
            "timestamp"
            if logical == "timestamp-micros"
            else _PRIMITIVE_TO_SPARK[prim]
        )
        cols.append(f"{f['name']} {spark_t}")
    return ", ".join(cols)


# --- writer (fixture side) --------------------------------------------------


def _encode_value(prim: str, v) -> bytes:
    if prim in ("long", "int"):
        return _zigzag_encode(int(v))
    if prim == "double":
        return struct.pack("<d", float(v))
    if prim == "float":
        return struct.pack("<f", float(v))
    if prim == "string":
        raw = str(v).encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if prim == "bytes":
        raw = bytes(v)
        return _zigzag_encode(len(raw)) + raw
    if prim == "boolean":
        return b"\x01" if v else b"\x00"
    raise ValueError(f"unsupported Avro type: {prim!r}")


def write_avro(
    path: str,
    schema: dict,
    rows,
    codec: str = "deflate",
    block_records: int = 1000,
) -> None:
    """Write an Avro object container file (spec-conformant, readable by
    any Avro implementation). ``rows`` yields dicts keyed by field name;
    ``timestamp-micros`` fields accept datetime (µs since epoch computed
    here) or int.

    Timestamp semantics: a NAIVE datetime is interpreted as LOCAL wall
    time — that is exactly what PySpark's rdd path hands workers for
    ``TimestampType`` (naive, in the process's local timezone, which in
    the default config equals ``spark.sql.session.timeZone``). A
    tz-AWARE datetime is converted exactly. Either way the container
    holds TRUE epoch micros, so external Avro consumers (including the
    JVM ``spark-avro`` connector) decode the same instant on any host —
    the old ``calendar.timegm`` path silently assumed naive==UTC and
    shifted instants on non-UTC hosts (r7 ADVICE). Epoch arithmetic is
    integer timedelta division, never float ``.timestamp()`` (exact µs
    at any magnitude)."""
    import datetime as _dt

    _epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    _us = _dt.timedelta(microseconds=1)

    fields = [
        (f["name"], *_field_codec(f["type"])) for f in schema["fields"]
    ]

    def enc_row(row) -> bytes:
        out = bytearray()
        for name, prim, null_branch, logical in fields:
            v = row[name]
            if null_branch is not None:
                if v is None:
                    out += _zigzag_encode(null_branch)
                    continue
                out += _zigzag_encode(1 - null_branch)
            elif v is None:
                raise ValueError(f"null in non-nullable field {name}")
            if logical == "timestamp-micros" and not isinstance(v, int):
                # naive → assume local wall time (astimezone on a naive
                # datetime applies the local zone); aware → exact convert
                v = (v.astimezone(_dt.timezone.utc) - _epoch) // _us
            out += _encode_value(prim, v)
        return bytes(out)

    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    # Stream block-by-block to a temp file, publish with an atomic
    # rename: memory stays bounded by one block regardless of row count
    # (a whole-file BytesIO would hold the entire encoded table), and a
    # mid-write failure can never leave a truncated-but-header-valid
    # .avro for a scan to pick up (review catches r6). The tmp name is
    # unique PER ATTEMPT (pid+uuid) — a fixed suffix would let two
    # concurrent attempts of the same task (speculative execution, or a
    # zombie attempt outliving a driver-declared failure) interleave
    # writes into one shared tmp and publish a corrupt part file; with
    # independent tmps, last-rename-wins stays whole-file atomic.
    import uuid

    tmp = f"{path}.inprogress.{os.getpid()}.{uuid.uuid4().hex}"
    with open(tmp, "wb") as fh:
        fh.write(MAGIC)
        fh.write(_zigzag_encode(len(meta)))
        for k, v in sorted(meta.items()):
            kb = k.encode()
            fh.write(_zigzag_encode(len(kb)) + kb)
            fh.write(_zigzag_encode(len(v)) + v)
        fh.write(_zigzag_encode(0))
        fh.write(SYNC)

        block: list[bytes] = []

        def flush():
            if not block:
                return
            data = b"".join(block)
            if codec == "deflate":
                data = zlib.compress(data)[2:-4]  # raw DEFLATE per spec
            elif codec == "snappy":
                data = _snappy_compress_block(data)
            elif codec == "zstandard":
                data = _zstd_compress_block(data)
            elif codec != "null":
                raise ValueError(f"unsupported Avro codec: {codec!r}")
            fh.write(_zigzag_encode(len(block)))
            fh.write(_zigzag_encode(len(data)))
            fh.write(data)
            fh.write(SYNC)
            block.clear()

        for row in rows:
            block.append(enc_row(row))
            if len(block) >= block_records:
                flush()
        flush()
    os.replace(tmp, path)


_SPARK_TO_AVRO = {
    "bigint": "long",
    "long": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
}


def avro_schema_for(spark_schema, name: str = "record") -> dict:
    """Derive the Avro record schema for a supported Spark schema
    (primitives + timestamp → timestamp-micros; nullable fields become
    ``["null", T]`` unions). Unsupported Spark types raise."""
    fields = []
    for f in spark_schema.fields:
        st = f.dataType.simpleString()
        if st == "timestamp":
            ft: object = {"type": "long", "logicalType": "timestamp-micros"}
        elif st in _SPARK_TO_AVRO:
            ft = _SPARK_TO_AVRO[st]
        else:
            raise ValueError(
                f"avrolite sink: unsupported Spark type {st!r} "
                f"for field {f.name!r}"
            )
        if f.nullable:
            ft = ["null", ft]
        fields.append({"name": f.name, "type": ft})
    return {"type": "record", "name": name, "fields": fields}


def write_avro_records(df, path: str, codec: str = "deflate") -> int:
    """Executor-PARALLEL Avro sink: each input partition streams its rows
    to one container file ``part-<idx>.avro`` under ``path`` — the write
    twin of the ``format("avrolite")`` scan (the JVM ``spark-avro``
    connector is the preferred sink where installed; this is the
    dependency-free fallback, same posture as the reader).

    The driver derives the schema and creates the directory; everything
    else happens on executors via ``mapPartitionsWithIndex`` (rows
    stream straight into ``write_avro``'s block-buffered encoder —
    executor memory is bounded by one block, and each file publishes
    with an atomic rename, so a failed task can never leave a partial
    file for a scan to pick up; Spark's task retry simply overwrites).
    Empty partitions write nothing. Returns the number of rows written.

    Honesty note on ``path``: files are written with plain ``open()``,
    so executors must share the filesystem with the reader (local mode,
    NFS, or a fuse-mounted object store). A multi-node cluster writing
    to HDFS/S3 URIs should install the JVM ``spark-avro`` connector and
    use ``df.write.format("avro")`` — this sink is the dependency-free
    fallback with the same posture as the avrolite reader."""
    schema = avro_schema_for(df.schema)
    names = [f["name"] for f in schema["fields"]]
    os.makedirs(path, exist_ok=True)

    def write_part(idx, rows):
        n = 0

        def gen():
            nonlocal n
            for row in rows:
                n += 1
                yield dict(zip(names, row))

        g = gen()
        try:
            first = next(g)
        except StopIteration:
            return
        import itertools

        write_avro(
            os.path.join(path, f"part-{idx:05d}.avro"),
            schema,
            itertools.chain([first], g),
            codec=codec,
        )
        yield n

    return sum(df.rdd.mapPartitionsWithIndex(write_part).collect())


# --- reader -----------------------------------------------------------------


def _read_varint_fh(fh) -> int | None:
    """Streaming zigzag varint off an open handle. ``None`` on clean EOF
    at a value boundary (how block iteration detects end-of-file);
    truncation mid-varint raises."""
    first = fh.read(1)
    if not first:
        return None
    b = first[0]
    shift = u = 0
    while True:
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        nxt = fh.read(1)
        if not nxt:
            raise ValueError("truncated Avro varint")
        b = nxt[0]
    return (u >> 1) ^ -(u & 1)


def _expect_varint(fh) -> int:
    """A varint that must be present: clean EOF here is truncation (a
    ``None`` flowing into ``fh.read(None)``/``fh.seek(None)`` would
    surface as TypeError and break the ValueError quarantine
    contract)."""
    v = _read_varint_fh(fh)
    if v is None:
        raise ValueError("truncated Avro structure (unexpected EOF)")
    return v


def _read_header_fh(fh) -> tuple[dict, str, bytes, int]:
    """Parse the container header INCREMENTALLY from an open handle —
    never slurps the file (r6 ADVICE: the whole-file read contradicted
    the bounded-memory posture). Leaves ``fh`` positioned at the first
    data block; returns (schema, codec, sync, data_start)."""
    if fh.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_varint_fh(fh)
        if n is None:
            raise ValueError("truncated Avro header")
        if n == 0:
            break
        if n < 0:  # negative block count carries an explicit byte size
            _read_varint_fh(fh)
            n = -n
        for _ in range(n):
            klen = _expect_varint(fh)
            if klen < 0:
                # a corrupt negative length would turn fh.read(-1) into
                # a slurp of the rest of the file — the exact unbounded
                # read this incremental parser exists to avoid
                raise ValueError("corrupt Avro header (negative key length)")
            k = fh.read(klen)
            if len(k) != klen:
                raise ValueError("truncated Avro header (metadata key)")
            vlen = _expect_varint(fh)
            if vlen < 0:
                raise ValueError(
                    "corrupt Avro header (negative value length)"
                )
            v = fh.read(vlen)
            if len(v) != vlen:
                raise ValueError("truncated Avro header (metadata value)")
            meta[k.decode()] = v
    sync = fh.read(16)
    if len(sync) != 16:
        raise ValueError("truncated Avro header (sync marker)")
    schema_raw = meta.get("avro.schema")
    if schema_raw is None:
        # KeyError would escape the ValueError quarantine contract
        raise ValueError("Avro header missing avro.schema")
    schema = json.loads(schema_raw.decode())
    codec = meta.get("avro.codec", b"null").decode()
    if schema.get("type") != "record":
        raise ValueError("avrolite supports top-level record schemas only")
    return schema, codec, sync, fh.tell()


def read_avro_header(path: str) -> tuple[dict, str, bytes, int]:
    """(schema, codec, sync_marker, data_start) from a container file."""
    with open(path, "rb") as fh:
        try:
            return _read_header_fh(fh)
        except ValueError as e:
            raise ValueError(f"{path}: {e}") from None


def build_split_index(path: str, target_bytes: int) -> list[tuple[int, int]]:
    """Block-aligned ``(start, end)`` byte ranges over the data section,
    each covering ~``target_bytes`` of consecutive blocks — the planner's
    index for fanning ONE multi-GB container file out to many executor
    partitions. Cost is proportional to block COUNT (two varints + one
    sync per block, payloads seeked over), never to data volume."""
    with open(path, "rb") as fh:
        _, _, sync, data_start = _read_header_fh(fh)
        size = os.fstat(fh.fileno()).st_size
        splits: list[tuple[int, int]] = []
        cur = pos = data_start
        while pos < size:
            n_recs = _read_varint_fh(fh)
            if n_recs is None:
                break
            n_bytes = _expect_varint(fh)
            fh.seek(n_bytes, 1)
            if fh.read(16) != sync:
                raise ValueError(
                    f"{path}: sync marker mismatch (corrupt block)"
                )
            pos = fh.tell()
            if pos - cur >= target_bytes:
                splits.append((cur, pos))
                cur = pos
        if cur < pos:
            splits.append((cur, pos))
        return splits or [(data_start, data_start)]


def iter_avro_rows(path: str, start: int | None = None, end: int | None = None):
    """Yield tuples (schema field order) from a container file, streaming
    block-by-block — memory is bounded by ONE block, never the file.

    ``start``/``end`` restrict iteration to a block-aligned byte range
    from ``build_split_index`` (``start`` MUST be a block boundary; the
    sync check catches a misaligned one)."""
    import datetime

    with open(path, "rb") as fh:
        try:
            schema, codec, sync, _ = _read_header_fh(fh)
        except ValueError as e:
            raise ValueError(f"{path}: {e}") from None
        fields = [
            (f["name"], *_field_codec(f["type"])) for f in schema["fields"]
        ]
        if start is not None:
            fh.seek(start)
        while True:
            if end is not None and fh.tell() >= end:
                break
            n_recs = _read_varint_fh(fh)
            if n_recs is None:
                break
            n_bytes = _expect_varint(fh)
            raw = fh.read(n_bytes)
            if len(raw) != n_bytes:
                raise ValueError(f"{path}: truncated Avro block")
            if fh.read(16) != sync:
                raise ValueError(
                    f"{path}: sync marker mismatch (corrupt block)"
                )
            if codec == "deflate":
                raw = zlib.decompress(raw, -15)
            elif codec == "snappy":
                raw = _snappy_decompress_block(raw)
            elif codec == "zstandard":
                raw = _zstd_decompress_block(raw)
            elif codec != "null":
                raise ValueError(f"unsupported Avro codec: {codec!r}")
            yield from _decode_block(raw, n_recs, fields, datetime)


def _decode_block(raw: bytes, n_recs: int, fields, datetime):
    """Decode one decompressed block's records (tuples in field order)."""
    b = memoryview(raw)
    p = 0
    for _ in range(n_recs):
        row = []
        for _name, prim, null_branch, logical in fields:
            if null_branch is not None:
                branch, p = _zigzag_decode(b, p)
                if branch == null_branch:
                    row.append(None)
                    continue
            if prim in ("long", "int"):
                v, p = _zigzag_decode(b, p)
            elif prim == "double":
                (v,) = struct.unpack_from("<d", b, p)
                p += 8
            elif prim == "float":
                (v,) = struct.unpack_from("<f", b, p)
                p += 4
            elif prim in ("string", "bytes"):
                ln, p = _zigzag_decode(b, p)
                v = bytes(b[p : p + ln])
                p += ln
                if prim == "string":
                    v = v.decode("utf-8")
            elif prim == "boolean":
                v = b[p] == 1
                p += 1
            else:  # pragma: no cover - _field_codec already rejects
                raise ValueError(prim)
            if logical == "timestamp-micros":
                # The container holds true epoch micros; Spark expects a
                # NAIVE datetime in LOCAL wall time (the mirror of the
                # writer's interpretation — round-trips hold the same
                # instant on any host TZ). Arithmetic in exact integer
                # micros (the fromtimestamp float path loses µs past
                # 2^53), then one tz conversion, then drop tzinfo.
                v = (
                    datetime.datetime(
                        1970, 1, 1, tzinfo=datetime.timezone.utc
                    )
                    + datetime.timedelta(microseconds=v)
                ).astimezone().replace(tzinfo=None)
            row.append(v)
        yield tuple(row)


# --- PySpark DataSource -----------------------------------------------------


def _schema(path: str) -> str:
    return spark_ddl_for(read_avro_header(path)[0])


def _splits(path: str, target_bytes: int) -> list[tuple]:
    """The whole file when it is at most ``target_bytes``, else its
    block-aligned byte ranges: a few-huge-files landing parallelizes the
    same as a many-files one."""
    if os.path.getsize(path) <= target_bytes:
        return [()]
    return build_split_index(path, target_bytes)


def make_datasource():
    """``format("avrolite")``: Avro object container files, on the shared
    landing shell (sources/datasource.py). Built lazily so the codec
    layer imports without pyspark."""
    from .datasource import landing_source

    return landing_source(
        "avrolite", (".avro",), _schema, iter_avro_rows, _splits
    )


def register(spark) -> None:
    """Idempotently register ``format("avrolite")`` with a session."""
    spark.dataSource.register(make_datasource())
