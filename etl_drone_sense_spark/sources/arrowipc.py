"""Arrow IPC (Feather V2) file-format surface — ``format("arrowipc")``.

Arrow IPC is the columnar interchange format of the pyarrow/polars/
DuckDB/Rust-arrow ecosystem (``.arrow`` / ``.arrows`` / Feather V2
files); Spark has no built-in reader for it, so this declares one on the
repo's landing-format shell (sources/datasource.py) — driver touches only
metadata, executors read record batches.

Design (reference parity note: the reference, task.ts:1-224, reads only
its HTTP API; this extends the engine's file-format matrix — SURVEY §2
Part B — alongside parquet/JSON/CSV/ORC/text/Avro/XML):

* **Batch-aligned splits.** The IPC FILE format ends with a footer that
  indexes every record batch, so the natural split unit is the record
  batch — the driver groups batches into partitions of roughly
  ``split_target_bytes`` using ONLY footer metadata (no data reads on
  the driver), and each executor opens the file with memory-mapping and
  reads just its batch range. A few-huge-files landing parallelizes the
  same as a many-files one, exactly like avrolite's block-aligned
  byte-range splits.
* **Arrow stays Arrow.** ``iter_arrow_batches`` yields
  ``pyarrow.RecordBatch`` objects — the Python DataSource API's Arrow
  fast path — so rows are never materialized as Python objects anywhere
  in the scan, batch or stream. (The Avro
  source must decode row-by-row because the wire format is row-major;
  IPC is already columnar.)
* **Compression per file.** The writer emits uncompressed, LZ4-frame, or
  ZSTD buffer compression (the two codecs the IPC spec defines) so the
  fixture exercises the decode matrix like the Avro landing does.
"""

from __future__ import annotations

import os


def write_arrow_ipc(
    path: str, table, compression: str | None = None, max_chunksize: int = 1024
) -> None:
    """Write ``table`` (pyarrow Table) as an Arrow IPC FILE, chunked to
    ``max_chunksize``-row record batches so even a small fixture file is
    MULTI-batch — the split index must always have something to split."""
    import pyarrow as pa

    opts = pa.ipc.IpcWriteOptions(compression=compression)
    with pa.OSFile(path, "wb") as sink:
        with pa.ipc.new_file(sink, table.schema, options=opts) as writer:
            for batch in table.to_batches(max_chunksize=max_chunksize):
                writer.write_batch(batch)


_SPARK_TYPES = {
    "bool": "boolean",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "binary": "binary",
    "large_binary": "binary",
    "date32[day]": "date",
}


def spark_ddl_for(schema) -> str:
    """Spark DDL string for an Arrow schema — the interchange subset
    (ints, floats, strings, binary, bool, date, timestamp[us|ms|s],
    decimal, and one level of list<...>). Unknown types raise instead of
    guessing: a silently-wrong type mapping would corrupt every row."""
    import pyarrow.types as pt

    def one(t) -> str:
        s = str(t)
        if s in _SPARK_TYPES:
            return _SPARK_TYPES[s]
        if pt.is_timestamp(t):
            # Enforce the documented timestamp[us|ms|s] subset explicitly.
            # ns would silently truncate through Spark's microsecond
            # representation, and a tz-NAIVE Arrow timestamp read as Spark
            # TIMESTAMP (= TIMESTAMP_LTZ) is reinterpreted in the session
            # timezone — a silent value shift. Naive → timestamp_ntz;
            # tz-aware (any zone: Arrow stores UTC micros) → timestamp.
            if t.unit not in ("s", "ms", "us"):
                raise ValueError(
                    f"arrowipc: unsupported timestamp unit {t.unit!r} "
                    "(only s/ms/us map losslessly to Spark timestamps)"
                )
            return "timestamp" if t.tz is not None else "timestamp_ntz"
        if pt.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        if pt.is_list(t) or pt.is_large_list(t):
            return f"array<{one(t.value_type)}>"
        raise ValueError(f"arrowipc: unsupported Arrow type {t}")

    return ", ".join(f"{f.name} {one(f.type)}" for f in schema)


def build_split_index(path: str, target_bytes: int) -> list[tuple[int, int]]:
    """Group a file's record batches into [start_batch, end_batch) ranges
    of roughly ``target_bytes`` each, using ONLY footer metadata (batch
    count) plus proportional sizing — no data reads. One range per batch
    when the file is huge; one range for the whole file when small."""
    import pyarrow as pa

    size = os.path.getsize(path)
    with pa.memory_map(path, "r") as mm:
        n = pa.ipc.open_file(mm).num_record_batches
    if n == 0:
        return []
    per_batch = max(size // n, 1)
    group = max(int(target_bytes // per_batch), 1)
    return [(s, min(s + group, n)) for s in range(0, n, group)]


def iter_arrow_batches(path: str, start: int = 0, end: int | None = None):
    """Record batches [start, end) of an IPC file (``end=None``: to the
    last) via memory-mapping — the executor-side read, batch scan and
    stream alike. Zero-copy until a compressed buffer forces decode."""
    import pyarrow as pa

    with pa.memory_map(path, "r") as mm:
        reader = pa.ipc.open_file(mm)
        n = reader.num_record_batches
        for i in range(start, n if end is None else min(end, n)):
            yield reader.get_batch(i)


def write_arrow_ipc_records(
    df, path: str, compression: str | None = None
) -> int:
    """Executor-PARALLEL Arrow IPC sink: each input partition streams its
    record batches to one file ``part-<idx>.arrows`` under ``path`` —
    the write twin of the ``format("arrowipc")`` scan, built on
    ``mapInArrow`` so rows cross to Python as Arrow batches and are
    written as Arrow batches (no row materialization; executor memory is
    bounded by one batch). Each file publishes with an atomic rename, so
    a failed task can never leave a partial file for a scan to pick up.
    Empty partitions write nothing. Returns the number of rows written.

    Same filesystem honesty note as the Avro sink: files are written
    with plain ``open()``, so executors must share the filesystem with
    the reader (local mode, NFS, fuse-mounted object stores)."""
    import pyarrow as pa

    os.makedirs(path, exist_ok=True)

    def write_part(batches):
        from pyspark import TaskContext

        idx = TaskContext.get().partitionId()
        n = 0
        writer = None
        tmp = os.path.join(path, f".part-{idx:06d}.arrows.tmp")
        final = os.path.join(path, f"part-{idx:06d}.arrows")
        sink = None
        opts = pa.ipc.IpcWriteOptions(compression=compression)
        for batch in batches:
            if writer is None:
                sink = pa.OSFile(tmp, "wb")
                writer = pa.ipc.new_file(sink, batch.schema, options=opts)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            sink.close()
            os.replace(tmp, final)
            yield pa.RecordBatch.from_pydict({"n": [n]})

    counts = df.mapInArrow(write_part, "n long").collect()
    return int(sum(r["n"] for r in counts))


def _schema(path: str) -> str:
    import pyarrow as pa

    with pa.memory_map(path, "r") as mm:
        return spark_ddl_for(pa.ipc.open_file(mm).schema)


def make_datasource():
    """``format("arrowipc")``: Arrow IPC / Feather V2 files, on the shared
    landing shell (sources/datasource.py). Built lazily so the
    pure-pyarrow layer imports without pyspark."""
    from .datasource import landing_source

    return landing_source(
        "arrowipc",
        (".arrow", ".arrows", ".feather"),
        _schema,
        iter_arrow_batches,
        build_split_index,
    )


def register(spark) -> None:
    """Idempotently register ``format("arrowipc")`` with a session."""
    spark.dataSource.register(make_datasource())
