"""One PySpark-4 DataSource shell for every landing-zone file format.

The reference's source is one HTTPS GET per scheduled run (task.ts:112-117)
— fine driver-side at one-tenant scale. The scale path declared in SURVEY
§2 A1 is a proper Spark data source, and Part B adds Avro and Arrow IPC
files. All three formats plug into ``landing_source``, which builds the
``DataSource``, its partition, its batch reader and its stream reader; a
format declares only what it alone knows:

* ``name`` and ``exts`` — the format name and the file extensions a
  landing DIRECTORY is filtered by (a path naming one file is that file,
  whatever its extension);
* ``schema`` — a fixed schema, or a callable reading it from the first
  landing file;
* ``read(path, *span)`` — the per-file decoder, run on executors; it
  yields row tuples or ``pyarrow.RecordBatch`` objects, and Spark turns
  either into Arrow batches for the JVM;
* ``splits(path, target_bytes)`` (optional) — the spans one file fans out
  to on a BATCH scan under the ``split_target_bytes`` option (default
  32 MiB); a span is the extra arguments ``read`` takes, ``()`` being the
  whole file. Without it every file is one partition.

Planning is driver-side metadata only; executors decode. A scan that plans
no partition reads as an empty frame.

STREAMING: every format also reads as ``spark.readStream.format(name)``.
The reference is a *scheduled* poll (task.ts:86-87
``InvocationType.Schedule``), which ``AppendOnlyLandingStreamReader``
models natively: one partition per NEW landing file (a landing file
arrives as one object, so stream partitions are always whole files), and
checkpointed offsets give exactly-once across restarts.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import namedtuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..schemas import DRONE_LOCATION_SCHEMA

SPLIT_TARGET_BYTES = 32 * 1024 * 1024
_Format = namedtuple("_Format", "name exts schema read splits")


def _landing_files(path: str, exts: tuple[str, ...]) -> list[str]:
    """A landing directory's ``exts`` files, name-sorted; a path naming
    one file is that file, whatever its extension."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(exts)
        )
    return [path]


class _FilePartition(InputPartition):
    def __init__(self, path: str, span: tuple = ()):
        self.path = path
        self.span = span


class _Landing:
    """The landing path and the format's decoder, shared by both readers."""

    def __init__(self, fmt: _Format, options):
        self.fmt = fmt
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{fmt.name} source requires a path")

    def _list(self) -> list[str]:
        return _landing_files(self.path, self.fmt.exts)

    def read(self, partition: _FilePartition | None):
        # Spark reads one None partition when partitions() is empty
        if partition is not None:
            yield from self.fmt.read(partition.path, *partition.span)


class _BatchReader(_Landing, DataSourceReader):
    def __init__(self, fmt: _Format, options):
        super().__init__(fmt, options)
        if fmt.splits is not None:
            self.split_target = int(
                options.get("split_target_bytes", SPLIT_TARGET_BYTES)
            )
            if self.split_target <= 0:
                raise ValueError("split_target_bytes must be positive")

    def partitions(self):
        if self.fmt.splits is None:
            return [_FilePartition(p) for p in self._list()]
        return [
            _FilePartition(p, span)
            for p in self._list()
            for span in self.fmt.splits(p, self.split_target)
        ]


class AppendOnlyLandingStreamReader(_Landing, DataSourceStreamReader):
    """Micro-batch reader over an append-only landing directory — the one
    offset protocol of every landing format.

    Offsets are ``{"idx": n, "last": name, "h": hash}`` = number of
    (name-sorted) landing files consumed, the NAME of the last one, and a
    hash of the consumed names; landings must be append-only with
    monotonically-named files (``part-000001.jsonl`` …), the standard
    object-store drop convention. The convention is ENFORCED, not trusted:
    if a file ever lands with a lexically earlier name than an
    already-consumed file, a bare index slice would silently re-read a
    consumed file and skip the newcomer (duplicate + data loss) — so
    planning asserts the current sorted listing is a prefix-extension of
    what was consumed and raises loudly otherwise."""

    @staticmethod
    def _prefix_hash(files: list[str], n: int) -> str:
        names = "\n".join(os.path.basename(f) for f in files[:n])
        return hashlib.md5(names.encode()).hexdigest()

    def _check_prefix(self, files: list[str], offset: dict) -> None:
        """The current listing's first idx names must hash to exactly the
        consumed prefix recorded in the offset. A bare last-name check
        misses the removal+insertion combination (retention deletes a
        consumed file while a lexically-earlier one lands: position idx-1
        still shows the right name, but position 0 now holds an unread
        file the index slice will never visit); the prefix hash catches
        any reshuffle of the consumed range."""
        idx = offset.get("idx", 0)
        if idx == 0:
            return
        h = offset.get("h")
        ok = (
            len(files) >= idx
            and (h is None or self._prefix_hash(files, idx) == h)
            # legacy offsets (no hash) keep the last-name check
            and (
                h is not None
                or offset.get("last") is None
                or os.path.basename(files[idx - 1]) == offset.get("last")
            )
        )
        if not ok:
            raise RuntimeError(
                f"{self.fmt.name} landing {self.path} violated the "
                f"monotonic-naming convention: offset {idx} no longer "
                "names the same consumed prefix in the sorted listing — a "
                "lexically-earlier file arrived after consumption or a "
                "consumed file was removed. Refusing to plan a batch "
                "that would duplicate/skip data."
            )

    def initialOffset(self) -> dict:
        # h is None, not a hash of the empty prefix: nothing was consumed,
        # and _check_prefix never reads h at idx 0 anyway
        return {"idx": 0, "last": None, "h": None}

    def latestOffset(self) -> dict:
        files = self._list()
        return {
            "idx": len(files),
            "last": os.path.basename(files[-1]) if files else None,
            "h": self._prefix_hash(files, len(files)),
        }

    def partitions(self, start: dict, end: dict):
        files = self._list()
        self._check_prefix(files, start)
        self._check_prefix(files, end)
        return [_FilePartition(p) for p in files[start["idx"] : end["idx"]]]

    def commit(self, end: dict) -> None:
        # Landing files are immutable; nothing to clean up. A production
        # variant would age out files older than the committed offset.
        pass


def landing_source(name: str, exts: tuple[str, ...], schema, read, splits=None):
    """The ``DataSource`` class of one landing format (see the module
    docstring for what each argument declares)."""
    fmt = _Format(name, exts, schema, read, splits)

    class LandingDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return fmt.name

        def schema(self):
            if not callable(fmt.schema):
                return fmt.schema
            files = _landing_files(self.options.get("path", ""), fmt.exts)
            if not files:
                raise ValueError(
                    f"{fmt.name}: no {'/'.join(fmt.exts)} files at path"
                )
            return fmt.schema(files[0])

        def reader(self, schema) -> _BatchReader:
            return _BatchReader(fmt, self.options)

        def streamReader(self, schema) -> AppendOnlyLandingStreamReader:
            return AppendOnlyLandingStreamReader(fmt, self.options)

    return LandingDataSource


def _read_jsonl(path: str):
    """Decode-or-throw generator over one landing file (task.ts:119-121
    semantics)."""
    fields = [f.name for f in DRONE_LOCATION_SCHEMA.fields]
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)  # malformed line raises: decode-or-throw
            sensors = [
                (
                    s["id"],
                    s["name"],
                    s.get("video_url"),
                    s.get("rtsp_url"),
                )
                for s in rec.get("sensors", [])
            ]
            yield tuple(sensors if f == "sensors" else rec[f] for f in fields)


# ``format("dronesense")`` — JSON-line drone telemetry landings.
DroneSenseDataSource = landing_source(
    "dronesense", (".json", ".jsonl"), DRONE_LOCATION_SCHEMA, _read_jsonl
)


def register(spark) -> None:
    """Idempotently register the format with a session."""
    spark.dataSource.register(DroneSenseDataSource)
