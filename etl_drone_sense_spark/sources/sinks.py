"""Sink adapters (SURVEY §2 A18/A19).

The reference POSTs one FeatureCollection JSON document per run
(task.ts:216), with the target resolved from ``ETL_API``/``ETL_LAYER``
env (reference README.md:14-22). The engine offers:

* ``features_parquet`` / ``features_jsonl`` — row-per-feature distributed
  sinks (the scale path: every executor writes its partition);
* ``feature_json_lines`` — every feature as one compact JSON string,
  collected to the driver over one Arrow stream;
* ``feature_collection_body`` — the one FeatureCollection body builder,
  joining those lines as they are;
* ``feature_collection_json`` — single-document parity sink;
* ``rest_post_batches`` — driver-side REST sink: one collect, then
  ``batch_size``-feature bodies POSTed in order, each once per call;
* ``EtlEndpoint`` / ``RestPoster`` — the reference's env-configured submit
  target as a POST callable.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ConfigError

if TYPE_CHECKING:
    import pyarrow as pa


def features_parquet(features: DataFrame, path: str, mode: str = "overwrite") -> None:
    features.write.mode(mode).parquet(path)


def features_jsonl(features: DataFrame, path: str, mode: str = "overwrite") -> None:
    features.write.mode(mode).json(path)


def feature_json_lines(features: DataFrame) -> "pa.ChunkedArray":
    """Every feature as one compact JSON string, in row order: Spark's
    ``to_json`` of the whole row, the same lines ``toJSON`` writes,
    collected over one Arrow stream. The JVM serializes; no Python worker
    runs and no Python string exists per row."""
    return features.select(F.to_json(F.struct("*"))).toArrow().column(0)


def feature_collection_body(lines: "pa.ChunkedArray") -> str:
    """One FeatureCollection document from Feature JSON lines, joined as
    they are by one Arrow kernel: no parse and no re-dump, so the body is
    compact JSON."""
    import pyarrow as pa
    import pyarrow.compute as pc

    flat = lines.combine_chunks()
    one_list = pa.ListArray.from_arrays(pa.array([0, len(flat)], pa.int32()), flat)
    features = pc.binary_join(one_list, ",")[0].as_py()
    return '{"type":"FeatureCollection","features":[' + features + "]}"


def feature_collection_json(features: DataFrame) -> str:
    """Assemble the single FeatureCollection document as a JSON string.

    Collect-to-driver by design — matches the reference's in-memory
    accumulation (task.ts:107-110).
    """
    return feature_collection_body(feature_json_lines(features))


def rest_post_batches(
    features: DataFrame,
    post: Callable[[str], None],
    batch_size: int = 500,
) -> int:
    """POST features as batched FeatureCollection documents, from the driver.

    Runs one Spark job that collects every feature's JSON line over Arrow
    (``feature_json_lines``), then slices the lines into
    ``ceil(n / batch_size)`` bodies, every one ``batch_size`` features but
    the last, and calls ``post`` once per body, in order. Only one piece
    is joined into a string at a time. The reference likewise posts from
    the process that fetched the drones (task.ts:216). Returns the number
    of features POSTed.

    Delivery is ONCE PER CALL: a Spark task retry re-runs the collect, not
    a POST, so no body is sent twice. A ``post`` that raises stops the
    loop; the bodies already sent stay sent and the rest are not sent.
    The driver holds one call's JSON, the same order of size as the
    payload the tick decoded there; ``features_parquet`` and
    ``features_jsonl`` are the bulk path.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be at least 1, got {batch_size}")
    lines = feature_json_lines(features)
    for start in range(0, len(lines), batch_size):
        post(feature_collection_body(lines.slice(start, batch_size)))
    return len(lines)


@dataclass(frozen=True)
class EtlEndpoint:
    """The reference's submit target, resolved from env (README.md:14-22):
    ``ETL_API`` is the CloudTAK base URL, ``ETL_LAYER`` the layer id the
    features are attributed to (task.ts:216 submits via the base library
    using exactly these two variables)."""

    api: str
    layer: str
    path_template: str = "{api}/api/layer/{layer}/cot"

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "EtlEndpoint":
        env = dict(os.environ) if env is None else env
        missing = [k for k in ("ETL_API", "ETL_LAYER") if not env.get(k)]
        if missing:
            raise ConfigError(f"missing env: {', '.join(missing)}")
        return cls(api=env["ETL_API"].rstrip("/"), layer=env["ETL_LAYER"])

    @property
    def url(self) -> str:
        return self.path_template.format(api=self.api, layer=self.layer)


class RestPoster:
    """POST callable for ``rest_post_batches``, called on the driver.

    It carries the url, headers and timeout; the HTTP client is imported
    lazily inside the call. ``transport`` (url, body) → None substitutes
    the network for offline runs."""

    def __init__(
        self,
        url: str,
        headers: dict[str, str] | None = None,
        timeout: float = 12.0,  # reference connection networkTimeout=12000 ms
        transport: Callable[[str, str], None] | None = None,
    ):
        self.url = url
        self.headers = {"Content-Type": "application/json", **(headers or {})}
        self.timeout = timeout
        self.transport = transport

    def __call__(self, body: str) -> None:
        if self.transport is not None:
            self.transport(self.url, body)
            return
        import urllib.request

        req = urllib.request.Request(
            self.url, data=body.encode("utf-8"), headers=self.headers, method="POST"
        )
        urllib.request.urlopen(req, timeout=self.timeout)  # noqa: S310


def partitioned_parquet(
    df: DataFrame, path: str, partition_by: list[str], mode: str = "overwrite"
) -> None:
    """Hive-partitioned parquet sink — the default layout for 100 TB outputs
    (partition pruning on read; one writer task per partition via AQE)."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def compact_small_files(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Compact a directory of many small parquet files into ~target-sized
    ones (the small-files problem: at 100 TB a scan over millions of tiny
    files is dominated by open/footer overhead and driver listing).

    Returns the output file count. Sizing uses the on-disk byte total —
    cheap driver-side listing, no data pass — then one shuffle-free
    coalesce when shrinking (or a repartition when the directory is one
    giant file that needs splitting).

    LOCAL-FILESYSTEM FALLBACK for plain directory tables: the directory
    swap is not atomic (POSIX has no atomic two-directory exchange), only
    ordered so no step deletes the only copy — the old directory is
    renamed aside first, the compacted one renamed in, and only then is
    the old copy removed; a crash at any point leaves a complete dataset
    on disk (possibly under ``._compact_old``, recoverable by a rename).
    The PRIMARY path for managed tables is ``table_commit.compact``:
    immutable versioned prefixes + an atomic manifest-pointer commit
    (Iceberg/Delta semantics), which has no swap window at all and works
    on object stores.
    """
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    # Guarded probe: a raw scan is shuffle-free today, but if this plan
    # ever grows an Exchange the guard falls back to repartition instead
    # of double-executing it under AQE (readers.safe_num_partitions).
    from .readers import safe_num_partitions

    cur = safe_num_partitions(df, default=0)
    out = df.coalesce(n_out) if n_out <= cur else df.repartition(n_out)
    base = path.rstrip("/")
    tmp = base + "._compact_tmp"
    old = base + "._compact_old"
    out.write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):  # leftover from an earlier crashed swap
        shutil.rmtree(old)
    os.rename(base, old)  # old data intact, set aside
    try:
        os.rename(tmp, base)  # compacted data takes over
    except BaseException:
        os.rename(old, base)  # restore; nothing was deleted
        raise
    shutil.rmtree(old)  # only now is the superseded copy dropped
    return n_out
