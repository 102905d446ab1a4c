"""Sink adapters (SURVEY §2 A18/A19).

The reference POSTs one FeatureCollection JSON document per run
(task.ts:216), with the target resolved from ``ETL_API``/``ETL_LAYER``
env (reference README.md:14-22). The engine offers:

* ``features_parquet`` / ``features_jsonl`` — row-per-feature distributed
  sinks (the scale path: every executor writes its partition);
* ``feature_collection_body`` — the one FeatureCollection body builder,
  joining Spark's ``toJSON`` lines as they are;
* ``feature_collection_json`` — single-document parity sink (driver-side
  assembly; only for reference-sized payloads);
* ``rest_post_batches`` — executor-side REST sink: each partition POSTs its
  own batches, so the output never funnels through the driver;
* ``EtlEndpoint`` / ``RestPoster`` — the reference's env-configured submit
  target as a picklable POST callable.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ConfigError


def features_parquet(features: DataFrame, path: str, mode: str = "overwrite") -> None:
    features.write.mode(mode).parquet(path)


def features_jsonl(features: DataFrame, path: str, mode: str = "overwrite") -> None:
    features.write.mode(mode).json(path)


def feature_collection_body(features: Iterable[str]) -> str:
    """One FeatureCollection document from Feature JSON strings (Spark's
    ``toJSON`` lines), joined as they are: no parse and no re-dump, so
    the body is compact JSON."""
    return '{"type":"FeatureCollection","features":[' + ",".join(features) + "]}"


def feature_collection_json(features: DataFrame) -> str:
    """Assemble the single FeatureCollection document as a JSON string.

    Collect-to-driver by design — matches the reference's in-memory
    accumulation (task.ts:107-110). Guarded for scale misuse.
    """
    return feature_collection_body(features.toJSON().collect())


def rest_post_batches(
    features: DataFrame,
    post: Callable[[str], None],
    batch_size: int = 500,
) -> int:
    """POST features as batched FeatureCollection documents, executor-side.

    ``post`` is shipped in the task closure and invoked WHERE each
    partition lives: every partition slices itself into ≤ ``batch_size``
    FeatureCollection bodies and POSTs them locally, so a 1000-executor
    job fans the submit load across the cluster instead of serializing the
    whole output through one driver process (the reference posts a single
    document per run, task.ts:216 — fine at drone-fleet size, not at
    100 TB). ``post`` must therefore be picklable — a ``RestPoster`` bound
    to an endpoint URL, or a file-writing capture in tests; unpicklable
    callables fail fast here rather than as an opaque task-serialization
    error. Runs one Spark job; returns the total number of features POSTed.
    Each body joins Spark's own ``toJSON`` lines as they are
    (``feature_collection_body``): compact JSON that no Python code parses
    or dumps again.

    Delivery is AT-LEAST-ONCE: Spark re-runs failed/speculative tasks, so a
    partition's batches can be POSTed more than once (the driver-side loop
    this replaced was effectively exactly-once). Make bodies idempotent on
    the receiving side (e.g. a batch id) or disable speculation
    (``spark.speculation=false``, the default) if duplicates are unacceptable.
    """
    # Probe with cloudpickle — what Spark actually ships closures with —
    # not stdlib pickle, which rejects lambdas/local closures cloudpickle
    # handles fine (a stdlib probe would fail-fast callables that work).
    from pyspark import cloudpickle

    try:
        cloudpickle.dumps(post)
    except Exception as exc:
        raise TypeError(
            "rest_post_batches requires a serializable `post` callable (it "
            "is shipped to executors inside the task closure) — use "
            "RestPoster or a module-level function; cloudpickle failed "
            f"with: {exc!r}"
        ) from exc

    def _post_partition(lines):
        lines, n = iter(lines), 0
        while batch := list(itertools.islice(lines, batch_size)):
            post(feature_collection_body(batch))
            n += len(batch)
        yield n

    return sum(features.toJSON().mapPartitions(_post_partition).collect())


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
    """Picklable POST callable for ``rest_post_batches``.

    Instances carry only plain attributes (url/headers/timeout), so the
    task closure serializes cleanly to executors; the HTTP client is
    imported lazily inside the call, on the executor. ``transport``
    (url, body) → None substitutes the network for offline tests and must
    itself be picklable."""

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
