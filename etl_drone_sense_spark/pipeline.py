"""End-to-end drone-ingest pipeline and capability API.

This is the surface a user of the reference switches to:

* ``run_ingest``  — the whole reference dataflow (A1 fetch → A2 typed
  decode → A3-A17 Feature transform → A18/A19 sink) as one call, in batch
  mode. The streaming twin is ``streaming.pipeline.stream_drone_features``
  behind an ``AvailableNow`` trigger (reference task.ts:220-223's local /
  scheduled entry points collapse to the same function here).
* ``schema``      — the reference's capability introspection
  (``schema(type, flow)``, reference task.ts:89-102): input/output schemas
  per flow so a host platform can render config UIs and validate wiring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .config import Environment
from .operators.feature_transform import drone_features
from .schemas import DRONE_LOCATION_SCHEMA
from .sources.readers import fetch_drone_records
from .sources.sinks import (
    EtlEndpoint,
    RestPoster,
    feature_json_lines,
    rest_post_batches,
)

# Environment as a StructType for capability reporting (task.ts:74-82).
ENVIRONMENT_SCHEMA = T.StructType(
    [
        T.StructField("DroneSenseToken", T.StringType(), False),
        T.StructField("DEBUG", T.BooleanType(), False),
    ]
)

EMPTY_SCHEMA = T.StructType([])


def schema(type_: str, flow: str) -> T.StructType:
    """Capability introspection (reference task.ts:89-102).

    flow='incoming': type='input' → the config (Environment) schema,
    type='output' → the record (DroneSenseLocation) schema; any outgoing
    flow reports the empty schema (reference task.ts:99-101).
    """
    if flow == "incoming":
        if type_ == "input":
            return ENVIRONMENT_SCHEMA
        if type_ == "output":
            return DRONE_LOCATION_SCHEMA
        raise ValueError(f"unknown schema type: {type_!r}")
    return EMPTY_SCHEMA


def run_ingest(
    spark: SparkSession,
    env: Environment | None = None,
    payload: list | None = None,
    post: Callable[[str], None] | None = None,
    batch_size: int = 500,
) -> DataFrame:
    """One scheduled invocation of the reference pipeline (task.ts:104-217).

    ``payload`` injects a pre-fetched record list (tests / offline); without
    it the DroneSense API is fetched with ``env.DroneSenseToken``. When
    ``post`` is given, features are submitted as batched FeatureCollection
    documents (A19); the transformed features DataFrame is returned either
    way so callers can also land it to files.
    """
    env = env or Environment.from_env()
    records = fetch_drone_records(
        spark, api_key=env.DroneSenseToken, _payload=payload
    )
    feats = drone_features(records)
    if env.DEBUG:
        for line in feature_json_lines(feats).to_pylist():
            print(line)  # reference's verbose mode (task.ts:120)
    if post is not None:
        rest_post_batches(feats, post, batch_size=batch_size)
    return feats


def handler(
    event: dict | None = None,
    spark: SparkSession | None = None,
    payload: list | None = None,
    transport: Callable[[str, str], None] | None = None,
    batch_size: int = 500,
) -> dict:
    """Scheduled-invocation entry point (reference task.ts:221-223).

    The reference exports a Lambda ``handler(event)`` that runs the same
    ``control()`` dataflow on a schedule, with the submit target provided
    by the runtime as ``ETL_API``/``ETL_LAYER`` env (README.md:14-22).
    This is that contract: resolve the endpoint from env, run the ingest,
    POST features from the driver, return a run summary: ``features``
    posted and ``batches``, the number of bodies they went out in.
    ``transport`` replaces the network for offline runs; ``payload``
    injects pre-fetched records (tests / replays).
    """
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession; pass spark=")
    endpoint = EtlEndpoint.from_env()
    env = Environment.from_env()
    records = fetch_drone_records(spark, api_key=env.DroneSenseToken, _payload=payload)
    feats = drone_features(records)
    n = rest_post_batches(
        feats, RestPoster(endpoint.url, transport=transport), batch_size=batch_size
    )
    batches = -(-n // batch_size)
    return {"event": event or {}, "layer": endpoint.layer, "features": n, "batches": batches}
