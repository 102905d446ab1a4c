"""End-to-end pipeline + capability API (reference task.ts parity)."""

from __future__ import annotations

import json

import pytest

from etl_drone_sense_spark import pipeline as P
from etl_drone_sense_spark.config import Environment
from etl_drone_sense_spark.schemas import DRONE_LOCATION_SCHEMA

PAYLOAD = [
    {
        "id": "d1",
        "callSign": "CS1",
        "missionName": "m",
        "model": "M1",
        "latitude": 10.0,
        "longitude": 20.0,
        "lastUpdate": 1.7e9,
        "altitudeAgl": 100.0,
        "altitudeMsl": 200.0,
        "speed": 5.0,
        "heading": 90.0,
        "spoiLat": 11.0,
        "spoiLng": 21.0,
        "sensors": [
            {"id": "s1", "name": "cam", "video_url": "http://v", "rtsp_url": "rtsp://r"}
        ],
    },
    {
        "id": "d2",
        "callSign": "CS2",
        "missionName": "m",
        "model": "M1",
        "latitude": -5.0,
        "longitude": 3.0,
        "lastUpdate": 1.7e9,
        "altitudeAgl": 50.0,
        "altitudeMsl": 70.0,
        "speed": 2.0,
        "heading": 10.0,
        "spoiLat": 0.0,
        "spoiLng": 0.0,
        "sensors": [],
    },
]


def test_run_ingest_end_to_end(spark):
    bodies: list[str] = []
    feats = P.run_ingest(
        spark,
        env=Environment(DroneSenseToken="t", DEBUG=False),
        payload=PAYLOAD,
        post=bodies.append,
        batch_size=10,
    )
    rows = {r["id"]: r.asDict(recursive=True) for r in feats.collect()}
    assert rows["d1"]["properties"]["video"]["url"] == "rtsp://r"
    assert rows["d2"]["properties"]["video"] is None

    docs = [json.loads(b) for b in bodies]
    assert sum(len(d["features"]) for d in docs) == 2
    assert all(d["type"] == "FeatureCollection" for d in docs)


def test_handler_env_configured_submit(spark, monkeypatch):
    """The scheduled entry point resolves ETL_API/ETL_LAYER from env
    (reference task.ts:221-223, README.md:14-22) and submits through
    RestPoster."""
    posts: list[tuple[str, str]] = []
    monkeypatch.setenv("ETL_API", "http://etl.local")
    monkeypatch.setenv("ETL_LAYER", "19")
    out = P.handler(
        spark=spark,
        payload=PAYLOAD,
        transport=lambda url, body: posts.append((url, body)),
        batch_size=1,
    )
    assert (out["layer"], out["features"], out["batches"]) == ("19", 2, 2)
    assert len(posts) == 2
    assert all(url == "http://etl.local/api/layer/19/cot" for url, _ in posts)
    assert sum(len(json.loads(body)["features"]) for _, body in posts) == 2


def test_handler_requires_endpoint_env(spark, monkeypatch):
    from etl_drone_sense_spark.config import ConfigError

    monkeypatch.delenv("ETL_API", raising=False)
    monkeypatch.delenv("ETL_LAYER", raising=False)
    with pytest.raises(ConfigError):
        P.handler(spark=spark, payload=PAYLOAD)


def test_capability_schema_api():
    assert P.schema("input", "incoming") == P.ENVIRONMENT_SCHEMA
    assert P.schema("output", "incoming") == DRONE_LOCATION_SCHEMA
    assert P.schema("input", "outgoing").fields == []  # task.ts:99-101
    with pytest.raises(ValueError):
        P.schema("bogus", "incoming")
