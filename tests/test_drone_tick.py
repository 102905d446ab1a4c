"""The reference tick's Arrow path: fetch → typed decode → Feature → POST.

``fetch_drone_records`` decodes the payload with one Arrow conversion and
hands the JVM record batches; ``rest_post_batches`` collects Spark's own
JSON lines over Arrow and joins them into each body on the driver.
Pinned here: the decode's verdicts (whole numbers in, booleans and nulls
out, each fault named by its field path), parity with the row-by-row
``createDataFrame`` path on every transform branch, the RDD-backed plan,
Arrow lines equal to the ``toJSON`` lines, and bodies that differ from
them only in whitespace.
"""

from __future__ import annotations

import json
import re

import pytest

from etl_drone_sense_spark import pipeline as P
from etl_drone_sense_spark.config import Environment
from etl_drone_sense_spark.operators.feature_transform import drone_features
from etl_drone_sense_spark.schemas import DRONE_LOCATION_SCHEMA
from etl_drone_sense_spark.sources import readers, sinks
from perfbench.etl import Fleet
from tests.test_drone_golden import _rec, _sensor


def _golden_records() -> list[dict]:
    """The branches of ``test_drone_golden``, one record each."""
    return [
        _rec(id="g-none", sensors=[]),
        _rec(id="g-no-rtsp", sensors=[_sensor("s1", video_url="http://v1")]),
        _rec(
            id="g-first",
            sensors=[
                _sensor("s1"),
                _sensor("s2", video_url="http://v2", rtsp_url="rtsp://r2"),
                _sensor("s3", video_url="http://v3", rtsp_url="rtsp://r3"),
            ],
        ),
        _rec(id="g-lat0", spoiLat=0.0, spoiLng=30.0),
        _rec(id="g-lng0", spoiLat=30.0, spoiLng=0.0),
        _rec(id="g-fov", lat=10.0, lon=20.0, spoiLat=11.0, spoiLng=21.0),
        _rec(id="g-wrap", lat=0.0, lon=20.0, spoiLat=0.0001, spoiLng=19.0),
        _rec(id="g-geom", lat=1.5, lon=2.5),
    ]


def _tick_records() -> list[dict]:
    fleet = Fleet(seed=7, n=24)
    # Odd and even ticks take both arms of the antimeridian/due-south and
    # the zero-sentinel cases.
    return _golden_records() + fleet.tick(1) + [
        dict(r, id=r["id"] + "-t2") for r in fleet.tick(2)
    ]


def _by_id(df) -> list:
    return sorted(df.collect(), key=lambda r: r["id"])


def test_tick_features_match_list_path(spark):
    records = _tick_records()
    tick = drone_features(readers.fetch_drone_records(spark, _payload=records))
    listed = drone_features(spark.createDataFrame(records, schema=DRONE_LOCATION_SCHEMA))
    got, want = _by_id(tick), _by_id(listed)
    assert len(got) == len(records)
    assert got == want


def test_tick_frame_is_rdd_backed_and_spread(spark):
    """Below ``localRelationThreshold`` Spark would build a LocalRelation,
    and ConvertToLocalRelation would evaluate the feature projection on the
    driver; the tick keeps the frame RDD-backed, one partition per core."""
    records = _tick_records()
    frame = readers.fetch_drone_records(spark, _payload=records)
    plan = drone_features(frame)._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan
    assert frame.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert frame.schema == DRONE_LOCATION_SCHEMA


def test_whole_numbers_decode_as_doubles(spark):
    """The reference's ``Type.Number()`` takes ``"speed": 0``; the row
    verifier used to fail the whole tick on it."""
    rec = _rec(id="d-int")
    rec.update(speed=0, heading=90, lastUpdate=1_700_000_000, spoiLat=11, spoiLng=21)
    frame = readers.fetch_drone_records(spark, _payload=[rec])
    row = frame.first()
    assert (row["speed"], row["heading"], row["lastUpdate"]) == (0.0, 90.0, 1.7e9)
    assert isinstance(row["speed"], float)
    assert drone_features(frame).first()["properties"]["sensor"] is not None


def _without(key: str) -> dict:
    rec = _rec()
    del rec[key]
    return rec


@pytest.mark.parametrize(
    "record, path",
    [
        (_without("speed"), "speed"),
        (dict(_rec(), callSign=None), "callSign"),
        (dict(_rec(), sensors=None), "sensors"),
        (_rec(sensors=[_sensor(), None]), "sensors[]"),
        (_rec(sensors=[_sensor(sid=None)]), "sensors[].id"),
        (_rec(sensors=[_sensor(name=None)]), "sensors[].name"),
        (dict(_rec(), latitude="10.0"), "latitude"),
        (dict(_rec(), model=3), "model"),
        (_rec(sensors=[_sensor(video_url=5)]), "sensors[].video_url"),
        (dict(_rec(), sensors={"id": "s1", "name": "cam"}), "sensors"),
        (dict(_rec(), speed=True), "speed"),
    ],
    ids=[
        "missing-key",
        "null-top-level",
        "null-sensors",
        "null-sensor",
        "null-sensor-id",
        "null-sensor-name",
        "string-for-number",
        "number-for-string",
        "number-for-nested-string",
        "dict-for-sensors",
        "boolean-for-number",
    ],
)
def test_decode_or_throw_names_the_field(record, path):
    payload = [_rec(id="ok"), record]
    with pytest.raises(ValueError, match=re.escape(f"field '{path}'")):
        readers.decode_drone_payload(payload)


def test_decode_rejects_non_records():
    with pytest.raises(ValueError, match="JSON objects"):
        readers.decode_drone_payload([_rec(), "d2"])


def test_empty_payload_posts_nothing(spark, monkeypatch):
    posts: list[tuple[str, str]] = []
    monkeypatch.setenv("ETL_API", "http://etl.local")
    monkeypatch.setenv("ETL_LAYER", "19")
    out = P.handler(
        spark=spark, payload=[], transport=lambda url, body: posts.append((url, body))
    )
    assert (out["features"], out["batches"]) == (0, 0)
    assert posts == []


def test_arrow_lines_are_the_tojson_lines(spark):
    """``feature_json_lines`` (``to_json`` of the whole row, collected
    over Arrow) equals ``toJSON`` row for row and in order, on every golden
    branch and on two fleet ticks."""
    feats = drone_features(readers.fetch_drone_records(spark, _payload=_tick_records()))
    assert sinks.feature_json_lines(feats).to_pylist() == feats.toJSON().collect()


def test_bodies_are_the_tojson_lines(spark, capsys):
    """Every posted body, the driver-side document and the DEBUG dump carry
    exactly the features ``toJSON`` writes: only whitespace may differ."""
    bodies: list[str] = []
    records = _tick_records()
    feats = P.run_ingest(
        spark,
        env=Environment(DroneSenseToken="t", DEBUG=True),
        payload=records,
        post=bodies.append,
        batch_size=7,
    )
    lines = feats.toJSON().collect()
    want = sorted((json.loads(line) for line in lines), key=lambda f: f["id"])

    docs = [json.loads(b) for b in bodies]
    assert all(b.startswith('{"type":"FeatureCollection","features":[') for b in bodies)
    assert all(len(d["features"]) <= 7 and d["type"] == "FeatureCollection" for d in docs)
    posted = [f for d in docs for f in d["features"]]
    assert sorted(posted, key=lambda f: f["id"]) == want

    doc = json.loads(sinks.feature_collection_json(feats))
    assert sorted(doc["features"], key=lambda f: f["id"]) == want

    printed = capsys.readouterr().out.splitlines()
    assert sorted(map(json.loads, printed), key=lambda f: f["id"]) == want
