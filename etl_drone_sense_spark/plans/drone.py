"""Reference-parity queries (SURVEY §2 Part A) over synthesized telemetry.

The fixture dirs carry no drone table, so telemetry is derived
deterministically from ``customer`` keys (FIXTURES.md §4 'usage mapping') —
integer arithmetic both engines compute identically. The oracle replays the
*semantics* of the reference transform (first-match video sensor, SPOI
zero-sentinel, bearing/haversine — reference task.ts:123-214) as direct
CASE logic, which cross-checks the Spark implementation's array/struct
mechanics against independently-computed expected values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geodesy import bearing_deg, bearing_sql, haversine_m, haversine_sql
from ..operators.feature_transform import drone_features
from ..schemas import SENSOR_SCHEMA
from ..sources.readers import built_once
from .registry import register, t

# Deterministic telemetry derivation (SQL and Column forms kept in sync).
_LAT = "((c_custkey % 120) - 60 + 0.5)"
_LON = "((c_custkey % 340) - 170 + 0.5)"
_SPOI_LAT = "(CASE WHEN c_custkey % 4 = 0 THEN 0.0 ELSE ((c_custkey * 7) % 120) - 60 + 0.25 END)"
_SPOI_LNG = "(CASE WHEN c_custkey % 5 = 0 THEN 0.0 ELSE ((c_custkey * 13) % 340) - 170 + 0.25 END)"


def _lat() -> F.Column:
    return (F.col("c_custkey") % 120 - 60 + 0.5).cast("double")


def _lon() -> F.Column:
    return (F.col("c_custkey") % 340 - 170 + 0.5).cast("double")


def _spoi_lat() -> F.Column:
    return (
        F.when(F.col("c_custkey") % 4 == 0, F.lit(0.0))
        .otherwise(((F.col("c_custkey") * 7) % 120 - 60 + 0.25))
        .cast("double")
    )


def _spoi_lng() -> F.Column:
    return (
        F.when(F.col("c_custkey") % 5 == 0, F.lit(0.0))
        .otherwise(((F.col("c_custkey") * 13) % 340 - 170 + 0.25))
        .cast("double")
    )


@register(
    "geo_bearing_distance",
    oracle=f"""
    SELECT c_custkey,
           round({bearing_sql(_LAT, _LON, "((c_custkey * 7) % 120) - 60 + 0.25", "((c_custkey * 13) % 340) - 170 + 0.25")}, 6) AS azimuth,
           round({haversine_sql(_LAT, _LON, "((c_custkey * 7) % 120) - 60 + 0.25", "((c_custkey * 13) % 340) - 170 + 0.25")}, 4) AS range_m
    FROM customer
    """,
    tags=("geo", "scalar"),
)
def geo_bearing_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15/A16 geodesics as pure Column trees (no UDF → codegen'd; rounded
    to absorb cross-engine trig ULPs, SURVEY §7.4)."""
    lat2 = ((F.col("c_custkey") * 7) % 120 - 60 + 0.25).cast("double")
    lng2 = ((F.col("c_custkey") * 13) % 340 - 170 + 0.25).cast("double")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(bearing_deg(_lat(), _lon(), lat2, lng2), 6).alias("azimuth"),
        F.round(haversine_m(_lat(), _lon(), lat2, lng2), 4).alias("range_m"),
    )


def synth_drones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic drone telemetry derived from customer keys.

    Sensor-branch coverage by ``c_custkey % 3`` (FIXTURES.md §1 cases):
      0 → no sensors;
      1 → first sensor lacks rtsp_url, second has it (first-match skips);
      2 → both sensors have rtsp_url (break after the first).
    SPOI zero-sentinels by ``% 4`` / ``% 5`` (task.ts:183 semantics).
    """
    c = t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    ks = key.cast("string")

    def sensor(sid: str, name: str, video_url: F.Column, rtsp_url: F.Column) -> F.Column:
        return F.struct(
            F.lit(sid).alias("id"),
            F.lit(name).alias("name"),
            video_url.alias("video_url"),
            rtsp_url.alias("rtsp_url"),
        )

    null_s = F.lit(None).cast("string")
    sensors = (
        F.when(key % 3 == 0, F.array().cast(T.ArrayType(SENSOR_SCHEMA)))
        .when(
            key % 3 == 1,
            F.array(
                sensor("s1", "cam1", null_s, null_s),
                sensor("s2", "cam2", F.concat(F.lit("http://v/"), ks), F.concat(F.lit("rtsp://r/"), ks)),
            ),
        )
        .otherwise(
            F.array(
                sensor("s1", "cam1", null_s, F.concat(F.lit("rtsp://r1/"), ks)),
                sensor("s2", "cam2", F.concat(F.lit("http://v2/"), ks), F.concat(F.lit("rtsp://r2/"), ks)),
            )
        )
    )
    return c.select(
        F.concat(F.lit("drone-"), ks).alias("id"),
        F.concat(F.lit("CS"), ks).alias("callSign"),
        F.col("c_mktsegment").alias("missionName"),
        F.lit("M1").alias("model"),
        _lat().alias("latitude"),
        _lon().alias("longitude"),
        (F.lit(1700000000) + key).cast("double").alias("lastUpdate"),
        ((key % 400) + 0.5).cast("double").alias("altitudeAgl"),
        ((key % 400) + 100.5).cast("double").alias("altitudeMsl"),
        ((key % 30) + 0.5).cast("double").alias("speed"),
        (key % 360).cast("double").alias("heading"),
        _spoi_lat().alias("spoiLat"),
        _spoi_lng().alias("spoiLng"),
        sensors.alias("sensors"),
    )


# Shared by drone_features_flat and its streaming twin: the oracle computes
# expected values by direct CASE logic (reference task.ts:123-214 semantics).
_FLAT_ORACLE = f"""
    SELECT 'drone-' || CAST(c_custkey AS VARCHAR) AS id,
           'Feature' AS type,
           'a-f-A-M-H-Q' AS cot_type,
           'CS' || CAST(c_custkey AS VARCHAR) AS callsign,
           ((c_custkey % 30) + 0.5) AS speed,
           CAST(c_custkey % 360 AS DOUBLE) AS course,
           {_LON} AS lon, {_LAT} AS lat,
           ((c_custkey % 400) + 0.5) AS alt,
           c_mktsegment AS mission,
           CAST(CASE WHEN c_custkey % 3 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_links,
           CASE WHEN c_custkey % 3 = 1 THEN 'http://v/' || CAST(c_custkey AS VARCHAR)
                END AS link_url,
           CASE WHEN c_custkey % 3 = 1 THEN 'rtsp://r/' || CAST(c_custkey AS VARCHAR)
                WHEN c_custkey % 3 = 2 THEN 'rtsp://r1/' || CAST(c_custkey AS VARCHAR)
                END AS video_url,
           CASE WHEN c_custkey % 3 <> 0
                THEN 'CS' || CAST(c_custkey AS VARCHAR) || '-camera' END AS video_sensor,
           CASE WHEN c_custkey % 3 <> 0 THEN 12000 END AS network_timeout,
           CASE WHEN c_custkey % 4 <> 0 AND c_custkey % 5 <> 0
                THEN round({bearing_sql(_LAT, _LON, _SPOI_LAT, _SPOI_LNG)}, 6)
                END AS azimuth,
           CASE WHEN c_custkey % 4 <> 0 AND c_custkey % 5 <> 0
                THEN round({haversine_sql(_LAT, _LON, _SPOI_LAT, _SPOI_LNG)}, 4)
                END AS range_m,
           CASE WHEN c_custkey % 4 <> 0 AND c_custkey % 5 <> 0 THEN 45 END AS fov
    FROM customer
    """


def flatten_features(feats: DataFrame) -> DataFrame:
    """Flatten the nested Feature rows for oracle comparison."""
    return feats.select(
        "id",
        "type",
        F.col("properties.type").alias("cot_type"),
        F.col("properties.callsign").alias("callsign"),
        F.col("properties.speed").alias("speed"),
        F.col("properties.course").alias("course"),
        F.get(F.col("geometry.coordinates"), 0).alias("lon"),
        F.get(F.col("geometry.coordinates"), 1).alias("lat"),
        F.get(F.col("geometry.coordinates"), 2).alias("alt"),
        F.col("properties.metadata.missionName").alias("mission"),
        F.size("properties.links").cast("long").alias("n_links"),
        F.get(F.col("properties.links"), 0)["url"].alias("link_url"),
        F.col("properties.video.url").alias("video_url"),
        F.col("properties.video.sensor").alias("video_sensor"),
        F.col("properties.video.connection.networkTimeout").alias("network_timeout"),
        F.round(F.col("properties.sensor.azimuth"), 6).alias("azimuth"),
        F.round(F.col("properties.sensor.range"), 4).alias("range_m"),
        F.col("properties.sensor.fov").alias("fov"),
    )


@register(
    "drone_features_flat",
    oracle=_FLAT_ORACLE,
    tags=("drone", "reference-parity"),
    bench=True,
)
def drone_features_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference transform (A3-A17), flattened for comparison.

    The Spark side runs the real operator (array filter + first-match +
    conditional structs); the oracle computes expected values by direct CASE
    logic — a true differential test of the transform's semantics."""
    return flatten_features(drone_features(synth_drones(spark, sf_dir)))


def _drone_landing(spark: SparkSession, sf_dir: str) -> str:
    """JSON landing dir for the streaming twin, built once per generation
    of the customer fixture that synth_drones reads."""

    def build(path):
        synth_drones(spark, sf_dir).write.mode("overwrite").json(path)
        return path

    return built_once(sf_dir, "customer", "sg_drone_landing_", build)


@register(
    "stream_drone_features_flat",
    oracle=_FLAT_ORACLE,
    tags=("drone", "streaming", "reference-parity"),
)
def stream_drone_features_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A-surface ingest as a REAL streaming job: JSON landings →
    ``readStream`` typed decode → the same narrow Feature transform →
    AvailableNow drain to a memory sink (micro-batch parity with the
    reference's scheduled re-invocation, task.ts:87,220-223). The transform
    is invocation-agnostic, so the BATCH oracle is the streaming oracle —
    the driver hash-checks the drained table against the same SQL as
    ``drone_features_flat``."""
    from ..streaming.pipeline import run_to_memory, stream_drone_features

    landing = _drone_landing(spark, sf_dir)
    flat = flatten_features(stream_drone_features(spark, landing))
    return run_to_memory(flat, "drone_stream", output_mode="append")


@register(
    "drone_features_multivideo",
    oracle=f"""
    SELECT 'drone-' || CAST(c_custkey AS VARCHAR) AS id,
           CAST(CASE WHEN c_custkey % 3 = 0 THEN 0
                     WHEN c_custkey % 3 = 1 THEN 1
                     ELSE 2 END AS INT) AS n_video_sensors,
           CASE WHEN c_custkey % 3 = 1 THEN 'rtsp://r/' || CAST(c_custkey AS VARCHAR)
                WHEN c_custkey % 3 = 2 THEN 'rtsp://r1/' || CAST(c_custkey AS VARCHAR)
                     || ',' || 'rtsp://r2/' || CAST(c_custkey AS VARCHAR)
                ELSE '' END AS video_urls
    FROM customer
    """,
    tags=("drone", "extension"),
)
def drone_features_multivideo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own deferred feature (task.ts:144 'TODO: Handle
    multiple videos') as an engine extension: ALL rtsp-capable sensors per
    drone instead of first-match-only. Same narrow array-expression shape —
    filter preserves order, transform projects urls."""
    drones = synth_drones(spark, sf_dir)
    vids = F.filter(F.col("sensors"), lambda s: s["rtsp_url"].isNotNull())
    return drones.select(
        F.col("id"),
        F.size(vids).alias("n_video_sensors"),
        F.array_join(
            F.transform(vids, lambda s: s["rtsp_url"]), ","
        ).alias("video_urls"),
    )


# ---------------------------------------------------------------------------
# Spatial radius join (latitude-band blocking)
# ---------------------------------------------------------------------------

_RADIUS_M = 100_000.0
# POI coordinates derived from supplier keys (same style as the drone
# positions above): deterministic, non-degenerate spread.
_POI_LAT = "(((s_suppkey * 31) % 120) - 60 + 0.5)"
_POI_LON = "(((s_suppkey * 17) % 340) - 170 + 0.5)"
_DR_LAT = "(((c_custkey * 7) % 120) - 60 + 0.25)"
_DR_LON = "(((c_custkey * 13) % 340) - 170 + 0.25)"


@register(
    "geo_radius_join",
    oracle=f"""
    SELECT c.c_custkey, s.s_suppkey,
           round({haversine_sql(_DR_LAT, _DR_LON, _POI_LAT, _POI_LON)}, 4)
               AS dist_m
    FROM customer c CROSS JOIN supplier s
    WHERE round({haversine_sql(_DR_LAT, _DR_LON, _POI_LAT, _POI_LON)}, 4)
          <= {_RADIUS_M}
    """,
    tags=("geo", "join", "spatial"),
)
def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join — every (drone, point-of-interest) pair within
    100 km — as a LATITUDE-BAND BLOCKED equi-join, never a cross join:
    one degree of latitude is a uniform ~111 km everywhere on the globe
    (unlike longitude), so bucketing both sides by floor(lat) and
    replicating the small POI side into its ±1 neighbor bands guarantees
    every ≤100 km pair shares a band key. The exact haversine then
    verifies candidates. Pair space is Σ|band-bucket|² over ~120 bands —
    at 100 TB the blocking carries the join; the DuckDB oracle does the
    honest quadratic join, which is exactly what this plan must agree
    with. The POI side's 3× band replication is dimension-sized and
    broadcasts (plan-asserted, tests/test_plans.py)."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7) % 120 - 60 + 0.25).cast("double").alias("dlat"),
        ((F.col("c_custkey") * 13) % 340 - 170 + 0.25).cast("double").alias("dlon"),
    )
    poi = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 31) % 120 - 60 + 0.5).cast("double").alias("plat"),
        ((F.col("s_suppkey") * 17) % 340 - 170 + 0.5).cast("double").alias("plon"),
    )
    shifts = F.array(F.lit(-1), F.lit(0), F.lit(1))
    poi_banded = poi.select(
        "*",
        F.explode(
            F.transform(shifts, lambda d: F.floor(F.col("plat")) + d)
        ).alias("band"),
    )
    cand = cust.withColumn("band", F.floor(F.col("dlat"))).join(
        F.broadcast(poi_banded), "band"
    )
    dist = F.round(
        haversine_m(F.col("dlat"), F.col("dlon"), F.col("plat"), F.col("plon")), 4
    )
    return cand.select(
        "c_custkey", "s_suppkey", dist.alias("dist_m")
    ).filter(F.col("dist_m") <= F.lit(_RADIUS_M))
