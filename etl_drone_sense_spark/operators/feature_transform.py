"""Drone telemetry → CoT GeoJSON Feature transform.

Reference-parity operator covering SURVEY §2 Part A items A3-A17
(reference task.ts:123-214). The reference builds one Feature object per
record inside an interpreted loop; here the whole transform is a single
declarative ``select`` over nested ``struct``/``array``/``when`` expressions,
so Catalyst sees every field: column pruning, constant folding and
whole-stage codegen all apply, and the operator is narrow (zero shuffles)
at any scale.

Semantics pinned from the reference:
* first-match-only video sensor — ``filter`` preserves array order and
  ``element_at(.., 1)`` reproduces the loop's ``break`` (task.ts:146,177);
* SPOI zero-sentinel — exact ``!= 0`` double comparison (task.ts:183);
* ``links`` is empty (not null) when no video sensor matched (task.ts:132);
* ``metadata`` embeds the full input record (task.ts:133-135) with a pinned
  field list (schema drift fails at analysis, not silently downstream).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geodesy import bearing_deg, haversine_m

COT_TYPE = "a-f-A-M-H-Q"  # task.ts:128

_METADATA_FIELDS = (
    "id",
    "callSign",
    "missionName",
    "model",
    "latitude",
    "longitude",
    "lastUpdate",
    "altitudeAgl",
    "altitudeMsl",
    "speed",
    "heading",
    "spoiLat",
    "spoiLng",
    "sensors",
)


def _video_sensor() -> Column:
    """First sensor carrying an rtsp_url, else null (task.ts:145-178).

    ``F.get`` (0-based) is null-safe on the empty array, unlike
    ``element_at`` under ANSI mode."""
    return F.get(F.filter(F.col("sensors"), lambda s: s["rtsp_url"].isNotNull()), 0)


def _video_struct(sensor: Column) -> Column:
    """properties.video — 12-field connection struct (task.ts:148-165)."""
    return F.struct(
        F.col("id").alias("uid"),
        F.concat(F.col("callSign"), F.lit("-camera")).alias("sensor"),
        sensor["rtsp_url"].alias("url"),
        F.struct(
            F.col("id").alias("uid"),
            F.lit(12000).alias("networkTimeout"),
            F.lit("").alias("path"),
            F.lit("raw").alias("protocol"),
            F.lit(-1).alias("bufferTime"),
            sensor["rtsp_url"].alias("address"),
            F.lit(-1).alias("port"),
            F.lit(-1).alias("roverPort"),
            F.lit(0).alias("rtspReliable"),
            F.lit(False).alias("ignoreEmbeddedKLV"),
            F.col("callSign").alias("alias"),
        ).alias("connection"),
    )


def _link_struct(sensor: Column) -> Column:
    """Viewer link appended alongside video (task.ts:169-175)."""
    return F.struct(
        F.col("id").alias("uid"),
        F.lit("r-u").alias("relation"),
        F.lit("text/html").alias("type"),
        sensor["video_url"].alias("url"),
        F.lit("DroneSense Viewer").alias("remarks"),
    )


def _sensor_fov() -> Column:
    """properties.sensor — azimuth/range + style constants (task.ts:184-211).

    Guarded by the SPOI zero-sentinel: exact != 0 on both coordinates
    (task.ts:183); bearing/haversine are pure Column trees (functions/geodesy).
    """
    lat, lon = F.col("latitude"), F.col("longitude")
    slat, slng = F.col("spoiLat"), F.col("spoiLng")
    return F.when(
        (slat != 0) & (slng != 0),
        F.struct(
            bearing_deg(lat, lon, slat, slng).alias("azimuth"),
            F.lit(45).alias("fov"),
            F.lit(45).alias("vfov"),
            haversine_m(lat, lon, slat, slng).alias("range"),
            F.lit(0).alias("elevation"),
            F.lit(0).alias("roll"),
            F.lit(0).alias("displayMagneticReference"),
            F.lit(-16777216).alias("strokeColor"),
            F.lit(0.5).alias("strokeWeight"),
            F.lit(1.0).alias("fovRed"),
            F.lit(0.5).alias("fovGreen"),
            F.lit(0.0).alias("fovBlue"),
            F.lit(0.3).alias("fovAlpha"),
            F.lit(100).alias("rangeLines"),
            F.lit(-16777216).alias("rangeLineStrokeColor"),
            F.lit(1.0).alias("rangeLineStrokeWeight"),
        ),
    )


@functools.lru_cache(maxsize=1)
def _feature_columns(jvm) -> tuple[Column, tuple[Column, ...]]:
    """The ``_video_sensor`` column and the Feature columns over it, built
    once per ``jvm``: they are unresolved expressions tied to no session or
    plan, so one build serves every call in the same JVM."""
    sensor = F.col("_video_sensor")
    has_video = sensor.isNotNull()
    return _video_sensor(), (
        F.col("id"),
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit(COT_TYPE).alias("type"),
            F.col("callSign").alias("callsign"),
            F.col("speed"),
            F.col("heading").alias("course"),
            # links starts [] (task.ts:132); one viewer link when video matched
            # (task.ts:167-175). coalesce mirrors the ?? [] guard.
            F.coalesce(
                F.when(has_video, F.array(_link_struct(sensor))), F.array().cast(
                    "array<struct<uid:string,relation:string,type:string,"
                    "url:string,remarks:string>>"
                )
            ).alias("links"),
            F.struct(*[F.col(c) for c in _METADATA_FIELDS]).alias("metadata"),
            F.when(has_video, _video_struct(sensor)).alias("video"),
            _sensor_fov().alias("sensor"),
        ).alias("properties"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(
                F.col("longitude"), F.col("latitude"), F.col("altitudeAgl")
            ).alias("coordinates"),
        ).alias("geometry"),
    )


def drone_features(drones: DataFrame) -> DataFrame:
    """One GeoJSON Feature row per drone record (task.ts:124-214).

    Narrow transform: select-only, no shuffle, arbitrarily partitionable.
    The first-match sensor is computed once in its own projection: it is a
    higher-order (non-cheap) expression referenced by ~8 output fields, and
    CollapseProject deliberately won't inline multi-referenced non-cheap
    exprs — measured ~18% on the flattened bench query vs inline re-eval.
    The Column trees, about a hundred py4j calls, are built once per JVM
    (``_feature_columns``); a call only analyzes its two projections.
    """
    video_sensor, columns = _feature_columns(drones.sparkSession.sparkContext._jvm)
    return drones.withColumn("_video_sensor", video_sensor).select(*columns)


def feature_collection(features: DataFrame) -> DataFrame:
    """Assemble a single FeatureCollection document (task.ts:107-110, 213).

    This is the only global/wide step of the reference pipeline. It exists
    for sink parity on small payloads; at scale prefer the row-per-feature
    sink (``sources.sinks``) — a 100 TB collect-to-one-row is a non-plan.
    """
    return features.agg(
        F.collect_list(F.struct("id", "type", "properties", "geometry")).alias(
            "features"
        )
    ).select(F.lit("FeatureCollection").alias("type"), F.col("features"))
