"""The ``etl_ingest`` workload's inputs and its offline POST receiver.

A tick hands ``pipeline.handler`` one fleet of drone records, the payload
the DroneSense API would return, and a transport that stands in for the
network. The fleet covers every branch of the reference transform
(``FIXTURES.md`` section 1): no sensors, a first sensor lacking
``rtsp_url``, several sensors carrying it, ``rtsp_url`` without
``video_url``, SPOI zero sentinels, antimeridian and due-south SPOIs and a
SPOI on the drone itself. Positions move from tick to tick.
"""

from __future__ import annotations

import hashlib
import json
import random

from pyspark.accumulators import AccumulatorParam

MASK64 = (1 << 64) - 1


def id_digest(ids) -> int:
    """Order-free digest of a multiset of ids: the sum of their 64-bit
    hashes mod 2^64. A lost, extra or repeated id changes it."""
    total = 0
    for i in ids:
        total += int.from_bytes(hashlib.blake2b(i.encode(), digest_size=8).digest(), "little")
    return total & MASK64


def tally(body: str) -> tuple:
    """(features, batches, largest batch, body bytes, id digest) of one POST."""
    ids = [f["id"] for f in json.loads(body)["features"]]
    return (len(ids), 1, len(ids), len(body), id_digest(ids))


class TallyParam(AccumulatorParam):
    """Merges ``tally`` tuples across tasks."""

    def zero(self, value):
        return (0, 0, 0, 0, 0)

    def addInPlace(self, a, b):
        return (a[0] + b[0], a[1] + b[1], max(a[2], b[2]), a[3] + b[3], (a[4] + b[4]) & MASK64)


class CountingTransport:
    """Picklable ``RestPoster`` transport: tallies every body into a Spark
    accumulator on the executor and sends nothing."""

    def __init__(self, acc):
        self.acc = acc

    def __call__(self, url: str, body: str) -> None:
        self.acc.add(tally(body))


class Fleet:
    """``n`` drones whose records are drawn from ``seed``; ``tick(k)``
    gives the payload of tick ``k`` (same seed and k, same payload)."""

    def __init__(self, seed: int, n: int):
        rng = random.Random(seed)
        self.seed = seed
        self.base = []
        for i in range(n):
            lat, lon = rng.uniform(-80, 80), rng.uniform(-179.9, 179.9)
            self.base.append(
                {
                    "id": f"d{seed}-{i:06d}",
                    "callSign": f"CS-{i % 977}",
                    "missionName": rng.choice(["survey", "sar", "patrol", "fire"]),
                    "model": rng.choice(["M300", "M30T", "Skydio X10", "Astro"]),
                    "latitude": lat,
                    "longitude": lon,
                    "altitudeAgl": round(rng.uniform(0, 400), 3),
                    "altitudeMsl": round(rng.uniform(0, 3000), 3),
                    "speed": round(rng.uniform(0, 30), 3),
                    "heading": round(rng.uniform(0, 360), 3),
                    "case": i % 8,
                }
            )

    def tick(self, k: int) -> list[dict]:
        rng = random.Random(self.seed * 1_000_003 + k)
        out = []
        for d in self.base:
            lat = max(-89.0, min(89.0, d["latitude"] + rng.uniform(-0.01, 0.01) * k))
            lon = (d["longitude"] + 180 + rng.uniform(-0.01, 0.01) * k) % 360 - 180
            spoi_lat, spoi_lng = lat + rng.uniform(-0.05, 0.05), lon + rng.uniform(-0.05, 0.05)
            sensors = []
            case = d["case"]
            sid = d["id"]
            if case == 1:  # one sensor with rtsp_url
                sensors = [_sensor(sid, 0, True, True)]
            elif case == 2:  # only the second sensor has rtsp_url
                sensors = [_sensor(sid, 0, True, False), _sensor(sid, 1, True, True)]
            elif case == 3:  # several carry it: the first one wins
                sensors = [_sensor(sid, j, True, True) for j in range(3)]
            elif case == 4:  # rtsp_url without video_url
                sensors = [_sensor(sid, 0, False, True)]
            elif case == 5:  # zero sentinels: no sensor FOV struct
                spoi_lat, spoi_lng = (0.0, spoi_lng) if k % 2 else (spoi_lat, 0.0)
            elif case == 6:  # across the antimeridian (odd ticks) or due south
                if k % 2:
                    lon, spoi_lat, spoi_lng = 179.95, lat, -179.95
                else:
                    spoi_lat, spoi_lng = lat - 0.5, lon
                sensors = [_sensor(sid, 0, True, True)]
            elif case == 7:  # SPOI on the drone: range 0
                spoi_lat, spoi_lng = lat, lon
            rec = {key: v for key, v in d.items() if key != "case"}
            rec.update(
                latitude=lat,
                longitude=lon,
                lastUpdate=1.7e9 + 5.0 * k,
                spoiLat=spoi_lat,
                spoiLng=spoi_lng,
                sensors=sensors,
            )
            out.append(rec)
        return out


def _sensor(drone_id: str, j: int, video: bool, rtsp: bool) -> dict:
    return {
        "id": f"{drone_id}-s{j}",
        "name": f"cam{j}",
        "video_url": f"https://video.invalid/{drone_id}/{j}" if video else None,
        "rtsp_url": f"rtsp://video.invalid/{drone_id}/{j}" if rtsp else None,
    }
