"""Source/sink adapters: decode modes, quarantine, file formats, REST sink.

Reference behaviors pinned: decode-or-throw (task.ts:119-121) via FAILFAST;
the single-FeatureCollection POST (task.ts:107-110, 216) via the driver-side
document sink and the batched REST sink.
"""

from __future__ import annotations

import inspect
import json
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from etl_drone_sense_spark.operators.feature_transform import drone_features
from etl_drone_sense_spark.plans.drone import synth_drones
from etl_drone_sense_spark.schemas import DRONE_LOCATION_SCHEMA
from etl_drone_sense_spark.sources import readers, sinks

GOOD = {
    "id": "d1",
    "callSign": "CS1",
    "missionName": "m",
    "model": "M1",
    "latitude": 1.0,
    "longitude": 2.0,
    "lastUpdate": 1.7e9,
    "altitudeAgl": 10.0,
    "altitudeMsl": 20.0,
    "speed": 1.0,
    "heading": 2.0,
    "spoiLat": 0.0,
    "spoiLng": 0.0,
    "sensors": [],
}


def _landing(tmp_path, lines):
    p = tmp_path / "landing.jsonl"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_failfast_decode_throws_on_corrupt(spark, tmp_path):
    path = _landing(tmp_path, [json.dumps(GOOD), '{"id": broken'])
    df = readers.read_json_records(spark, path, DRONE_LOCATION_SCHEMA, mode="FAILFAST")
    with pytest.raises(Exception) as exc:
        df.collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)


def test_permissive_decode_quarantines(spark, tmp_path):
    path = _landing(tmp_path, [json.dumps(GOOD), '{"id": broken'])
    df = readers.read_json_records(
        spark, path, DRONE_LOCATION_SCHEMA, mode="PERMISSIVE"
    )
    good, bad = readers.quarantine_split(df)
    assert good.count() == 1 and bad.count() == 1
    assert good.filter(F.col("id") == "d1").count() == 1


def test_fetch_drone_records_payload_injection(spark):
    df = readers.fetch_drone_records(spark, _payload=[GOOD])
    assert df.count() == 1
    assert df.schema == DRONE_LOCATION_SCHEMA
    with pytest.raises(ValueError):
        readers.fetch_drone_records(spark, _payload={"not": "a list"})


def test_decode_json_column(spark):
    raw = spark.createDataFrame(
        [(json.dumps(GOOD),)], schema="payload string"
    )
    out = readers.decode_json_column(raw, "payload", DRONE_LOCATION_SCHEMA)
    row = out.select("payload.id", "payload.callSign").first()
    assert tuple(row) == ("d1", "CS1")


def test_csv_roundtrip_with_schema(spark, sf_dir, tmp_path):
    nation = readers.read_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(out)
    back = readers.read_csv_records(
        spark, out, nation.schema, mode="FAILFAST"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_feature_sinks_roundtrip(spark, sf_dir, tmp_path):
    feats = drone_features(synth_drones(spark, sf_dir))
    n = feats.count()

    pq = str(tmp_path / "pq")
    sinks.features_parquet(feats, pq)
    assert spark.read.parquet(pq).count() == n

    jl = str(tmp_path / "jl")
    sinks.features_jsonl(feats, jl)
    assert spark.read.json(jl).count() == n


def test_partitioned_parquet_layout(spark, sf_dir, tmp_path):
    events = readers.read_table(spark, sf_dir, "events")
    out = str(tmp_path / "part")
    sinks.partitioned_parquet(events, out, ["event_type"])
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # partition pruning: a filtered read scans one partition directory
    one_type = events.select("event_type").first()[0]
    pruned = back.filter(F.col("event_type") == one_type)
    assert pruned.count() == events.filter(F.col("event_type") == one_type).count()


def test_feature_collection_json_document(spark, sf_dir):
    feats = drone_features(synth_drones(spark, sf_dir)).limit(5)
    doc = json.loads(sinks.feature_collection_json(feats))
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) == 5
    assert all(f["type"] == "Feature" for f in doc["features"])


def test_rest_post_batches(spark, sf_dir):
    bodies: list[str] = []
    feats = drone_features(synth_drones(spark, sf_dir)).repartition(4)
    n = feats.count()
    posted = sinks.rest_post_batches(feats, bodies.append, batch_size=40)
    assert posted == n
    docs = [json.loads(b) for b in bodies]
    assert sum(len(d["features"]) for d in docs) == n
    assert all(len(d["features"]) <= 40 for d in docs)
    assert all(d["type"] == "FeatureCollection" for d in docs)


def test_rest_post_batches_partition_local(spark, sf_dir):
    """Batching is global, not per partition: over 4 partitions,
    ``batch_size`` above the row count posts exactly one body and
    ``batch_size=40`` posts ``ceil(n / 40)`` bodies, every one 40 features
    but the last, in row order. ``post`` runs on the driver, so a plain
    ``list.append`` sees every body."""
    feats = drone_features(synth_drones(spark, sf_dir)).repartition(4).cache()
    lines = [json.loads(line) for line in feats.toJSON().collect()]
    n = len(lines)
    assert n > 80 and feats.rdd.getNumPartitions() == 4

    whole: list[str] = []
    assert sinks.rest_post_batches(feats, whole.append, batch_size=1_000_000) == n
    assert len(whole) == 1
    assert json.loads(whole[0])["features"] == lines

    bodies: list[str] = []
    assert sinks.rest_post_batches(feats, bodies.append, batch_size=40) == n
    sizes = [len(json.loads(b)["features"]) for b in bodies]
    assert len(bodies) == math.ceil(n / 40)
    assert sizes[:-1] == [40] * (len(bodies) - 1) and 0 < sizes[-1] <= 40
    assert [f for b in bodies for f in json.loads(b)["features"]] == lines
    feats.unpersist()


def test_rest_post_batches_accepts_local_closure(spark, sf_dir):
    """Any callable works as ``post``, a local closure included: nothing
    is shipped to executors."""
    bodies: list[str] = []

    def post(body):
        bodies.append(body)

    feats = drone_features(synth_drones(spark, sf_dir)).limit(10)
    posted = sinks.rest_post_batches(feats, post, batch_size=5)
    assert posted == 10
    docs = [json.loads(b) for b in bodies]
    assert [len(d["features"]) for d in docs] == [5, 5]


def test_rest_post_batches_stops_at_a_failed_post(spark, sf_dir):
    """A raising ``post`` ends the call: the bodies already sent stay
    sent, the rest are not sent, and none is sent twice. A ``batch_size``
    below 1 is refused."""
    bodies: list[str] = []

    def post(body):
        if len(bodies) == 2:
            raise OSError("endpoint down")
        bodies.append(body)

    feats = drone_features(synth_drones(spark, sf_dir)).limit(10)
    with pytest.raises(OSError, match="endpoint down"):
        sinks.rest_post_batches(feats, post, batch_size=3)
    assert [len(json.loads(b)["features"]) for b in bodies] == [3, 3]
    with pytest.raises(ValueError, match="batch_size"):
        sinks.rest_post_batches(feats, bodies.append, batch_size=0)


def test_sinks_post_from_the_driver_only():
    """The REST sink has one path, on the driver: no executor-side
    ``mapPartitions`` body and no closure-pickling probe can come back."""
    source = inspect.getsource(sinks)
    assert "mapPartitions(" not in source
    assert "cloudpickle" not in source


def test_etl_endpoint_from_env():
    from etl_drone_sense_spark.config import ConfigError

    ep = sinks.EtlEndpoint.from_env(
        {"ETL_API": "http://localhost:5001/", "ETL_LAYER": "19"}
    )
    assert ep.url == "http://localhost:5001/api/layer/19/cot"
    with pytest.raises(ConfigError):
        sinks.EtlEndpoint.from_env({"ETL_API": "http://x"})


def test_schema_evolution_merge(spark, sf_dir, tmp_path):
    """A lake reality: files written before/after a column was added must
    read as one relation (mergeSchema), old rows null for the new column."""
    nation = readers.read_table(spark, sf_dir, "nation")
    out = str(tmp_path / "evolving")
    nation.write.parquet(out + "/v1")
    nation.withColumn("population", F.lit(1000).cast("long")).write.parquet(
        out + "/v2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        out + "/v1", out + "/v2"
    )
    assert "population" in merged.columns
    assert merged.count() == 2 * nation.count()
    assert merged.filter(F.col("population").isNull()).count() == nation.count()


def test_compact_small_files(spark, sf_dir, tmp_path):
    events = readers.read_table(spark, sf_dir, "events")
    path = str(tmp_path / "fragmented")
    events.repartition(40).write.parquet(path)  # 40 tiny files
    import glob

    assert len(glob.glob(path + "/*.parquet")) == 40
    n_total = events.count()
    n_out = sinks.compact_small_files(spark, path, target_file_bytes=64 * 1024 * 1024)
    files = glob.glob(path + "/*.parquet")
    assert len(files) == n_out < 40
    assert spark.read.parquet(path).count() == n_total


def test_custom_python_datasource(spark, sf_dir, tmp_path):
    """spark.read.format('dronesense'): one partition per landing file,
    declared schema, same rows as the built-in JSON reader."""
    from etl_drone_sense_spark.sources import datasource

    landing = tmp_path / "ds_landing"
    landing.mkdir()
    drones = synth_drones(spark, sf_dir).limit(20).collect()
    half = len(drones) // 2
    for name, chunk in [("a.jsonl", drones[:half]), ("b.jsonl", drones[half:])]:
        with open(landing / name, "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r.asDict(recursive=True)) + "\n")

    datasource.register(spark)
    df = spark.read.format("dronesense").load(str(landing))
    assert df.schema == DRONE_LOCATION_SCHEMA
    assert df.rdd.getNumPartitions() == 2  # one per landing file
    expected = spark.read.schema(DRONE_LOCATION_SCHEMA).json(str(landing))
    assert sorted(r["id"] for r in df.collect()) == sorted(
        r["id"] for r in expected.collect()
    )
    got = {r["id"]: r for r in df.collect()}
    exp = {r["id"]: r for r in expected.collect()}
    assert got.keys() == exp.keys()
    some = next(iter(got))
    assert got[some]["sensors"] == exp[some]["sensors"]


def test_compact_tolerates_leftover_old_dir(spark, sf_dir, tmp_path):
    """A crash after the aside-rename leaves a ._compact_old directory; the
    next compaction run must clean it up and still succeed."""
    import glob
    import os

    events = readers.read_table(spark, sf_dir, "events")
    path = str(tmp_path / "fragmented")
    events.repartition(10).write.parquet(path)
    os.makedirs(path + "._compact_old/junk")
    n_total = events.count()
    sinks.compact_small_files(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert not os.path.exists(path + "._compact_old")
    assert not os.path.exists(path + "._compact_tmp")
    assert spark.read.parquet(path).count() == n_total


def test_scoped_persist_bounded(spark):
    """Repeated invocations keep at most one live cache per key; release
    drops them all (ADVICE: long-lived sessions must not accumulate)."""
    from etl_drone_sense_spark.caching import (
        live_cache_count,
        release_caches,
        scoped_persist,
    )

    release_caches()
    a = scoped_persist("test.k", spark.range(10))
    a.count()
    assert a.storageLevel.useMemory
    b = scoped_persist("test.k", spark.range(20))
    b.count()
    assert not a.storageLevel.useMemory  # previous holder released
    assert live_cache_count() == 1
    release_caches()
    assert live_cache_count() == 0
    assert not b.storageLevel.useMemory


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.sources.readers import read_orc_records, read_table

    nation = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    nation.write.orc(path)
    back = read_orc_records(spark, path)
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)
    # Columnar pushdown reaches the ORC scan like parquet.
    plan = (
        back.filter(F.col("n_nationkey") < 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def test_text_lines_and_whole_file(spark, tmp_path):
    from etl_drone_sense_spark.sources.readers import read_text_lines

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("single doc body\nsecond line\n")
    lines = read_text_lines(spark, str(d))
    assert lines.count() == 4 and lines.columns == ["value"]
    docs = read_text_lines(spark, str(d), whole_file=True)
    vals = sorted(r.value for r in docs.collect())
    assert len(vals) == 2 and vals[0].startswith("line one\nline two")


def test_avro_reader_roundtrip_via_avrolite(spark, tmp_path):
    """No spark-avro JVM module in this container: read_avro_records must
    fall back to the dependency-free ``avrolite`` Python DataSource and
    read real Avro container files — nulls, negative longs, doubles,
    timestamps (micros logical type), deflate codec, multiple files and
    blocks — not raise a gate error (the r5 posture)."""
    import datetime

    from etl_drone_sense_spark.sources import avrolite as AL
    from etl_drone_sense_spark.sources.readers import read_avro_records

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "price", "type": "double"},
            {"name": "status", "type": ["null", "string"]},
            {
                "name": "when",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        {
            "k": i - 3,
            "price": i * 0.25,
            "status": None if i % 4 == 0 else f"s{i}",
            "when": base + datetime.timedelta(minutes=i, microseconds=i * 11),
        }
        for i in range(120)
    ]
    d = tmp_path / "avro_landing"
    d.mkdir()
    AL.write_avro(str(d / "a.avro"), schema, rows[:70], block_records=25)
    AL.write_avro(
        str(d / "b.avro"), schema, rows[70:], codec="null", block_records=25
    )
    df = read_avro_records(spark, str(d))
    assert [f.name for f in df.schema.fields] == ["k", "price", "status", "when"]
    got = sorted(
        (r.k, r.price, r.status, r.when) for r in df.collect()
    )
    want = sorted((r["k"], r["price"], r["status"], r["when"]) for r in rows)
    assert got == want


def test_avrolite_union_order_spec_conformant(tmp_path):
    """r6 ADVICE (high): union branch indices must follow the DECLARED
    order. A ``[T, "null"]`` union encodes null as branch 1, the value as
    branch 0 — hardcoded null-first desyncs the record stream on
    spec-conformant files written elsewhere. Byte-level assertion (a
    round-trip alone can't catch a symmetric encode/decode bug)."""
    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "v", "type": ["long", "null"]}],
    }
    p = str(tmp_path / "t.avro")
    AL.write_avro(p, schema, [{"v": 5}, {"v": None}], codec="null")
    assert list(AL.iter_avro_rows(p)) == [(5,), (None,)]
    _, _, _, data_start = AL.read_avro_header(p)
    raw = open(p, "rb").read()
    # block head: n_recs=2 (zigzag 0x04), n_bytes=3 (zigzag 0x06); then
    # rec 1 = branch 0 + zigzag(5), rec 2 = branch 1 (null is branch ONE
    # in this declared order)
    assert raw[data_start : data_start + 5] == b"\x04\x06\x00\x0a\x02"

    # and the null-first order still encodes null as branch 0
    schema2 = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "v", "type": ["null", "long"]}],
    }
    p2 = str(tmp_path / "t2.avro")
    AL.write_avro(p2, schema2, [{"v": 5}, {"v": None}], codec="null")
    assert list(AL.iter_avro_rows(p2)) == [(5,), (None,)]
    _, _, _, ds2 = AL.read_avro_header(p2)
    raw2 = open(p2, "rb").read()
    assert raw2[ds2 : ds2 + 5] == b"\x04\x06\x02\x0a\x00"


def test_avrolite_rejects_corruption(tmp_path):
    """Corrupt sync markers and unsupported schema shapes fail loudly."""
    import pytest as _pytest

    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "k", "type": "long"}],
    }
    p = str(tmp_path / "t.avro")
    AL.write_avro(p, schema, [{"k": i} for i in range(10)])
    data = bytearray(open(p, "rb").read())
    data[-3] ^= 0xFF  # inside the trailing sync marker
    open(p, "wb").write(bytes(data))
    with _pytest.raises(ValueError, match="sync marker"):
        list(AL.iter_avro_rows(p))
    with _pytest.raises(ValueError, match="unsupported Avro"):
        AL.spark_ddl_for(
            {
                "type": "record",
                "name": "t",
                "fields": [
                    {"name": "m", "type": {"type": "map", "values": "long"}}
                ],
            }
        )


def test_custom_datasource_stream_reader(spark, sf_dir, tmp_path):
    """spark.readStream.format('dronesense'): the scheduled-poll reference
    modeled as a native micro-batch stream. File-count offsets are
    checkpointed, so a second AvailableNow drain after a new landing file
    appears ingests ONLY the new file — incremental, exactly-once."""
    from etl_drone_sense_spark.sources import datasource

    landing = tmp_path / "ds_stream"
    landing.mkdir()
    drones = synth_drones(spark, sf_dir).limit(30).collect()

    def write(name, chunk):
        with open(landing / name, "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r.asDict(recursive=True)) + "\n")

    write("part-0001.jsonl", drones[:10])
    write("part-0002.jsonl", drones[10:20])
    datasource.register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("dronesense")
            .load(str(landing))
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    ids1 = [r["id"] for r in spark.read.parquet(out).collect()]
    assert sorted(ids1) == sorted(r["id"] for r in drones[:20])

    write("part-0003.jsonl", drones[20:])
    drain()
    ids2 = [r["id"] for r in spark.read.parquet(out).collect()]
    assert len(ids2) == 30 and len(set(ids2)) == 30  # new file only, no re-reads
    assert sorted(ids2) == sorted(r["id"] for r in drones)


def test_stream_reader_rejects_out_of_order_landing(tmp_path):
    """ADVICE r5 regression: offsets record the last consumed filename,
    and planning refuses a batch whose sorted listing is not a
    prefix-extension of the consumed prefix — a lexically-earlier
    late-arriving file would otherwise be silently skipped while an
    already-consumed file is re-read."""
    import pytest as _pytest

    from etl_drone_sense_spark.sources.datasource import DroneSenseStreamReader

    landing = tmp_path / "ooo"
    landing.mkdir()
    (landing / "part-0002.jsonl").write_text("")
    (landing / "part-0003.jsonl").write_text("")
    rd = DroneSenseStreamReader({"path": str(landing)})
    start, end = rd.initialOffset(), rd.latestOffset()
    assert (end["idx"], end["last"]) == (2, "part-0003.jsonl")
    assert "h" in end  # consumed-prefix hash travels with the offset
    assert len(rd.partitions(start, end)) == 2

    # a lexically-earlier file lands AFTER part-0002/0003 were consumed
    (landing / "part-0001.jsonl").write_text("")
    with _pytest.raises(RuntimeError, match="monotonic-naming"):
        rd.partitions(end, rd.latestOffset())
    # removing a consumed file is equally refused
    (landing / "part-0001.jsonl").unlink()
    (landing / "part-0003.jsonl").unlink()
    (landing / "part-0004.jsonl").write_text("")
    with _pytest.raises(RuntimeError, match="monotonic-naming"):
        rd.partitions(end, rd.latestOffset())


def test_avrolite_partitions_per_file(tmp_path):
    """Planning is one partition per landing file (executor-parallel
    decode, driver touches metadata only) — the scale contract."""
    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "k", "type": "long"}],
    }
    d = tmp_path / "many"
    d.mkdir()
    for i in range(5):
        AL.write_avro(str(d / f"p{i}.avro"), schema, [{"k": i}])
    ds = AL.make_datasource()({"path": str(d)})
    reader = ds.reader(None)
    parts = reader.partitions()
    assert len(parts) == 5
    assert sorted(sum((list(reader.read(p)) for p in parts), [])) == [
        (i,) for i in range(5)
    ]


def test_avrolite_block_split_index(spark, tmp_path):
    """One multi-GB container file must fan out to MANY executor
    partitions (r6 VERDICT item 4): build_split_index cuts at block
    boundaries, each split decodes independently, and the union is
    byte-identical to a whole-file read — across both codecs."""
    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    rows = [
        {"k": i, "s": None if i % 7 == 0 else f"v{i}" * 20}
        for i in range(2000)
    ]
    for codec in ("deflate", "null"):
        p = str(tmp_path / f"big_{codec}.avro")
        AL.write_avro(p, schema, rows, codec=codec, block_records=100)
        whole = list(AL.iter_avro_rows(p))
        splits = AL.build_split_index(p, target_bytes=2048)
        assert len(splits) > 3, f"{codec}: expected multiple splits"
        # contiguous, block-aligned, covering the whole data section
        for (s1, e1), (s2, _) in zip(splits, splits[1:]):
            assert e1 == s2
        ranged = [
            r for s, e in splits for r in AL.iter_avro_rows(p, s, e)
        ]
        assert ranged == whole

    # the DataSource plans >1 partition for one file under a small target
    # and the DataFrame content matches the single-partition read
    big = str(tmp_path / "big_deflate.avro")
    ds = AL.make_datasource()({"path": big, "split_target_bytes": "2048"})
    reader = ds.reader(None)
    parts = reader.partitions()
    assert len(parts) > 3
    AL.register(spark)
    df_split = (
        spark.read.format("avrolite")
        .option("split_target_bytes", "2048")
        .load(big)
    )
    df_whole = spark.read.format("avrolite").load(big)
    assert df_split.rdd.getNumPartitions() > 1
    assert sorted(map(tuple, df_split.collect())) == sorted(
        map(tuple, df_whole.collect())
    )


def test_stream_reader_catches_removal_plus_insertion(tmp_path):
    """Review catch r6: a consumed file removed while a lexically-earlier
    one lands keeps position idx-1 intact — only the consumed-prefix HASH
    exposes that the listing's first idx names changed."""
    import pytest as _pytest

    from etl_drone_sense_spark.sources.datasource import DroneSenseStreamReader

    landing = tmp_path / "swap"
    landing.mkdir()
    (landing / "part-0001.jsonl").write_text("")
    (landing / "part-0002.jsonl").write_text("")
    rd = DroneSenseStreamReader({"path": str(landing)})
    end = rd.latestOffset()
    assert len(rd.partitions(rd.initialOffset(), end)) == 2

    (landing / "part-0001.jsonl").unlink()
    (landing / "part-0000.jsonl").write_text("")
    # position idx-1 still shows part-0002, but the consumed prefix is
    # now (part-0000, part-0002) — must refuse
    with _pytest.raises(RuntimeError, match="monotonic-naming"):
        rd.partitions(end, rd.latestOffset())


def test_avrolite_executor_sink_roundtrip(spark, tmp_path):
    """write_avro_records (r7): one container file per non-empty input
    partition, schema derived from the DataFrame (nullable unions,
    timestamp-micros), rows round-trip exactly — including NULLs and an
    empty partition that must write nothing."""
    import datetime

    from etl_drone_sense_spark.sources import avrolite as AL
    from etl_drone_sense_spark.sources.readers import read_avro_records

    base = datetime.datetime(2024, 5, 1, 8, 30, 0)
    rows = [
        (i, None if i % 5 == 0 else f"s{i}", i * 0.5,
         base + datetime.timedelta(minutes=i))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "k long, s string, v double, ts timestamp"
    ).repartition(4, "k")
    out = str(tmp_path / "sink")
    n = AL.write_avro_records(df, out)
    assert n == 200
    import os

    files = sorted(f for f in os.listdir(out) if f.endswith(".avro"))
    assert 1 <= len(files) <= 4
    back = read_avro_records(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(rows)

    # an all-empty frame writes no files and counts zero
    empty_out = str(tmp_path / "empty")
    assert AL.write_avro_records(df.filter("k < 0"), empty_out) == 0
    assert not [f for f in os.listdir(empty_out) if f.endswith(".avro")]


def test_avrolite_stream_reader_incremental(spark, tmp_path):
    """spark.readStream.format('avrolite'): the Avro landing zone on the
    shared append-only offset protocol — a second AvailableNow drain
    after a new container file lands ingests ONLY the new file
    (checkpointed file-count offsets, exactly-once), and a
    lexically-earlier late arrival is refused by the prefix check."""
    import pytest as _pytest

    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "k", "type": "long"}],
    }
    landing = tmp_path / "avro_landing"
    landing.mkdir()
    AL.write_avro(str(landing / "part-0002.avro"), schema, [{"k": 1}, {"k": 2}])
    AL.register(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("avrolite")
            .load(str(landing))
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    drain()
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == [1, 2]
    AL.write_avro(str(landing / "part-0003.avro"), schema, [{"k": 3}])
    drain()
    assert sorted(r.k for r in spark.read.parquet(out).collect()) == [1, 2, 3]

    # late lexically-earlier landing → loud refusal, not silent dup/skip
    AL.write_avro(str(landing / "part-0001.avro"), schema, [{"k": 0}])
    from etl_drone_sense_spark.sources.avrolite import make_datasource

    ds = make_datasource()({"path": str(landing)})
    rd = ds.streamReader(None)
    consumed = {"idx": 2, "last": "part-0003.avro",
                "h": rd._prefix_hash(rd._list()[:2], 2)}
    # the recorded prefix was [0002, 0003]; the listing now leads with 0001
    import hashlib
    good_prefix_h = hashlib.md5(b"part-0002.avro\npart-0003.avro").hexdigest()
    with _pytest.raises(RuntimeError, match="monotonic-naming"):
        rd.partitions(
            {"idx": 2, "last": "part-0003.avro", "h": good_prefix_h},
            rd.latestOffset(),
        )


def test_avrolite_truncation_mid_structure_is_valueerror(tmp_path):
    """r7 review catch: EOF landing exactly between a block's record
    count and its byte length must raise the quarantine-contract
    ValueError, not a TypeError from None flowing into fh.read/seek."""
    import pytest as _pytest

    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "k", "type": "long"}],
    }
    p = str(tmp_path / "t.avro")
    AL.write_avro(p, schema, [{"k": i} for i in range(10)], codec="null")
    _, _, _, data_start = AL.read_avro_header(p)
    # keep only the first varint (record count) of the first block
    open(p + ".cut", "wb").write(open(p, "rb").read()[: data_start + 1])
    with _pytest.raises(ValueError, match="truncated|sync"):
        list(AL.iter_avro_rows(p + ".cut"))
    with _pytest.raises(ValueError, match="truncated|sync"):
        AL.build_split_index(p + ".cut", 1)


def test_avrolite_header_corruption_quarantines(tmp_path):
    """r8 (ADVICE): corrupt header varints must hit the ValueError
    quarantine contract — a negative klen/vlen would slurp the rest of
    the file via read(-1), a short metadata read silently truncated, and
    a missing avro.schema key raised KeyError."""
    import pytest as _pytest

    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "k", "type": "long"}],
    }
    p = str(tmp_path / "t.avro")
    AL.write_avro(p, schema, [{"k": 1}], codec="null")
    raw = open(p, "rb").read()

    # header layout: magic(4) | map-count varint | klen varint | key ...
    # zigzag(-1) = 0x01; splice it in as the first key length
    neg_klen = raw[:5] + b"\x01" + raw[6:]
    pneg = str(tmp_path / "neg.avro")
    open(pneg, "wb").write(neg_klen)
    with _pytest.raises(ValueError, match="negative key length"):
        AL.read_avro_header(pneg)

    # truncate inside the first metadata value → short read, not silence
    pcut = str(tmp_path / "cut.avro")
    open(pcut, "wb").write(raw[:40])
    with _pytest.raises(ValueError, match="truncated Avro header"):
        AL.read_avro_header(pcut)

    # header whose metadata map lacks avro.schema → ValueError not KeyError
    import io

    buf = io.BytesIO()
    buf.write(AL.MAGIC)
    buf.write(AL._zigzag_encode(1))
    k = b"avro.codec"
    buf.write(AL._zigzag_encode(len(k)) + k)
    buf.write(AL._zigzag_encode(4) + b"null")
    buf.write(AL._zigzag_encode(0))
    buf.write(AL.SYNC)
    pnos = str(tmp_path / "noschema.avro")
    open(pnos, "wb").write(buf.getvalue())
    with _pytest.raises(ValueError, match="missing avro.schema"):
        AL.read_avro_header(pnos)


def test_avrolite_timestamps_hold_true_epoch_micros(tmp_path):
    """r8 (ADVICE): the container must hold TRUE epoch micros on any
    host timezone. A naive datetime is interpreted as LOCAL wall time
    (what PySpark's rdd path materializes); the reader mirrors, so the
    round-trip is identity AND an external consumer decoding the raw
    long sees the correct instant. Verified under a non-UTC TZ via
    tzset, restored in finally."""
    import datetime as dt
    import os
    import time

    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }

    def stored_long(path):
        with open(path, "rb") as fh:
            AL._read_header_fh(fh)
            AL._expect_varint(fh)  # record count
            n = AL._expect_varint(fh)  # block byte size
            block = fh.read(n)
        v, _ = AL._zigzag_decode(memoryview(block), 0)
        return v

    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        time.tzset()
        naive = dt.datetime(2024, 6, 1, 12, 0, 0, 123456)  # EDT = UTC-4
        p = str(tmp_path / "tz.avro")
        AL.write_avro(p, schema, [{"ts": naive}], codec="null")
        want_utc = dt.datetime(
            2024, 6, 1, 16, 0, 0, 123456, tzinfo=dt.timezone.utc
        )
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        assert stored_long(p) == (want_utc - epoch) // dt.timedelta(
            microseconds=1
        )
        # reader mirrors: naive local wall time, identity round-trip
        assert list(AL.iter_avro_rows(p)) == [(naive,)]
        # aware input encodes the same instant exactly
        p2 = str(tmp_path / "tz2.avro")
        AL.write_avro(p2, schema, [{"ts": want_utc}], codec="null")
        assert stored_long(p2) == stored_long(p)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_avrolite_snappy_codec_roundtrip_and_gate(tmp_path, monkeypatch):
    """r8: snappy joins deflate/null — raw snappy block + trailing
    big-endian CRC32 of the uncompressed data per the Avro spec, riding
    pyarrow's bundled implementation. Round-trips across block
    boundaries; a corrupted CRC quarantines; and with NO snappy
    implementation importable both sides raise the contract ValueError
    instead of crashing."""
    import pytest as _pytest

    from etl_drone_sense_spark.sources import avrolite as AL

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    rows = [
        {"k": i, "s": None if i % 7 == 0 else f"v{i}" * (i % 5)}
        for i in range(1000)
    ]
    for codec in ("null", "deflate", "snappy", "zstandard"):
        p = str(tmp_path / f"{codec}.avro")
        AL.write_avro(p, schema, rows, codec=codec, block_records=100)
        got = list(AL.iter_avro_rows(p))
        assert got == [(r["k"], r["s"]) for r in rows], codec

    # corrupt the stored CRC of the first snappy block → ValueError
    p = str(tmp_path / "snappy.avro")
    _, _, _, data_start = AL.read_avro_header(p)
    raw = bytearray(open(p, "rb").read())
    with open(p, "rb") as fh:
        fh.seek(data_start)
        AL._expect_varint(fh)  # record count
        n_bytes = AL._expect_varint(fh)
        blk_start = fh.tell()
    raw[blk_start + n_bytes - 1] ^= 0xFF  # last CRC byte
    pbad = str(tmp_path / "bad_crc.avro")
    open(pbad, "wb").write(bytes(raw))
    with _pytest.raises(ValueError, match="CRC mismatch"):
        list(AL.iter_avro_rows(pbad))

    # no snappy implementation → quarantine ValueError on read AND write
    monkeypatch.setattr(AL, "_snappy_codec", lambda: None)
    with _pytest.raises(ValueError, match="snappy"):
        list(AL.iter_avro_rows(p))
    with _pytest.raises(ValueError, match="snappy"):
        AL.write_avro(
            str(tmp_path / "nope.avro"), schema, rows[:1], codec="snappy"
        )
