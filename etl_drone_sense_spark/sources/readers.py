"""Source adapters.

Covers SURVEY §2 A1/A2 (HTTP source + typed decode) and Part B file-format
scans. All file readers take an explicit schema: at 100 TB schema inference
is a full extra pass, and a declared schema is what lets Catalyst prune
columns and push filters into the parquet footer.

Decode modes mirror the reference's decode-or-throw (task.ts:119-121):
* FAILFAST  — any malformed record aborts the job (reference behavior);
* PERMISSIVE — malformed rows land in ``_corrupt_record`` and can be routed
  to a quarantine sink (the scale-friendly default: one bad record out of
  10^11 should not kill a 6-hour job).
"""

from __future__ import annotations

import json
import operator
import tempfile
import threading
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import DRONE_LOCATION_SCHEMA, TPCH_SCHEMAS


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs the engine's semantics depend on, set idempotently so
    queries behave identically under any host-created SparkSession:
    UTC session timezone (timestamp parity with the naive-UTC oracle)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def fixture_fingerprint(path: str) -> tuple[str, int, int]:
    """(probe file, mtime_ns, size) of a fixture's first parquet footer.
    The driver regenerates /root/testdata between rounds — any cache keyed
    on the PATH alone would serve stale decisions (ts unit, derived landing
    dirs) across a regeneration and corrupt every downstream timestamp by
    1000×. Keying on the footer's stat makes every such cache self-heal.
    ``built_once`` below is the one place fixture-derived builds (tables,
    landing and sink dirs) are keyed on it."""
    import os

    probe = path
    if os.path.isdir(path):
        probe = next(
            (
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet")
            ),
            None,
        )
        if probe is None:
            raise FileNotFoundError(f"no .parquet file under {path}")
    st = os.stat(probe)
    return (probe, st.st_mtime_ns, st.st_size)


_BUILT: dict[tuple, object] = {}
# Guards the check-then-build on _BUILT (r10 ADVICE): two concurrent first
# calls would otherwise each write a full landing (one leaked). One lock
# is enough while no build calls another memoized build; if one ever must,
# the fix is a per-key lock, not a re-entrant one (foreachBatch callbacks
# run on another driver thread).
_BUILT_LOCK = threading.Lock()


def built_once(sf_dir: str, table: str, prefix: str, build):
    """What ``build(work)`` returns, ``work`` being a fresh
    ``tempfile.mkdtemp(prefix=prefix)``, built once per generation of the
    fixture ``{sf_dir}/{table}.parquet``: a committed table root, a landing
    or sink dir, or a tuple of them. ``prefix`` identifies the calling
    site. Keyed on ``sf_dir`` as given plus the fixture's footer stat, so
    a rewrite builds again and a hard-linked copy at a new ``sf_dir``
    builds again too. A superseded entry of the same ``(prefix, sf_dir)``
    is dropped; its dir is tempfile-owned and reaped with the OS tmpdir.
    A ``build`` that raises stores nothing."""
    key = (prefix, sf_dir, fixture_fingerprint(f"{sf_dir}/{table}.parquet"))
    with _BUILT_LOCK:
        if key not in _BUILT:
            value = build(tempfile.mkdtemp(prefix=prefix))
            for stale in [k for k in _BUILT if k[:2] == key[:2]]:
                del _BUILT[stale]  # fingerprint rotated: fixture regenerated
            _BUILT[key] = value
        return _BUILT[key]


_TS_UNIT_CACHE: dict[tuple[str, int, int], str] = {}


def _events_ts_unit(path: str) -> str:
    """Parquet footer probe for the events ``ts`` physical unit ('us'/'ns').
    Fixture generations have shipped BOTH encodings (TIMESTAMP(NANOS)
    through round 3, TIMESTAMP(MICROS) from round 4) — trusting a doc
    instead of the footer silently corrupts every timestamp by 1000×.
    Driver-side metadata read of one footer, cached per footer stat (not
    per path: a mid-process fixture regeneration must re-probe)."""
    key = fixture_fingerprint(path)
    unit = _TS_UNIT_CACHE.get(key)
    if unit is None:
        import pyarrow.parquet as pq

        unit = pq.read_schema(key[0]).field("ts").type.unit
        _TS_UNIT_CACHE[key] = unit
    return unit


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with its declared schema (TESTDATA.md)."""
    _ensure_session_confs(spark)
    if name == "events":
        path = f"{sf_dir}/{name}.parquet"
        fields = [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
        if _events_ts_unit(path) == "ns":
            # TIMESTAMP(NANOS): Spark has no nanos type — read raw ns as
            # long, truncate to µs with integer `div` (a double division
            # would lose µs precision at 1e18), exactly as DuckDB's reader
            # does. Needs the legacy nanos-as-long read conf.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            fields[1] = T.StructField("ts", T.LongType())
            raw = spark.read.schema(T.StructType(fields)).parquet(path)
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return spark.read.schema(T.StructType(fields)).parquet(path)
    return spark.read.schema(TPCH_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


_SPLIT_DECISIONS: dict[str, bool] = {}

# A SHUFFLE exchange node prints as a standalone word ('Exchange
# hashpartitioning(...)', 'Exchange RoundRobinPartitioning(...)'); a
# broadcast build prints as the single token 'BroadcastExchange', which \b
# does not split. Matching the bare word keeps scan+broadcast-join plans —
# whose big side is NOT spread by the broadcast — eligible for rebalancing.
_SHUFFLE_EXCHANGE_RE = None  # compiled lazily to keep `re` out of import hot path


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle Exchange or a cache
    scan — i.e. converting plan→RDD under AQE would EXECUTE upstream
    stages (measured: 6.6 s of silent double execution probing a windowed
    subtree). BroadcastExchange alone does NOT count: its build side is a
    small dim and the probed big side stays stage-free."""
    global _SHUFFLE_EXCHANGE_RE
    if _SHUFFLE_EXCHANGE_RE is None:
        import re

        _SHUFFLE_EXCHANGE_RE = re.compile(r"\bExchange\b")
    # executedPlan, not sparkPlan: EnsureRequirements inserts the implicit
    # exchanges (groupBy/join shuffles) only at the preparation step, and
    # under AQE stringifying the un-executed AdaptiveSparkPlan prints the
    # initial plan without running any stage — planning cost only.
    plan = df._jdf.queryExecution().executedPlan().toString()
    return bool(_SHUFFLE_EXCHANGE_RE.search(plan)) or "InMemoryTableScan" in plan


def safe_num_partitions(df: DataFrame, default: int | None = None) -> int | None:
    """Partition count via ``df.rdd`` ONLY when the plan is shuffle-free
    (cheap driver-side conversion); otherwise returns ``default`` rather
    than silently double-executing shuffle stages under AQE. Every
    partition-count probe in the repo must go through here."""
    if plan_has_shuffle(df):
        return default
    return df.rdd.getNumPartitions()


def rebalance_for_compute(
    df: DataFrame, target: int | None = None, cache_key: str | None = None
) -> DataFrame:
    """Spread rows before a compute-heavy stage IF the source under-splits.

    Spark parallelizes a parquet scan at row-group granularity; a source
    laid out as few/huge row groups (the fixtures are one row group per
    table) pins the whole fused scan→project→partial-agg pipeline to one
    core. When the scan yields fewer partitions than ``target`` (default:
    cluster parallelism), a round-robin repartition buys full parallelism
    for the downstream compute at the cost of shuffling the (filtered,
    pruned) input once. On a production lake with many splittable files the
    condition is false and this is a NO-OP — the plan keeps its free
    map-side pipeline with no extra exchange.

    The probe only applies to SHUFFLE-FREE plans (a raw scan, narrow maps
    on top of one, possibly joined to a BROADCAST dim — a broadcast join
    leaves the big side's partitioning untouched, so such plans stay
    eligible): if the physical plan already contains a shuffle Exchange or
    a cache scan, the input is spread by that shuffle's partitioning and
    the function is a no-op WITHOUT touching ``df.rdd`` — under AQE,
    plan→RDD conversion EXECUTES every upstream shuffle stage (measured:
    6.6 s of silent double execution probing a windowed subtree in the
    corpus pipeline). Both checks live in ``safe_num_partitions``.

    ``cache_key`` memoizes the probe for repeated runs over the same
    source, e.g. the bench loop.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    need = _SPLIT_DECISIONS.get(cache_key) if cache_key else None
    if need is None:
        n = safe_num_partitions(df)
        # n is None ⇔ already spread (or cached) by an upstream shuffle
        need = n is not None and n < target
        if cache_key:
            _SPLIT_DECISIONS[cache_key] = need
    return df.repartition(target) if need else df


def read_json_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "FAILFAST",
) -> DataFrame:
    """Schema-enforced JSON-lines scan (A2 typed decode over landed files)."""
    if mode == "PERMISSIVE":
        schema = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
        )
    return (
        spark.read.schema(schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_csv_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "FAILFAST",
    header: bool = True,
) -> DataFrame:
    """Schema-enforced CSV scan (same decode-mode contract as JSON)."""
    if mode == "PERMISSIVE":
        schema = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
        )
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def read_orc_records(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan (columnar like parquet: predicate pushdown + column
    pruning reach the stripe footers). Schema optional — ORC embeds it —
    but declaring one skips the footer-sample pass on wide directories."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_avro_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Avro scan. Preferred path: the JVM ``spark-avro`` connector (an
    external module — submit with ``--packages
    org.apache.spark:spark-avro_2.13:<spark-version>``). Where that
    module is absent (this container), falls back to the engine's own
    dependency-free ``format("avrolite")`` Python DataSource
    (sources/avrolite.py — full object-container decode for the
    primitive/nullable/timestamp-micros record subset), so Avro landings
    are readable out of the box instead of import-gated.

    ``options`` pass through to whichever source serves the scan (each
    ignores options it doesn't know — e.g. avrolite's
    ``split_target_bytes`` block-split knob is a no-op under the JVM
    connector, which has its own splitting)."""
    reader = spark.read.options(**(options or {}))
    if schema is not None:
        reader = reader.schema(schema)
    try:
        return reader.format("avro").load(path)
    except Exception as e:
        # Fall back ONLY on the connector-absent error — any other
        # failure (corrupt file, schema mismatch) on a cluster that HAS
        # spark-avro must surface as-is, not be masked by a retry through
        # the limited avrolite subset (review catch r6).
        msg = str(e)
        if not (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find data source" in msg
        ):
            raise
        from . import avrolite

        avrolite.register(spark)
        fallback = spark.read.options(**(options or {}))
        if schema is not None:
            fallback = fallback.schema(schema)
        return fallback.format("avrolite").load(path)


def read_text_lines(
    spark: SparkSession, path: str, whole_file: bool = False
) -> DataFrame:
    """Raw text corpus ingestion: one row per line (``value`` string), or
    one row per FILE with ``whole_file=True`` (document-per-file corpora).
    Line mode splits at newlines inside Hadoop's splittable readers, so a
    100 TB directory parallelizes by block; whole-file mode cannot split
    (one task per file) — acceptable only when files are document-sized."""
    return spark.read.text(path, wholetext=whole_file)


def decode_json_column(
    df: DataFrame, col: str, schema: T.StructType, mode: str = "FAILFAST"
) -> DataFrame:
    """``from_json`` typed decode of an embedded JSON string column (A2)."""
    return df.withColumn(col, F.from_json(F.col(col), schema, {"mode": mode}))


_QUARANTINE_SEQ = 0


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) split of a PERMISSIVE read.

    The parsed relation is cached first: Spark disallows queries that touch
    only ``_corrupt_record`` on a raw file scan (QUERY_ONLY_CORRUPT_RECORD_
    COLUMN), and both branches scan it anyway — cache once, filter twice.
    The scoped-cache key is unique per call: a fixed key would let a later
    ``quarantine_split`` release an earlier call's cache while its ``bad``
    branch is still unconsumed, and that branch would then fail with
    QUERY_ONLY_CORRUPT_RECORD_COLUMN on the raw scan. Per-call caches are
    reclaimed by ``caching.release_caches()`` (bench/sweep loops call it)."""
    from ..caching import scoped_persist

    global _QUARANTINE_SEQ
    _QUARANTINE_SEQ += 1
    df = scoped_persist(f"readers.quarantine.{_QUARANTINE_SEQ}", df)
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    return good, bad


def fetch_drone_records(
    spark: SparkSession,
    url: str = "https://external.dronesense.com/v1/drones/with-sensors",
    api_key: str = "",
    timeout: float = 30.0,
    _payload: list | None = None,
) -> DataFrame:
    """HTTP source (A1, task.ts:112-117): GET + X-API-KEY auth → DataFrame.

    The fetch itself is driver-side (the reference's payload is one tenant's
    active drones — small by construction); the DataFrame is the distributed
    hand-off point. For a firehose-scale feed the right shape is
    land-to-object-store + ``read_json_records`` (or a streaming source),
    not a bigger driver fetch. ``_payload`` injects a pre-fetched body for
    tests/offline runs.

    The typed decode (A2) is one Arrow conversion, ``decode_drone_payload``,
    sliced into ``defaultParallelism`` record batches that cross into the
    JVM as they are: no per-row pickling and no Python worker. The frame is
    created with ``spark.sql.execution.arrow.localRelationThreshold`` at 0
    so it stays RDD-backed, one partition per batch, decoded on executors.
    Below the threshold Spark would build a ``LocalRelation``, and the
    optimizer's ``ConvertToLocalRelation`` would then evaluate the whole
    feature projection single-threaded and interpreted on the driver (a
    larger JVM heap tick after tick).
    """
    import pyarrow as pa

    from ..streaming.pipeline import scoped_conf

    if _payload is None:
        req = urllib.request.Request(url, headers={"X-API-KEY": api_key})
        with urllib.request.urlopen(req, timeout=timeout) as resp:  # pragma: no cover
            _payload = json.loads(resp.read())
    whole = decode_drone_payload(_payload)
    n, parts = whole.num_rows, spark.sparkContext.defaultParallelism
    bounds = [i * n // parts for i in range(parts + 1)]
    table = pa.Table.from_batches(
        [whole.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])], schema=whole.schema
    )
    with scoped_conf(spark, "spark.sql.execution.arrow.localRelationThreshold", "0"):
        return spark.createDataFrame(table, schema=DRONE_LOCATION_SCHEMA)


def decode_drone_payload(payload: list):
    """Decode-or-throw (task.ts:119-121): the drone records as one
    ``pyarrow.RecordBatch`` of ``DRONE_LOCATION_SCHEMA``, or a ``ValueError``
    naming the field path at fault (``speed``, ``sensors[].id``).

    Whole numbers are numbers, as the reference's ``Type.Number()``
    fields accept them: Arrow widens ``0`` to ``0.0``. Booleans are not,
    though Arrow would silently take ``True`` as ``1.0``. Missing keys and
    nulls are found from the null counts of the decoded arrays."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(payload, list):
        raise ValueError("drone payload must be a JSON array (task.ts:119)")
    if not all(isinstance(r, dict) for r in payload):
        raise ValueError("drone payload must be an array of JSON objects (task.ts:119)")
    schema = to_arrow_schema(DRONE_LOCATION_SCHEMA)
    try:
        batch = pa.RecordBatch.from_pylist(payload, schema=schema)
    except (pa.ArrowInvalid, pa.ArrowTypeError) as exc:
        path = _unconvertible_path(payload, pa.struct(list(schema)), "")
        raise ValueError(f"drone record field {path!r} has the wrong type: {exc}") from exc
    for field, column in zip(schema, batch.columns):
        path = _null_path(column, field, field.name)
        if path is not None:
            raise ValueError(f"drone record field {path!r} is missing or null")
    for field in DRONE_LOCATION_SCHEMA.fields:
        if isinstance(field.dataType, T.DoubleType):
            if bool in set(map(type, map(operator.itemgetter(field.name), payload))):
                raise ValueError(
                    f"drone record field {field.name!r} has the wrong type: "
                    "a boolean is not a number"
                )
    return batch


def _null_path(array, field, path: str) -> str | None:
    """The first path under ``array`` (of Arrow ``field``) that holds a null
    where its field is not nullable, or None."""
    import pyarrow as pa

    if array.null_count:
        if not field.nullable:
            return path
        array = array.drop_null()
    if pa.types.is_struct(field.type):
        for child, values in zip(field.type, array.flatten()):
            found = _null_path(values, child, f"{path}.{child.name}")
            if found is not None:
                return found
    elif pa.types.is_list(field.type):
        return _null_path(array.flatten(), field.type.value_field, f"{path}[]")
    return None


def _unconvertible_path(values: list, typ, path: str) -> str:
    """The deepest path under which ``values`` do not convert to the Arrow
    type ``typ``: the error path of ``decode_drone_payload`` only."""
    import pyarrow as pa

    if pa.types.is_struct(typ) and all(v is None or isinstance(v, dict) for v in values):
        for child in typ:
            column = [None if v is None else v.get(child.name) for v in values]
            try:
                pa.array(column, type=child.type)
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                name = f"{path}.{child.name}" if path else child.name
                return _unconvertible_path(column, child.type, name)
    elif pa.types.is_list(typ) and all(v is None or isinstance(v, list) for v in values):
        return _unconvertible_path([x for v in values if v for x in v], typ.value_type, f"{path}[]")
    return path
