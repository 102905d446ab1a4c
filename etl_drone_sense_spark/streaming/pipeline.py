"""Structured Streaming pipelines (SURVEY §2 Part B streaming row).

The reference's 'streaming' is cron re-invocation of a batch task
(InvocationType.Schedule, task.ts:87). The engine expresses the same
ingest as a real incremental pipeline plus the standard event-time
machinery the reference lacks:

* ``stream_events`` / ``stream_drone_features`` — file sources with
  ``Trigger.AvailableNow`` (micro-batch parity with scheduled invocation:
  each run drains what's new, checkpoint carries offsets);
* ``windowed_counts`` — watermark + tumbling window with late-data drop;
* ``session_counts`` — watermarked ``session_window`` aggregation;
* ``dedup_stream`` — ``dropDuplicatesWithinWatermark`` keyed dedup;
* ``running_totals_stateful`` — custom per-key state via
  ``applyInPandasWithState`` (the extension point for operators Spark
  lacks natively).

Bounded replays of a fixture go through three helpers:

* ``land_in_order`` — append chunk DataFrames to a feed dir, one parquet
  file each, in a pinned order;
* ``replay`` — land chunks, then drain them one file per micro-batch
  through ``foreachBatch`` to completion (AvailableNow);
* ``scoped_conf`` — set a session conf for one block and restore it.

Ordering condition: the file source drains files by modification time,
and ties fall back to listing order (neither landing order nor name
order). Back-to-back chunk writes can share an mtime on a filesystem
with 1-second mtime granularity, so ``land_in_order`` stamps strictly
increasing whole-second mtimes and the order-dependent folds replay in
landing order everywhere.

Scale notes: state stores partition by key (shuffle.partitions state
shards); watermarks bound state size — never run an unbounded stateful agg
without one at production scale.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable, Iterable, Iterator, Sequence
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.feature_transform import drone_features
from ..schemas import DRONE_LOCATION_SCHEMA, TPCH_SCHEMAS


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Incremental scan of an events directory (parquet files arriving).

    ``max_files_per_trigger`` paces the drain: with time-ordered landing
    files, 1 file per micro-batch means one watermark advance per file —
    the production posture that keeps stateful-operator state bounded by
    the watermark horizon instead of the whole replay (see
    plans/extensions.stream_interval_join)."""
    reader = spark.readStream.schema(TPCH_SCHEMAS["events"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_drone_features(spark: SparkSession, landing_path: str) -> DataFrame:
    """A1/A2/A3-A17 as a streaming pipeline: JSON landings → typed decode →
    the same narrow Feature transform (batch/stream parity by construction:
    ``drone_features`` is invocation-agnostic)."""
    raw = spark.readStream.schema(DRONE_LOCATION_SCHEMA).json(landing_path)
    return drone_features(raw)


def windowed_counts(
    events: DataFrame, window: str = "15 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts; late rows beyond the watermark
    are dropped and the window state is evicted once the watermark passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_counts(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked session windows (same semantics as the batch
    operators/sessionize.sessionize — cross-checked in tests)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def dedup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Keyed streaming dedup with bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# State carries FIXED-POINT micro-units (q = floor(value*1e6 + 0.5) per
# row, summed as int64): exact and order-independent across micro-batch
# boundaries, state-store round trips, and engines — the same convention
# as the repo's decimal/quantized aggregates, which is what lets the
# stateful operator carry a full hash oracle (stream_running_totals).
_STATE_SCHEMA = T.StructType(
    [T.StructField("total_q", T.LongType()), T.StructField("n", T.LongType())]
)
_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _update_totals(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-user totals — custom stateful logic beyond built-in aggs."""
    import numpy as np

    (user_id,) = key
    total_q, n = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        q = np.floor(pdf["value"].to_numpy(dtype=np.float64) * 1e6 + 0.5)
        total_q += int(q.astype(np.int64).sum())
        n += len(pdf)
    state.update((total_q, n))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "total_value": [round(total_q / 1e6, 6)],
            "n_seen": [n],
        }
    )


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """``applyInPandasWithState`` custom operator: per-key mutable state in
    Arrow batches. The pattern to extend when an operator has no Spark
    native form (e.g. online sketches, CDC merge). Totals accumulate in
    fixed-point int64 (see _STATE_SCHEMA note) so the emitted value is
    bit-identical under any batch split or row order."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_TWS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


try:  # the API landed in Spark 4; older sessions fall back cleanly
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor as _StatefulProcessorBase,
    )
except ImportError:  # pragma: no cover - present in this environment
    _StatefulProcessorBase = object  # type: ignore[assignment,misc]


class _TotalsProcessor(_StatefulProcessorBase):
    """StatefulProcessor for ``transformWithStateInPandas`` — Spark 4's
    successor API to applyInPandasWithState: named state variables on a
    handle (ValueState here; ListState/MapState/timers available), backed
    by the RocksDB state store. Same fixed-point int64 convention as
    ``_update_totals``, so the emitted aggregates are exact under any
    batch split — which is what keeps the operator hash-oracle-able."""

    def init(self, handle) -> None:
        self._agg = handle.getValueState(
            "agg", "total_q long, n long, max_q long"
        )

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        total_q, n, max_q = (
            self._agg.get() if self._agg.exists() else (0, 0, None)
        )
        for pdf in rows:
            q = np.floor(pdf["value"].to_numpy(dtype=np.float64) * 1e6 + 0.5)
            qi = q.astype(np.int64)
            total_q += int(qi.sum())
            n += len(pdf)
            if len(qi):
                m = int(qi.max())
                max_q = m if max_q is None else max(max_q, m)
        self._agg.update((total_q, n, max_q))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "total_value": [round(total_q / 1e6, 6)],
                "n_seen": [n],
                "max_value": [round(max_q / 1e6, 6) if max_q is not None else None],
            }
        )

    def close(self) -> None:
        pass


# Roots that may carry a complete PURE-PYTHON google.protobuf runtime as
# a namespace package (``<root>/google/protobuf/descriptor.py``). The
# Google Cloud SDK publicly ships one with its bundled App Engine
# platform; ``SPARK_GRAFT_PROTOBUF_PATH`` lets an operator point at any
# other unpacked protobuf wheel.
_PROTOBUF_VENDOR_ROOTS: tuple[str | None, ...] = (
    None,  # placeholder replaced by the env var at call time
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf(spark: SparkSession | None = None) -> bool:
    """Make ``google.protobuf`` importable here AND in the streaming
    Python runner processes; returns availability.

    ``transformWithStateInPandas``'s driver-side runner talks to the JVM
    over protobuf. If the environment lacks ``google.protobuf``, probe
    the vendor roots for a pure-python runtime and wire it up via (a)
    ``sys.path`` + ``PYTHONPATH`` for this process and its children, and
    (b) ``sc.environment`` — the env map stamped onto every PythonFunction,
    which is how the StreamingPythonRunner (launched by an already-running
    JVM that never saw our PYTHONPATH) finds it. The SDK runtime may be
    one minor version behind Spark's gencode, so the probe also sets
    protobuf's own documented escape hatch
    (``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``) — minor-version wire
    compatibility is a protobuf guarantee."""
    import importlib
    import os
    import sys

    def _importable() -> bool:
        try:
            from google.protobuf import descriptor  # noqa: F401

            return True
        except ImportError:
            return False

    ok = _importable()
    if not ok:
        roots = (os.environ.get("SPARK_GRAFT_PROTOBUF_PATH"),) + (
            _PROTOBUF_VENDOR_ROOTS[1:]
        )
        for root in roots:
            if not root or not os.path.isfile(
                os.path.join(root, "google", "protobuf", "descriptor.py")
            ):
                continue
            # probe via sys.path ALONE; mutate the process environment
            # only after the root actually imports — a broken root must
            # not leave PYTHONPATH polluted or the protobuf version check
            # disabled for every child process (review catch r6)
            sys.path.append(root)
            importlib.invalidate_caches()
            if _importable():
                os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = (
                    "true"
                )
                os.environ["PYTHONPATH"] = (
                    root + os.pathsep + os.environ.get("PYTHONPATH", "")
                )
                ok = True
                break
            sys.path.remove(root)
    if ok and spark is not None:
        env = spark.sparkContext.environment
        pypath = os.environ.get("PYTHONPATH", "")
        if pypath:
            env["PYTHONPATH"] = pypath
        if os.environ.get("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"):
            env["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    return ok


def tws_available(spark: SparkSession | None = None) -> bool:
    """Can ``transformWithStateInPandas`` run HERE? True natively on a
    normally-provisioned cluster; in protobuf-less containers
    ``ensure_protobuf`` can often vendor a pure-python runtime (see its
    docstring). The operator additionally needs the RocksDB state store
    provider — HDFSBackedStateStoreProvider rejects the API's multiple
    column families; callers scope that conf around the query
    (``scoped_conf``)."""
    return ensure_protobuf(spark)


def running_totals_tws(events: DataFrame) -> DataFrame:
    """``transformWithStateInPandas`` custom operator (the modern twin of
    ``running_totals_stateful``): per-user exact totals + max via a named
    ValueState. Gated on ``tws_available()``; the CALLER must also set
    ``spark.sql.streaming.stateStore.providerClass`` to the RocksDB
    provider for the query's duration (``scoped_conf``, not session-wide
    — an HDFS-provider checkpoint resumed under RocksDB would mismatch).
    The oracle-able semantics (fixed-point exactness) match
    running_totals_stateful."""
    if not tws_available(events.sparkSession):
        raise RuntimeError(
            "transformWithStateInPandas needs a working google.protobuf "
            "in the Python environment and none could be vendored "
            "(set SPARK_GRAFT_PROTOBUF_PATH to an unpacked pure-python "
            "protobuf wheel) — use running_totals_stateful "
            "(applyInPandasWithState) instead"
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_TotalsProcessor(),
        outputStructType=_TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def attribution_join(
    clicks: DataFrame,
    views: DataFrame,
    attribution: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time interval condition: each
    click joins the same user's views from the preceding ``attribution``
    window (the canonical click/impression attribution shape).

    Both sides are watermarked and the join condition bounds event time in
    BOTH directions, so Spark derives a state-eviction bound for each side
    — view state older than watermark+attribution is dropped, click state
    older than watermark; without the time bounds the join state would
    grow forever. State shuffles on the equi-key (user_id); the interval
    part filters within the keyed state, never a cross join."""
    c = clicks.withWatermark("ts", watermark).alias("c")
    v = views.withWatermark("ts", watermark).alias("v")
    return c.join(
        v,
        F.expr(
            "c.user_id = v.user_id AND v.ts <= c.ts "
            f"AND c.ts < v.ts + interval {attribution}"
        ),
    ).select(
        F.col("c.event_id").alias("click_id"),
        F.col("v.event_id").alias("view_id"),
        F.col("c.user_id").alias("user_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("v.ts").alias("view_ts"),
    )


def run_available_now(stream: DataFrame, checkpoint: str, out_path: str) -> None:
    """Drain-what's-new batch-parity trigger (the scheduled-invocation
    equivalent, reference task.ts:87) writing parquet."""
    (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", out_path)
        .start()
        .awaitTermination()
    )


def run_to_memory(stream: DataFrame, prefix: str, output_mode: str = "update"):
    """Drain ``stream`` AvailableNow into a fresh memory sink
    ``reg_<prefix>_<uuid8>`` and return its rows as a DataFrame. The
    sink's temp view is dropped before returning: the frame holds the
    sink itself, so no catalog entry outlives the call."""
    name = f"reg_{prefix}_{uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    spark = stream.sparkSession
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


# A stateful query's state store shards at spark.sql.shuffle.partitions
# AS OF ITS FIRST START, and the checkpoint freezes that count; the
# bounded fixture replays need a handful of shards, not a session
# default of 200 near-empty state tasks per micro-batch.
STATE_SHARDS = "8"


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set the session conf ``key`` to ``value`` for the block; restore the
    previous value afterwards, or unset ``key`` when it had none."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def land_in_order(chunks: Sequence[DataFrame], feed: str) -> None:
    """Write each chunk into the new directory ``feed`` as one
    ``coalesce(1)`` parquet file, stamped with strictly increasing
    whole-second mtimes 1 s apart, so the file source drains the chunks
    in list order (module docstring)."""
    base = int(time.time())
    seen: set[str] = set()
    for i, chunk in enumerate(chunks):
        chunk.coalesce(1).write.mode("append").parquet(feed)
        for f in os.listdir(feed):
            if f.endswith(".parquet") and f not in seen:
                os.utime(os.path.join(feed, f), (base + i, base + i))
                seen.add(f)


def replay(
    chunks: Sequence[DataFrame],
    work: str,
    apply_batch: Callable[[DataFrame, int], None],
) -> None:
    """Land ``chunks`` in order under ``work/feed`` and fold them one file
    per micro-batch through ``foreachBatch(apply_batch)`` (checkpoint
    ``work/ckpt``, AvailableNow), returning once the feed is drained.
    Batch ``i`` carries chunk ``i``; the stream reads ``chunks[0]``'s
    schema."""
    feed = os.path.join(work, "feed")
    land_in_order(chunks, feed)
    (
        chunks[0]
        .sparkSession.readStream.schema(chunks[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Streaming per-domain token-budget cutoff (r14)
# ---------------------------------------------------------------------------

_BUDGET_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("domain", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("cum_before", T.LongType()),
        T.StructField("accepted", T.BooleanType()),
    ]
)
_BUDGET_STATE_SCHEMA = T.StructType([T.StructField("cum", T.LongType())])


def domain_budget_cutoff(docs: DataFrame, budget: int) -> DataFrame:
    """Streaming per-domain token-budget CUTOFF via
    ``applyInPandasWithState``: accept each arriving document while its
    domain has seen fewer than ``budget`` tokens, then reject everything
    after — the prefix-truncation form of domain capping. The BATCH
    twin (plans/curation.corpus_domain_budget) deliberately uses
    acceptance RATES because a per-domain cumulative window would
    serialize each hot domain at rest; in STREAMING the cumulative form
    is the natural one — per-domain state is one int64 counter and docs
    arrive in a defined order, so the cutoff is exact rather than
    in-expectation.

    Exactness contract (what makes this hash-oracle-able): state is an
    exact int64 token count; within a micro-batch the group's rows are
    processed in doc_id order (sorted here — Spark hands the group's
    batch rows in arbitrary order), so the acceptance decision depends
    only on the (batch sequence, doc_id) arrival order the feed
    defines, which the oracle restates as a window cumsum over the same
    order. Counting ALL seen tokens (not just accepted ones) is
    equivalent for the accept set — rejection starts exactly when the
    running total crosses the budget and never stops — and keeps
    ``cum_before`` a plain prefix sum."""

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (domain,) = key
        (cum,) = state.get if state.exists else (0,)
        pdf = pd.concat(list(pdfs)).sort_values("doc_id")
        toks = pdf["n_tokens"].to_numpy(dtype="int64")
        cum_before = cum + np.concatenate(([0], np.cumsum(toks)[:-1]))
        state.update((int(cum + toks.sum()),))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(dtype="int64"),
                "domain": domain,
                "n_tokens": toks,
                "cum_before": cum_before.astype("int64"),
                "accepted": cum_before < budget,
            }
        )

    return docs.groupBy("domain").applyInPandasWithState(
        update,
        outputStructType=_BUDGET_OUT_SCHEMA,
        stateStructType=_BUDGET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
