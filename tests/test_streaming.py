"""Structured Streaming pipelines: stream/batch parity.

Each streaming operator is drained with ``Trigger.AvailableNow`` into a
memory sink and compared against the equivalent batch computation on the
same data — watermark/window/session/state semantics have no DuckDB oracle
(SURVEY §7.4 risk 6), so batch parity is the correctness contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_drone_sense_spark.operators.sessionize import sessionize, tumbling_window_agg
from etl_drone_sense_spark.plans.drone import synth_drones
from etl_drone_sense_spark.operators.feature_transform import drone_features
from etl_drone_sense_spark.schemas import DRONE_LOCATION_SCHEMA, TPCH_SCHEMAS
from etl_drone_sense_spark.sources.readers import read_table
from etl_drone_sense_spark.streaming import pipeline as SP


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events fixture rewritten by Spark (µs timestamps) as a landing dir."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    read_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    return path


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_windowed_counts_matches_batch(spark, events_dir):
    stream = SP.windowed_counts(SP.stream_events(spark, events_dir))
    got = SP.run_to_memory(stream, "t_windowed", output_mode="complete")
    expected = tumbling_window_agg(
        spark.read.schema(TPCH_SCHEMAS["events"]).parquet(events_dir),
        duration="15 minutes",
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(expected, cols)


def test_session_counts_matches_batch(spark, events_dir):
    stream = SP.session_counts(SP.stream_events(spark, events_dir))
    got = SP.run_to_memory(stream, "t_sessions", output_mode="complete")
    expected = sessionize(
        spark.read.schema(TPCH_SCHEMAS["events"]).parquet(events_dir),
        gap="10 minutes",
    ).select("user_id", "session_start", F.col("n_events"))
    cols = ["user_id", "session_start", "n_events"]
    assert _sorted_rows(got, cols) == _sorted_rows(expected, cols)


def test_dedup_stream_drops_duplicate_keys(spark, events_dir):
    base = spark.read.schema(TPCH_SCHEMAS["events"]).parquet(events_dir)
    stream = SP.dedup_stream(SP.stream_events(spark, events_dir))
    got = SP.run_to_memory(stream, "t_dedup", output_mode="append")
    assert got.count() == base.select("event_id").distinct().count()


def test_running_totals_stateful_matches_batch(spark, events_dir):
    stream = SP.running_totals_stateful(SP.stream_events(spark, events_dir))
    got = SP.run_to_memory(stream, "t_totals", output_mode="update")
    # AvailableNow over one landing dir = one micro-batch → one row per key.
    # Fixed-point state: the batch twin quantizes per row exactly like
    # the operator, so the comparison is EXACT equality, not approx.
    q = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
    expected = (
        spark.read.schema(TPCH_SCHEMAS["events"])
        .parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.round(F.sum(q) / 1e6, 6).alias("total_value"),
            F.count(F.lit(1)).alias("n_seen"),
        )
    )
    g = {r["user_id"]: r for r in got.collect()}
    e = {r["user_id"]: r for r in expected.collect()}
    assert set(g) == set(e)
    for uid, row in e.items():
        assert g[uid]["total_value"] == row["total_value"]
        assert g[uid]["n_seen"] == row["n_seen"]


def test_memory_drains_leave_no_catalog_entry(spark, sf_dir):
    """A registered memory-sink drain returns its rows and drops its temp
    view: repeated calls must not pile ``reg_*`` tables, each holding its
    whole result on the driver, into the session catalog."""
    from etl_drone_sense_spark.plans.extensions import (
        stream_session_counts,
        stream_tumbling_counts,
    )

    runs = [stream_session_counts(spark, sf_dir) for _ in range(3)]
    tumbling = stream_tumbling_counts(spark, sf_dir)
    names = [t.name for t in spark.catalog.listTables()]
    assert not [n for n in names if n.startswith("reg_")], names
    rows = [sorted(df.collect()) for df in runs]
    assert rows[0] and rows[0] == rows[1] == rows[2]
    assert tumbling.count() > 0


def test_stream_drone_features_matches_batch(spark, sf_dir, tmp_path):
    """A1/A2/A3-A17 as a streaming job over a JSON landing dir (the
    scheduled-ingest parity path, reference task.ts:87)."""
    landing = str(tmp_path / "landing")
    drones = synth_drones(spark, sf_dir)
    drones.write.mode("overwrite").json(landing)

    stream = SP.stream_drone_features(spark, landing)
    got = SP.run_to_memory(stream, "t_drone_feats", output_mode="append")

    expected = drone_features(
        spark.read.schema(DRONE_LOCATION_SCHEMA).json(landing)
    )
    assert got.count() == expected.count() > 0
    cols = ["id", "properties.callsign", "properties.video.url"]
    assert _sorted_rows(got, cols) == _sorted_rows(expected, cols)


def test_stream_drone_landing_follows_fixture_rewrite(spark, sf_dir, tmp_path):
    """The registered streaming twin's JSON landing is derived from
    customer.parquet: rewriting that fixture in the same process must
    re-land it, not replay the previous generation's drones."""
    import pyarrow.parquet as pq

    from etl_drone_sense_spark.plans.drone import stream_drone_features_flat

    customer = pq.read_table(f"{sf_dir}/customer.parquet")
    src = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    for n in (20, 35):
        pq.write_table(customer.slice(0, n), f"{src}/customer.parquet")
        assert stream_drone_features_flat(spark, src).count() == n


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark across two
    micro-batches (maxFilesPerTrigger=1): batch 2 delivers an event far
    older than the advanced watermark — its window must NOT appear, while
    the fresh event's window must. This is the eviction semantics the
    batch twin cannot express."""
    from datetime import datetime, timedelta

    landing = tmp_path / "late_landing"
    landing.mkdir()

    def write_file(name, rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage" / name))
        import shutil, glob

        part = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        shutil.copy(part, str(landing / f"{name}.parquet"))

    t0 = datetime(2026, 1, 1, 10, 0, 0)
    write_file("b1", [(1, t0, 1, "view", 1.0, "{}"),
                      (2, t0 + timedelta(minutes=30), 1, "view", 1.0, "{}")])
    write_file("b2", [(4, t0 + timedelta(minutes=45), 1, "view", 1.0, "{}")])
    # 2 hours older than the watermark established by b1/b2 (the watermark
    # needs one committed batch to propagate into the late-row filter)
    write_file("b3", [(5, t0 - timedelta(hours=2), 1, "view", 1.0, "{}"),
                      (6, t0 + timedelta(minutes=50), 1, "view", 1.0, "{}")])

    stream = (
        spark.readStream.schema(TPCH_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing))
    )
    windowed = SP.windowed_counts(stream, window="15 minutes", watermark="10 minutes")
    got = SP.run_to_memory(windowed, "t_late", output_mode="append")
    starts = sorted(r["window_start"] for r in got.collect())

    assert (t0 - timedelta(hours=2)) not in starts  # evicted: beyond watermark
    assert t0 in starts  # on-time window emitted


def test_foreachbatch_sink(spark, events_dir, tmp_path):
    """foreachBatch: arbitrary per-micro-batch sink logic (the idempotent
    merge/upsert extension point). Each batch lands as parquet keyed by
    batch id; the union of batches equals the input."""
    out = str(tmp_path / "fb_out")
    seen: list[int] = []

    def handle(batch_df, batch_id: int):
        seen.append(batch_id)
        batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    stream = SP.stream_events(spark, events_dir)
    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
        .start()
    )
    q.awaitTermination()
    assert seen, "at least one micro-batch must run"
    total = spark.read.parquet(*[f"{out}/batch={b}" for b in seen]).count()
    expected = spark.read.schema(TPCH_SCHEMAS["events"]).parquet(events_dir).count()
    assert total == expected


def test_watermark_eviction_replay_differs_from_batch(spark, sf_dir):
    """The two-batch bounded replay (stream_watermark_eviction) must show
    all three watermark effects against the no-watermark batch twin:
    tail windows evicted unemitted, late rows dropped from survivor
    windows, and nothing invented."""
    from datetime import timedelta

    from etl_drone_sense_spark.plans.extensions import (
        stream_watermark_eviction,
        window_tumbling_events,
    )

    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in stream_watermark_eviction(spark, sf_dir).collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in window_tumbling_events(spark, sf_dir).collect()
    }
    assert got, "replay emitted nothing"
    # Emitted set is a strict subset of batch groups (tail eviction).
    assert set(got) < set(batch)
    mx = max(ws for ws, _ in batch)
    assert all(ws <= mx - timedelta(minutes=30) for ws, _ in got)
    # Counts never exceed batch (late rows only ever drop)…
    assert all(n <= batch[k] for k, n in got.items())
    # …and at least one window really lost late rows.
    assert any(n < batch[k] for k, n in got.items())


def test_attribution_join_state_spans_micro_batches(spark, sf_dir, tmp_path):
    """Stream-stream interval join: views arrive in micro-batch 1, clicks
    only in micro-batch 2 — every attribution pair must still form, which
    proves the view side is held in keyed join state across batches (not
    just joined within one batch)."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.sources.readers import read_table
    from etl_drone_sense_spark.streaming import pipeline as SP

    ev = read_table(spark, sf_dir, "events")
    cdir, vdir = str(tmp_path / "clicks"), str(tmp_path / "views")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    expected = (
        ev.filter(F.col("event_type") == "click")
        .alias("c")
        .join(
            ev.filter(F.col("event_type") == "view").alias("v"),
            F.expr(
                "c.user_id = v.user_id AND v.ts <= c.ts "
                "AND c.ts < v.ts + interval 30 minutes"
            ),
        )
        .select(F.col("c.event_id").alias("click_id"), F.col("v.event_id").alias("view_id"))
    )
    exp = {(r.click_id, r.view_id) for r in expected.collect()}
    assert exp, "fixture produced no attribution pairs"

    def drain():
        SP.run_available_now(
            SP.attribution_join(
                SP.stream_events(spark, cdir), SP.stream_events(spark, vdir)
            ),
            ckpt,
            out,
        )

    # Batch 1: views only (clicks dir exists but is empty of clicks).
    ev.filter(F.col("event_type") == "view").coalesce(1).write.parquet(vdir)
    ev.filter(F.lit(False)).coalesce(1).write.parquet(cdir)
    drain()
    # Batch 2: the clicks arrive.
    ev.filter(F.col("event_type") == "click").coalesce(1).write.mode(
        "append"
    ).parquet(cdir)
    drain()

    got = {
        (r.click_id, r.view_id)
        for r in spark.read.parquet(out).collect()
    }
    assert got == exp


def test_tws_operator_gated_or_runs(spark, sf_dir):
    """transformWithStateInPandas twin: where a google.protobuf runtime
    exists or can be vendored (ensure_protobuf — in this container the
    Google Cloud SDK's pure-python runtime is wired into the streaming
    runner's path), the operator runs and must equal the batch aggregate;
    where none is available the gate must raise the actionable error
    instead of the opaque worker crash."""
    import pytest as _pytest

    from etl_drone_sense_spark.sources.readers import read_table
    from etl_drone_sense_spark.streaming import pipeline as SP

    events = read_table(spark, sf_dir, "events")
    if not SP.tws_available(spark):
        with _pytest.raises(RuntimeError, match="protobuf"):
            SP.running_totals_tws(events)
        return
    from etl_drone_sense_spark.plans.extensions import _events_landing

    with SP.scoped_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    ):
        landing = _events_landing(spark, sf_dir)
        stream = SP.running_totals_tws(SP.stream_events(spark, landing))
        got = {
            r.user_id: (r.total_value, r.n_seen)
            for r in SP.run_to_memory(stream, "tws", output_mode="update").collect()
        }
    from pyspark.sql import functions as F

    want = {
        r.user_id: (round(r.tq / 1e6, 6), r.n)
        for r in events.groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("long")).alias("tq"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want


def _interval_join_state_series(spark, base_dir, ev, n_chunks=6):
    """Drive attribution_join over ``ev`` split into time-ordered chunk
    files, one file per micro-batch per side (maxFilesPerTrigger=1), and
    return the state-store row count after each micro-batch."""
    import os

    from pyspark.sql.window import Window

    cdir, vdir = os.path.join(base_dir, "clicks"), os.path.join(base_dir, "views")
    ckpt, out = os.path.join(base_dir, "ckpt"), os.path.join(base_dir, "out")

    chunk = F.ntile(n_chunks).over(Window.orderBy("ts"))
    for side, d in (("click", cdir), ("view", vdir)):
        rows = ev.filter(F.col("event_type") == side).withColumn("_c", chunk)
        for i in range(1, n_chunks + 1):
            # sequential writes → mod-time order matches event-time order,
            # the append-only landing convention the watermark relies on
            rows.filter(F.col("_c") == i).drop("_c").coalesce(1).write.mode(
                "append"
            ).parquet(d)

    def src(d):
        return (
            spark.readStream.schema(TPCH_SCHEMAS["events"])
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )

    q = (
        SP.attribution_join(src(cdir), src(vdir))
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    series = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"] and p["numInputRows"] > 0
    ]
    return series


def test_interval_join_state_stays_watermark_bounded(spark, sf_dir, tmp_path):
    """VERDICT r5 item 6: the interval-join matrix is hash-correct, but
    correctness says nothing about STATE GROWTH — an unbounded join state
    is the classic streaming OOM at 100 TB. Pin that join state is
    watermark-bounded, at two event densities:

    * the per-batch state-row series PLATEAUS (the tail batch holds no
      more than peak × a slack factor, instead of accumulating the whole
      stream — eviction is actually happening);
    * peak state is a small fraction of total input rows (the 30-day
      fixture vs the 2h watermark + 30min interval horizon);
    * 10× the density ⇒ ~10× the peak state (state scales with the LIVE
      HORIZON's row count, never with stream length)."""
    ev1 = read_table(spark, sf_dir, "events")
    # 10×-densified twin: each event replicated with distinct event_ids,
    # identical (user_id, ts) profile — same horizon, 10× the rows in it.
    d = 10
    ev10 = (
        ev1.select(
            F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("_i"),
            *ev1.columns,
        )
        .withColumn("event_id", F.col("event_id") * d + F.col("_i"))
        .drop("_i")
    )

    peaks = {}
    for label, ev in (("x1", ev1), ("x10", ev10)):
        series = _interval_join_state_series(
            spark, str(tmp_path / label), ev
        )
        total = ev.filter(
            F.col("event_type").isin("click", "view")
        ).count()
        assert len(series) >= 3, f"{label}: need ≥3 stateful micro-batches"
        peak = max(series)
        assert series[-1] <= peak * 1.2, (
            f"{label}: state still growing at the tail: {series}"
        )
        assert peak < 0.5 * total, (
            f"{label}: peak state {peak} ~ stream size {total}; "
            f"watermark eviction not bounding state: {series}"
        )
        peaks[label] = peak
    ratio = peaks["x10"] / max(peaks["x1"], 1)
    assert 2 <= ratio <= 20, (
        f"state should scale ~linearly with density, got {peaks}"
    )


def test_tws_checkpoint_restart_invariance(spark, sf_dir, tmp_path):
    """Restart-invariance for the transformWithStateInPandas operator
    (r6 VERDICT item 7): drain HALF the events, STOP the query, land the
    other half, start a NEW query on the SAME checkpoint, drain. The
    resumed query's final per-user aggregates must equal the
    uninterrupted batch aggregate over all events — proving the named
    ValueState survives a driver restart through the RocksDB checkpoint
    (a state loss would surface as phase-2-only totals for every user
    present in both phases)."""
    import os

    from etl_drone_sense_spark.sources.readers import read_table
    from etl_drone_sense_spark.streaming import pipeline as SP

    if not SP.tws_available(spark):
        import pytest as _pytest

        _pytest.skip("no google.protobuf runtime for tws in this env")

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts"
    )
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(landing)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    def drain_once():
        stream = SP.running_totals_tws(
            spark.readStream.schema(
                "event_id long, user_id long, value double, ts timestamp"
            ).parquet(landing)
        )

        def sink(batch_df, batch_id):
            batch_df.withColumn("_bid", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    try:
        # phase 1: half the events, one drain, then the query is GONE
        events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        drain_once()
        # phase 2: the rest lands; a NEW query resumes the checkpoint
        events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        drain_once()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    emitted = spark.read.parquet(out)
    from pyspark.sql.window import Window

    last = (
        emitted.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("_bid").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("user_id", "total_value", "n_seen", "max_value")
    )
    got = {
        r.user_id: (r.total_value, r.n_seen, r.max_value)
        for r in last.collect()
    }
    want = {
        r.user_id: (round(r.tq / 1e6, 6), r.n, round(r.mq / 1e6, 6))
        for r in events.groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("long")).alias("tq"),
            F.count(F.lit(1)).alias("n"),
            F.max(F.floor(F.col("value") * 1e6 + 0.5).cast("long")).alias("mq"),
        )
        .collect()
    }
    assert got == want
    # the restart really was a second query: emitted rows span >1 batch id
    assert emitted.select("_bid").distinct().count() >= 2


def test_stream_scd2_apply_is_multi_batch_and_idempotent(spark, sf_dir):
    """The chop-invariance claim needs a REAL multi-batch run: the
    committed history table must carry >= 2 scd2_apply commits (one per
    drained chunk file — AvailableNow must not have coalesced them), and
    the final snapshot must carry the second chunk's txn watermark so a
    replayed batch would no-op."""
    from etl_drone_sense_spark.plans.curation import stream_scd2_apply
    from etl_drone_sense_spark.sources import table_commit as TC
    from etl_drone_sense_spark.sources.readers import _BUILT

    stream_scd2_apply(spark, sf_dir).collect()  # builds (or reuses) the table
    (root,) = [v for k, v in _BUILT.items() if k[:2] == ("sg_scd2_", sf_dir)]
    version = TC.current_version(root)
    ops = []
    for v in range(1, version + 1):
        ops.append(TC.read_snapshot(root, v).operation)
    assert ops.count("scd2_apply") >= 2, ops
    last = TC.read_snapshot(root, version)
    assert last.txn_map.get("stream_scd2") == 1, last.txn


def test_replay_drains_chunks_in_landing_order(spark, tmp_path):
    """streaming/pipeline.replay: micro-batch i carries chunk i, and the
    feed files carry strictly increasing mtimes at least 1 s apart, so
    the order holds on a filesystem with 1-second mtime granularity.
    Chunk keys DESCEND, so neither key nor content order can stand in
    for landing order."""
    import os

    chunks = [
        spark.range(30 - 10 * i, 33 - 10 * i).withColumnRenamed("id", "k")
        for i in range(4)
    ]
    seen = {}

    def apply_batch(bdf, batch_id: int) -> None:
        seen[batch_id] = sorted(r.k for r in bdf.collect())

    work = str(tmp_path / "work")
    SP.replay(chunks, work, apply_batch)
    assert seen == {i: [30 - 10 * i + j for j in range(3)] for i in range(4)}
    feed = os.path.join(work, "feed")
    mtimes = sorted(
        os.stat(os.path.join(feed, f)).st_mtime
        for f in os.listdir(feed)
        if f.endswith(".parquet")
    )
    assert len(mtimes) == 4
    assert all(b - a >= 1 for a, b in zip(mtimes, mtimes[1:])), mtimes


def test_registered_replays_land_feeds_in_content_order(spark, sf_dir):
    """The order-dependent folds replay their feed in mtime order, so
    sorting each registered build's feed files by mtime must give
    content order (stream_holt_trend and stream_scd2_apply: time
    chunks, each ending where the next begins; stream_merge_apply: the
    update batch before the insert/delete batch), with consecutive
    mtimes at least 1 s apart."""
    import glob
    import os

    from etl_drone_sense_spark.plans.curation import (
        stream_merge_apply,
        stream_scd2_apply,
    )
    from etl_drone_sense_spark.plans.extensions import stream_holt_trend
    from etl_drone_sense_spark.sources.readers import _BUILT

    def feed_by_mtime(query, prefix: str) -> list:
        query(spark, sf_dir)  # builds (or reuses) the committed table
        (root,) = [v for k, v in _BUILT.items() if k[:2] == (prefix, sf_dir)]
        feed = os.path.join(os.path.dirname(root), "feed")
        files = sorted(
            (os.stat(p).st_mtime, p) for p in glob.glob(f"{feed}/*.parquet")
        )
        mtimes = [m for m, _ in files]
        assert all(b - a >= 1 for a, b in zip(mtimes, mtimes[1:])), mtimes
        return [spark.read.parquet(p) for _, p in files]

    for query, prefix, n in (
        (stream_holt_trend, "sg_holt_", 4),
        (stream_scd2_apply, "sg_scd2_", 2),
    ):
        spans = [
            tuple(f.agg(F.min("ts"), F.max("ts")).first())
            for f in feed_by_mtime(query, prefix)
        ]
        assert len(spans) == n, spans
        assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:])), spans
    ops = [
        {r.op for r in f.select("op").distinct().collect()}
        for f in feed_by_mtime(stream_merge_apply, "sg_smerge_")
    ]
    assert ops == [{"U"}, {"I", "D"}], ops


def test_minhash_index_stream_chop_invariance(spark, sf_dir, tmp_path):
    """r13 (stream_minhash_index): the committed LSH index must be
    IDENTICAL however the document feed is chopped into micro-batches —
    band signatures are a per-doc pure map, so per-batch hashing ∪
    append = the one-shot batch build, row for row. Builds the index
    through the real foreachBatch+commit machinery with a 2-chop and a
    3-chop of the same 60 docs and compares against the direct batch
    operator output."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.operators import dedup as D
    from etl_drone_sense_spark.plans.extensions import (
        MH_BANDS,
        MH_K,
        SHINGLE_N,
    )
    from etl_drone_sense_spark.sources import table_commit as TC
    from etl_drone_sense_spark.sources.readers import read_table

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )

    def build(nchop: int, tag: str) -> list:
        root = str(tmp_path / f"tbl_{tag}")
        TC.commit(
            spark.createDataFrame(
                [], "doc_id bigint, band_idx int, bucket string"
            ),
            root,
        )

        def apply_batch(bdf, batch_id: int) -> None:
            idx = D.minhash_index(
                bdf, "doc_id", "text", k=MH_K, bands=MH_BANDS,
                shingle_n=SHINGLE_N,
            ).select("doc_id", "band_idx", "bucket")
            TC.commit(
                idx, root, mode="append",
                _operation="minhash_index_append",
                txn=(f"chop_{tag}", batch_id),
            )

        SP.replay(
            [docs.filter(F.col("doc_id") % nchop == i) for i in range(nchop)],
            str(tmp_path / f"work_{tag}"),
            apply_batch,
        )
        return sorted(
            (r["doc_id"], r["band_idx"], r["bucket"])
            for r in TC.read_table(spark, root).collect()
        )

    two = build(2, "two")
    three = build(3, "three")
    batch = sorted(
        (r["doc_id"], r["band_idx"], r["bucket"])
        for r in D.minhash_index(
            docs, "doc_id", "text", k=MH_K, bands=MH_BANDS,
            shingle_n=SHINGLE_N,
        )
        .select("doc_id", "band_idx", "bucket")
        .collect()
    )
    assert two == three == batch
    assert len(batch) == 60 * MH_BANDS


def test_ivf_index_stream_chop_invariance(spark, sf_dir, tmp_path):
    """r15 (stream_ivf_index): the committed IVF index must be IDENTICAL
    however the embedding feed is chopped into micro-batches — frozen-
    codebook assignment is a per-vector pure map, so per-batch assign ∪
    append = the one-shot batch build, row for row. Builds the index
    through the real foreachBatch+commit machinery with a 2-chop and a
    3-chop of the same 60 vectors and compares against the direct batch
    operator output."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.operators.similarity import assign_cells
    from etl_drone_sense_spark.plans._frozen_codebook import FROZEN_CENTROIDS
    from etl_drone_sense_spark.sources import table_commit as TC
    from etl_drone_sense_spark.sources.readers import read_table

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 60)
    )
    cents = spark.createDataFrame(
        list(FROZEN_CENTROIDS), "cell_id int, embedding array<double>"
    )

    def build(nchop: int, tag: str) -> list:
        root = str(tmp_path / f"ivf_tbl_{tag}")
        TC.commit(
            spark.createDataFrame([], "vec_id bigint, cell_id int"), root
        )

        def apply_batch(bdf, batch_id: int) -> None:
            idx = assign_cells(bdf, cents).select("vec_id", "cell_id")
            TC.commit(
                idx, root, mode="append",
                _operation="ivf_index_append",
                txn=(f"ivfchop_{tag}", batch_id),
            )

        SP.replay(
            [emb.filter(F.col("vec_id") % nchop == i) for i in range(nchop)],
            str(tmp_path / f"ivf_work_{tag}"),
            apply_batch,
        )
        return sorted(
            (r["vec_id"], r["cell_id"])
            for r in TC.read_table(spark, root).collect()
        )

    two = build(2, "two")
    three = build(3, "three")
    batch = sorted(
        (r["vec_id"], r["cell_id"])
        for r in assign_cells(emb, cents)
        .select("vec_id", "cell_id")
        .collect()
    )
    assert two == three == batch
    assert len(batch) == 60


def test_ivf_index_stream_is_multi_batch_and_idempotent(spark, sf_dir):
    """The registry query's committed table must carry one append per
    drained chunk (4 — AvailableNow must not have coalesced them) and
    the final snapshot's txn watermark makes any replayed batch a
    no-op."""
    from etl_drone_sense_spark.plans.extensions import stream_ivf_index
    from etl_drone_sense_spark.sources import table_commit as TC
    from etl_drone_sense_spark.sources.readers import _BUILT

    stream_ivf_index(spark, sf_dir).collect()
    (root,) = [v for k, v in _BUILT.items() if k[:2] == ("sg_ivfidx_", sf_dir)]
    version = TC.current_version(root)
    ops = [
        TC.read_snapshot(root, v).operation for v in range(1, version + 1)
    ]
    assert ops.count("ivf_index_append") == 4, ops
    last = TC.read_snapshot(root, version)
    assert last.txn_map.get("stream_ivf") == 3, last.txn


def test_graph_index_stream_chop_invariance(spark, sf_dir, tmp_path):
    """r15 (stream_graph_index): the maintained kNN graph must be
    IDENTICAL however the embedding feed is chopped — candidate
    generation is symmetric in insertion order (each pair examined
    exactly once, forward or reverse, when its later member inserts)
    and batch-local top-k trims never drop a global top-k edge, so
    incremental insert ∪ read-time trim = the batch-built graph row
    for row. Runs 2-chop and 3-chop through the real
    foreachBatch+commit machinery and compares against the direct
    batch build."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_drone_sense_spark.functions import vectors as V
    from etl_drone_sense_spark.operators.similarity import sign_band_relation
    from etl_drone_sense_spark.plans.extensions import (
        _HP_BANDS,
        _HP_PLANES,
        GR_KNN,
    )
    from etl_drone_sense_spark.sources import table_commit as TC
    from etl_drone_sense_spark.sources.readers import read_table

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 60)
    )

    def build(nchop: int, tag: str) -> list:
        e_root = str(tmp_path / f"g_edges_{tag}")
        s_root = str(tmp_path / f"g_sig_{tag}")
        v_root = str(tmp_path / f"g_vec_{tag}")
        TC.commit(
            spark.createDataFrame([], "src bigint, dst bigint, d2 bigint"),
            e_root,
        )
        TC.commit(
            spark.createDataFrame(
                [], "vec_id bigint, band_idx int, band_val string"
            ),
            s_root,
        )
        TC.commit(
            spark.createDataFrame([], "vec_id bigint, qv array<bigint>"),
            v_root,
        )

        def apply_batch(bdf, batch_id: int) -> None:
            sp = bdf.sparkSession
            qz_b = bdf.select(
                "vec_id", V.quantize_fixed(F.col("embedding")).alias("qv")
            ).localCheckpoint(eager=True)
            sig_b = (
                sign_band_relation(bdf, _HP_PLANES, _HP_BANDS)
                .select("vec_id", "band_idx", "band_val")
                .localCheckpoint(eager=True)
            )
            all_sig = TC.read_table(sp, s_root).unionByName(sig_b)
            all_vec = TC.read_table(sp, v_root).unionByName(qz_b)
            n, o = sig_b.alias("n"), all_sig.alias("o")
            pairs = (
                n.join(
                    o,
                    on=[
                        F.col("n.band_idx") == F.col("o.band_idx"),
                        F.col("n.band_val") == F.col("o.band_val"),
                        F.col("n.vec_id") != F.col("o.vec_id"),
                    ],
                )
                .select(
                    F.col("n.vec_id").alias("a"), F.col("o.vec_id").alias("b")
                )
                .distinct()
            )
            both = (
                pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                .unionByName(
                    pairs.select(
                        F.col("b").alias("src"), F.col("a").alias("dst")
                    )
                )
                .distinct()
            )
            s_v, d_v = all_vec.alias("s"), all_vec.alias("d")
            w = Window.partitionBy("src").orderBy("d2", "dst")
            ed = (
                both.join(s_v, F.col("src") == F.col("s.vec_id"))
                .join(d_v, F.col("dst") == F.col("d.vec_id"))
                .select(
                    "src", "dst",
                    V.l2sq_int(F.col("s.qv"), F.col("d.qv")).alias("d2"),
                )
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= GR_KNN)
                .select("src", "dst", "d2")
            )
            TC.commit(ed, e_root, mode="append", txn=(f"gc_{tag}_e", batch_id))
            TC.commit(sig_b, s_root, mode="append", txn=(f"gc_{tag}_s", batch_id))
            TC.commit(qz_b, v_root, mode="append", txn=(f"gc_{tag}_v", batch_id))

        SP.replay(
            [emb.filter(F.col("vec_id") % nchop == i) for i in range(nchop)],
            str(tmp_path / f"g_work_{tag}"),
            apply_batch,
        )
        w_final = Window.partitionBy("src").orderBy("d2", "dst")
        return sorted(
            (r["src"], r["rn"], r["dst"], r["d2"])
            for r in TC.read_table(spark, e_root)
            .withColumn("rn", F.row_number().over(w_final))
            .filter(F.col("rn") <= GR_KNN)
            .collect()
        )

    two = build(2, "two")
    three = build(3, "three")

    # direct batch build over the same 60 vectors
    qz = emb.select(
        "vec_id", V.quantize_fixed(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=True)
    sig = sign_band_relation(emb, _HP_PLANES, _HP_BANDS).select(
        "vec_id", "band_idx", "band_val"
    )
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.vec_id") != F.col("b.vec_id"),
            ],
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
        .distinct()
    )
    s_v, d_v = qz.alias("s"), qz.alias("d")
    w = Window.partitionBy("src").orderBy("d2", "dst")
    batch = sorted(
        (r["src"], r["rn"], r["dst"], r["d2"])
        for r in cand.join(s_v, F.col("src") == F.col("s.vec_id"))
        .join(d_v, F.col("dst") == F.col("d.vec_id"))
        .select(
            "src", "dst",
            V.l2sq_int(F.col("s.qv"), F.col("d.qv")).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= GR_KNN)
        .collect()
    )
    assert two == three == batch
    assert len(batch) > 0


def test_stream_migrate_chop_invariance(spark, sf_dir, tmp_path):
    """r16 (stream_migrate_apply): a layout migration interleaved with
    live streaming appends must leave the table row-identical however
    the append feed is chopped — and identical to the plain BATCH
    migration over the same corpus — with no coarse-epoch file left in
    the current manifest either way."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.sources import table_commit as TC
    from etl_drone_sense_spark.sources.readers import read_table

    base = (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.month("o_orderdate").cast("int").alias("o_month"),
            "o_orderstatus",
            "o_totalprice",
        )
        .filter(F.col("o_orderkey") < 800)
    )

    def build(nchop: int, tag: str) -> tuple[list, list]:
        root = str(tmp_path / f"smig_tbl_{tag}")
        TC.commit(
            base.filter(F.col("o_orderkey") % (nchop + 1) == 0)
            .repartitionByRange(4, "o_month"),
            root,
            stats_cols=["o_month"],
        )
        mig_at = nchop // 2

        def apply_batch(bdf, batch_id: int) -> None:
            sp = bdf.sparkSession
            TC.commit(
                bdf.repartitionByRange(4, "o_month", "o_orderstatus"),
                root, mode="append", _operation="stream-append",
                stats_cols=["o_month", "o_orderstatus"],
                txn=(f"smig_{tag}", batch_id),
            )
            if batch_id == mig_at:
                old = [
                    f for f in TC.read_snapshot(root).files
                    if "/v00000001-" in f
                ]
                if old:
                    TC.migrate_layout(
                        sp, root, ["o_month", "o_orderstatus"], 12,
                        files=old,
                        stats_cols=["o_month", "o_orderstatus"],
                    )

        SP.replay(
            [
                base.filter(F.col("o_orderkey") % (nchop + 1) == i + 1)
                for i in range(nchop)
            ],
            str(tmp_path / f"smig_work_{tag}"),
            apply_batch,
        )
        snap = TC.read_snapshot(root)
        rows = sorted(
            tuple(r) for r in TC.read_table(spark, root).collect()
        )
        return rows, [f for f in snap.files if "/v00000001-" in f]

    two, left2 = build(2, "two")
    three, left3 = build(3, "three")

    # The batch reference: same corpus, one append, then migrate.
    broot = str(tmp_path / "smig_tbl_batch")
    TC.commit(
        base.filter(F.col("o_orderkey") % 3 == 0)
        .repartitionByRange(4, "o_month"),
        broot,
        stats_cols=["o_month"],
    )
    TC.commit(
        base.filter(F.col("o_orderkey") % 3 != 0)
        .repartitionByRange(4, "o_month", "o_orderstatus"),
        broot, mode="append", stats_cols=["o_month", "o_orderstatus"],
    )
    old = [f for f in TC.read_snapshot(broot).files if "/v00000001-" in f]
    TC.migrate_layout(
        spark, broot, ["o_month", "o_orderstatus"], 12, files=old,
        stats_cols=["o_month", "o_orderstatus"],
    )
    batch = sorted(
        tuple(r) for r in TC.read_table(spark, broot).collect()
    )

    # NOTE: the three builds seed different epoch-1 subsets (mod nchop+1
    # vs mod 3), but the UNION is the same corpus — rows must agree.
    assert two == three == batch and len(batch) > 0
    assert left2 == [] and left3 == []


def test_stream_migrate_apply_is_mid_stream_and_idempotent(spark, sf_dir):
    """The registry query's table history must show the migration
    landing BETWEEN streaming appends (not before or after the
    stream), the txn watermark at the last batch, and no coarse-epoch
    file left — so a replayed migration step finds nothing to rewrite
    and skips (idempotent alongside the replayed append's txn no-op)."""
    from etl_drone_sense_spark.plans.curation import stream_migrate_apply
    from etl_drone_sense_spark.sources import table_commit as TC
    from etl_drone_sense_spark.sources.readers import _BUILT

    stream_migrate_apply(spark, sf_dir).collect()
    (root,) = [v for k, v in _BUILT.items() if k[:2] == ("sg_smig_", sf_dir)]
    version = TC.current_version(root)
    ops = [
        TC.read_snapshot(root, v).operation for v in range(1, version + 1)
    ]
    assert ops.count("stream-append") == 3, ops
    assert ops.count("migrate-layout") == 1, ops
    mig = ops.index("migrate-layout")
    appends = [i for i, o in enumerate(ops) if o == "stream-append"]
    assert appends[0] < mig < appends[-1], ops  # genuinely mid-stream
    snap = TC.read_snapshot(root, version)
    assert snap.txn_map.get("stream_mig") == 2
    assert not [f for f in snap.files if "/v00000001-" in f]


def test_signlsh_index_stream_chop_invariance(spark, sf_dir, tmp_path):
    """r16 (stream_signlsh_index): the committed band index must be
    IDENTICAL however the embedding feed is chopped — the sign sketch
    is a pure per-vector map, so per-batch sign ∪ append = the one-shot
    batch relation row for row. 2-chop vs 3-chop vs the direct batch
    sign_band_relation over the same 60 vectors."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.operators.similarity import sign_band_relation
    from etl_drone_sense_spark.plans.extensions import _HP_BANDS, _HP_PLANES
    from etl_drone_sense_spark.sources import table_commit as TC
    from etl_drone_sense_spark.sources.readers import read_table

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .filter(F.col("vec_id") < 60)
    )

    def build(nchop: int, tag: str) -> list:
        root = str(tmp_path / f"slsh_tbl_{tag}")
        TC.commit(
            spark.createDataFrame(
                [], "vec_id bigint, band_idx int, band_val string"
            ),
            root,
        )

        def apply_batch(bdf, batch_id: int) -> None:
            bands = (
                sign_band_relation(bdf, _HP_PLANES, _HP_BANDS)
                .select("vec_id", "band_idx", "band_val")
                .localCheckpoint(eager=True)
            )
            TC.commit(
                bands, root, mode="append",
                _operation="signlsh_index_append",
                txn=(f"slshchop_{tag}", batch_id),
            )

        SP.replay(
            [emb.filter(F.col("vec_id") % nchop == i) for i in range(nchop)],
            str(tmp_path / f"slsh_work_{tag}"),
            apply_batch,
        )
        return sorted(
            tuple(r) for r in TC.read_table(spark, root).collect()
        )

    two = build(2, "two")
    three = build(3, "three")
    batch = sorted(
        tuple(r)
        for r in sign_band_relation(emb, _HP_PLANES, _HP_BANDS)
        .select("vec_id", "band_idx", "band_val")
        .collect()
    )
    assert two == three == batch
    assert len(batch) == 60 * _HP_BANDS
