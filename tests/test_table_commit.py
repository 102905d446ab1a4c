"""Manifest-pointer table commit (sources/table_commit.py): atomicity is
proven by injecting a crash into every window of the commit protocol and
asserting the table stays readable and exactly-old-or-exactly-new."""

import os

import pytest

from etl_drone_sense_spark.sources import table_commit as tc
from etl_drone_sense_spark.sources.readers import read_table, scratch_dir


@pytest.fixture
def nation(spark, sf_dir):
    return read_table(spark, sf_dir, "nation")


@pytest.fixture
def region(spark, sf_dir):
    return read_table(spark, sf_dir, "region")


def _rows(spark, root, version=None):
    return sorted(
        (tuple(r) for r in tc.read_table(spark, root, version).collect()),
        key=repr,
    )


def test_commit_roundtrip_and_append(spark, tmp_path, nation, region):
    root = str(tmp_path / "tbl")
    s1 = tc.commit(nation.limit(10), root)
    assert s1.version == 1 and s1.parent is None
    assert len(_rows(spark, root)) == 10

    s2 = tc.commit(nation.limit(25), root, mode="overwrite")
    assert s2.version == 2 and s2.parent == 1
    assert len(_rows(spark, root)) == 25
    # Time travel: v1 still reads its own 10 rows.
    assert len(_rows(spark, root, version=1)) == 10

    s3 = tc.commit(nation.limit(25), root, mode="append")
    assert set(s2.files) < set(s3.files)
    assert len(_rows(spark, root)) == 50


def test_crash_after_data_write_leaves_table_untouched(
    spark, tmp_path, nation, region, monkeypatch
):
    """Crash window 1: data prefix written, manifest not. The stray prefix
    must be invisible to readers (reads go by file list, never listing)."""
    root = str(tmp_path / "tbl")
    tc.commit(region, root)
    before = _rows(spark, root)

    real = tc._list_parquet

    def boom(*a, **k):
        raise RuntimeError("crash after data write")

    monkeypatch.setattr(tc, "_list_parquet", boom)
    with pytest.raises(RuntimeError, match="crash after data write"):
        tc.commit(nation, root)
    monkeypatch.setattr(tc, "_list_parquet", real)

    assert tc.current_version(root) == 1
    assert _rows(spark, root) == before
    # And the table keeps accepting commits afterwards.
    s = tc.commit(nation.limit(5), root, mode="append")
    assert s.version == 2
    assert len(_rows(spark, root)) == len(before) + 5


def test_crash_between_commit_and_publish(
    spark, tmp_path, nation, region, monkeypatch
):
    """Crash window 2: manifest created (COMMITTED), pointer not swapped —
    readers keep seeing the published old version; the next commit adopts
    the orphaned version as its parent and publishes both."""
    root = str(tmp_path / "tbl")
    tc.commit(region, root)
    before = _rows(spark, root)

    def boom(*a, **k):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(tc, "_swap_pointer", boom)
    with pytest.raises(RuntimeError, match="crash before publish"):
        tc.commit(nation, root)
    monkeypatch.undo()

    # v2 is durable history but unpublished: readers still see v1.
    assert tc.current_version(root) == 1
    assert _rows(spark, root) == before
    # Recovery: the next commit builds on the orphan, not on v1.
    s = tc.commit(nation.limit(7), root)
    assert s.version == 3 and s.parent == 2
    assert tc.current_version(root) == 3
    assert len(_rows(spark, root)) == 7
    assert len(_rows(spark, root, version=2)) == nation.count()


def test_crash_during_swap_tmp_file_is_harmless(spark, tmp_path, region, monkeypatch):
    """Crash window 3: pointer tmp file written, os.replace never ran —
    readers still resolve the old pointer; the tmp is inert junk."""
    root = str(tmp_path / "tbl")
    tc.commit(region, root)

    real_replace = os.replace

    def boom(src, dst):
        if os.path.basename(dst) == tc.MANIFEST_POINTER:
            raise RuntimeError("crash mid-swap")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(RuntimeError, match="crash mid-swap"):
        tc.commit(region.limit(1), root)
    monkeypatch.undo()

    assert tc.current_version(root) == 1
    assert len(_rows(spark, root)) == region.count()


def test_concurrent_commit_detected_and_aborted(spark, tmp_path, nation, region):
    """Optimistic concurrency: the loser of the manifest PUT-if-absent race
    must raise and remove only its own artifacts — the winner's commit is
    untouched."""
    root = str(tmp_path / "tbl")
    tc.commit(region, root)

    real_list = tc._list_parquet
    calls = {"n": 0}

    def racing_list(prefix_abs, r):
        if calls["n"] == 0:
            calls["n"] += 1
            # Another writer lands v2 between our parent read and commit.
            tc.commit(nation.limit(3), root)
        return real_list(prefix_abs, r)

    tc._list_parquet, saved = racing_list, tc._list_parquet
    try:
        with pytest.raises(tc.ConcurrentCommitError):
            tc.commit(nation.limit(9), root)
    finally:
        tc._list_parquet = saved

    # The racer's commit won and is intact; the loser left nothing behind.
    assert tc.current_version(root) == 2
    assert len(_rows(spark, root)) == 3
    assert not os.path.exists(tc._snapshot_path(root, 3))
    live = set(tc.read_snapshot(root, 1).files) | set(
        tc.read_snapshot(root, 2).files
    )
    on_disk = {
        os.path.relpath(os.path.join(dp, f), root)
        for dp, _, fs in os.walk(os.path.join(root, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == live


def test_compact_preserves_rows_and_old_snapshot(spark, tmp_path, nation):
    root = str(tmp_path / "tbl")
    tc.commit(nation.repartition(8), root)
    before = _rows(spark, root)
    assert len(tc.read_snapshot(root).files) == 8

    snap = tc.compact(spark, root)
    assert snap.operation == "compact" and snap.version == 2
    assert len(snap.files) == 1  # tiny table → one target-sized file
    assert _rows(spark, root) == before
    # Old 8-file snapshot still time-travel readable (no swap window).
    assert _rows(spark, root, version=1) == before


def test_vacuum_drops_only_unreferenced_files(spark, tmp_path, nation):
    root = str(tmp_path / "tbl")
    tc.commit(nation.limit(10).repartition(4), root)
    tc.commit(nation.limit(10), root, mode="append")  # v2 shares v1's files
    tc.compact(spark, root)  # v3 rewrites
    before = _rows(spark, root)

    removed = tc.vacuum(root, keep_last=2, min_age_seconds=0.0)  # keep v2+v3; v1 shares all with v2
    assert removed == []  # every v1 file is still referenced by v2
    with pytest.raises(FileNotFoundError):
        tc.read_snapshot(root, 1)  # manifest gone even though files live

    removed = tc.vacuum(root, keep_last=1, min_age_seconds=0.0)  # v2's files now unreferenced
    assert removed  # the 5 original data files die
    assert _rows(spark, root) == before
    with pytest.raises(FileNotFoundError):
        tc.read_snapshot(root, 2)


def test_vacuum_keeps_published_version_in_crash_window(
    spark, tmp_path, nation, region, monkeypatch
):
    """vacuum during the commit-but-unpublished window: the PUBLISHED
    version trails the newest committed one, and GC'ing it would leave
    MANIFEST.json dangling. Both the published and the newest-committed
    snapshots must survive vacuum(keep_last=1)."""
    root = str(tmp_path / "tbl")
    tc.commit(region, root)  # v1, published
    published = _rows(spark, root)

    monkeypatch.setattr(
        tc, "_swap_pointer", lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash before publish")
        )
    )
    with pytest.raises(RuntimeError, match="crash before publish"):
        tc.commit(nation, root)  # v2 committed, never published
    monkeypatch.undo()
    assert tc.current_version(root) == 1

    tc.vacuum(root, keep_last=1, min_age_seconds=0.0)
    # The published snapshot is still fully readable through the pointer...
    assert _rows(spark, root) == published
    # ...and the committed orphan survives too (durable history).
    assert len(_rows(spark, root, version=2)) == nation.count()


def test_stats_pruned_scan(spark, sf_dir, tmp_path):
    """Manifest-level file skipping: a range-laid-out table committed with
    stats opens only the overlapping files for a range predicate, and the
    pruned scan equals the unpruned scan + filter exactly."""
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = str(tmp_path / "tbl")
    laid_out = orders.repartitionByRange(8, "o_custkey").sortWithinPartitions(
        "o_custkey"
    )
    snap = tc.commit(laid_out, root, stats_cols=["o_custkey"])
    assert len(snap.files) == 8
    assert all("o_custkey" in s for s in snap.stats_map.values())

    lo, hi = 40, 60
    pruned = tc.read_table_pruned(spark, root, "o_custkey", lo, hi)
    full = tc.read_table(spark, root).filter(F.col("o_custkey").between(lo, hi))
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    n_open = tc.pruned_file_count(root, "o_custkey", lo, hi)
    assert n_open < 8  # the skip is real
    # A column committed WITHOUT stats never prunes (safe fallback).
    assert tc.pruned_file_count(root, "o_totalprice", 0.0, 1.0) == 8


def test_stats_carry_forward_on_append(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    root = str(tmp_path / "tbl")
    tc.commit(
        orders.filter(F.col("o_custkey") < 50).coalesce(1),
        root,
        stats_cols=["o_custkey"],
    )
    snap = tc.commit(
        orders.filter(F.col("o_custkey") >= 100).coalesce(1),
        root,
        mode="append",
        stats_cols=["o_custkey"],
    )
    assert len(snap.files) == 2 and len(snap.stats_map) == 2
    # The [50, 99] gap between the two committed files prunes everything.
    assert tc.pruned_file_count(root, "o_custkey", 60, 90) == 0
    assert tc.read_table_pruned(spark, root, "o_custkey", 60, 90).count() == 0
    assert tc.pruned_file_count(root, "o_custkey", 0, 200) == 2


def test_schema_evolution_append_reads_with_merge(spark, tmp_path, nation):
    """An append that ADDS a column must read as one relation with
    merge_schema=True (old rows NULL for the new column), and time travel
    to the pre-evolution snapshot still sees the old schema."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    tc.commit(nation.limit(5), root)
    evolved = nation.limit(3).withColumn("population", F.lit(7).cast("long"))
    tc.commit(evolved, root, mode="append")

    merged = tc.read_table(spark, root, merge_schema=True)
    assert "population" in merged.columns
    rows = merged.collect()
    assert len(rows) == 8
    assert sum(1 for r in rows if r.population is None) == 5
    assert "population" not in tc.read_table(spark, root, version=1).columns


def test_statless_manifest_reads_fine(spark, tmp_path, nation):
    """Snapshots committed without stats (including every pre-stats
    manifest) keep reading and never prune."""
    root = str(tmp_path / "tbl")
    tc.commit(nation, root)
    snap = tc.read_snapshot(root)
    assert snap.stats == ()
    n = tc.read_table_pruned(
        spark, root, "n_nationkey", 0, 5
    ).count()
    assert n == len([r for r in nation.collect() if 0 <= r.n_nationkey <= 5])


def test_txn_commit_is_idempotent(spark, tmp_path, nation):
    """A retried (app, batch) commit must be a no-op: same version, same
    files, no duplicate rows — at-least-once delivery becomes exactly-once
    table contents."""
    root = str(tmp_path / "tbl")
    s1 = tc.commit(nation.limit(5), root, mode="append", txn=("app", 0))
    s2 = tc.commit(nation.limit(5), root, mode="append", txn=("app", 0))  # retry
    assert s2.version == s1.version and s2.files == s1.files
    assert len(_rows(spark, root)) == 5

    s3 = tc.commit(nation.limit(5), root, mode="append", txn=("app", 1))
    assert s3.version == 2 and s3.txn_map == {"app": 1}
    assert len(_rows(spark, root)) == 10
    # A different app's counter is independent.
    s4 = tc.commit(nation.limit(5), root, mode="append", txn=("other", 0))
    assert s4.txn_map == {"app": 1, "other": 0}
    assert len(_rows(spark, root)) == 15


def test_commit_stream_append_exactly_once(spark, sf_dir, tmp_path):
    """Streaming sink: two AvailableNow drains over one checkpoint append
    each landed file exactly once; re-running with NO new data commits
    nothing new."""
    from etl_drone_sense_spark.sources.readers import read_table

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "tbl")
    nation = read_table(spark, sf_dir, "nation")
    nation.limit(10).coalesce(1).write.parquet(landing)

    from pyspark.sql.types import StructType

    schema = spark.read.parquet(landing).schema

    def drain():
        tc.commit_stream_append(
            spark.readStream.schema(schema).parquet(landing), root, ckpt
        )

    drain()
    assert len(_rows(spark, root)) == 10
    v1 = tc.current_version(root)

    nation.limit(25).coalesce(1).write.mode("append").parquet(landing)
    drain()
    assert len(_rows(spark, root)) == 35

    drain()  # nothing new: no empty-batch version churn, rows unchanged
    assert len(_rows(spark, root)) == 35
    assert tc.current_version(root) >= v1


def test_vacuum_retention_window_protects_recent_snapshots(spark, tmp_path, nation):
    """r4 VERDICT item 8: vacuum must refuse to GC snapshots younger than
    the retention window, so a concurrent time-travel reader that just
    resolved a version never sees its files deleted mid-scan."""
    root = str(tmp_path / "tbl")
    tc.commit(nation.limit(10), root)                      # v1
    tc.commit(nation.limit(25), root, mode="overwrite")    # v2
    v1_rows = _rows(spark, root, version=1)

    # All manifests are seconds old: inside any sane window, GC refuses.
    assert tc.vacuum(root, keep_last=1) == []              # default 7-day window
    assert tc.vacuum(root, keep_last=1, min_age_seconds=3600) == []
    # The reader that resolved v1 before the vacuum attempt still works.
    assert _rows(spark, root, version=1) == v1_rows

    # Age v1's manifest artificially past a 1-hour window: now eligible.
    old = tc._snapshot_path(root, 1)
    past = os.path.getmtime(old) - 7200
    os.utime(old, (past, past))
    removed = tc.vacuum(root, keep_last=1, min_age_seconds=3600)
    assert removed  # v1's unshared files died
    with pytest.raises(FileNotFoundError):
        tc.read_snapshot(root, 1)
    assert len(_rows(spark, root)) == 25  # current version untouched


# ---------------------------------------------------------------------------
# Schema evolution: rename/drop via manifest field-ID mapping (r4 VERDICT #6)
# ---------------------------------------------------------------------------


def test_rename_column_roundtrip(spark, tmp_path, nation):
    """write -> rename -> commit more data under the new name: both the
    old and new snapshots read correctly, no data rewritten."""
    root = str(tmp_path / "tbl")
    tc.commit(nation.select("n_nationkey", "n_name"), root)          # v1
    files_v1 = tc.read_snapshot(root, 1).files
    tc.rename_column(root, "n_name", "nation_name")                   # v2
    assert tc.read_snapshot(root, 2).files == files_v1  # metadata-only

    # Current read serves the renamed column from the OLD physical files.
    cur = tc.read_table(spark, root)
    assert cur.columns == ["n_nationkey", "nation_name"]
    assert cur.count() == nation.count()
    # Time travel to v1 still reads under the old name.
    old = tc.read_table(spark, root, version=1)
    assert old.columns == ["n_nationkey", "n_name"]

    # Append under the NEW name: two physical epochs, one logical column.
    extra = nation.select(
        (nation.n_nationkey + 1000).alias("n_nationkey"),
        nation.n_name.alias("nation_name"),
    )
    tc.commit(extra, root, mode="append")                             # v3
    merged = tc.read_table(spark, root)
    assert merged.columns == ["n_nationkey", "nation_name"]
    assert merged.count() == 2 * nation.count()
    names = {r.nation_name for r in merged.collect()}
    assert len(names) == nation.count()  # same values through both epochs


def test_drop_column_and_fresh_id_on_readd(spark, tmp_path, nation):
    root = str(tmp_path / "tbl")
    tc.commit(nation.select("n_nationkey", "n_name", "n_regionkey"), root)  # v1
    tc.drop_column(root, "n_regionkey")                                      # v2
    cur = tc.read_table(spark, root)
    assert cur.columns == ["n_nationkey", "n_name"]
    # v1 still reads the dropped column (time travel is schema-versioned).
    assert "n_regionkey" in tc.read_table(spark, root, version=1).columns

    # Re-adding the name via append mints a FRESH field id: rows from the
    # old files must read NULL, never the orphaned bytes.
    readd = nation.select(
        (nation.n_nationkey + 1000).alias("n_nationkey"),
        nation.n_name.alias("n_name"),
        nation.n_regionkey.alias("n_regionkey"),
    )
    tc.commit(readd, root, mode="append")                                    # v3
    out = tc.read_table(spark, root)
    assert set(out.columns) == {"n_nationkey", "n_name", "n_regionkey"}
    old_rows = [r for r in out.collect() if r.n_nationkey < 1000]
    new_rows = [r for r in out.collect() if r.n_nationkey >= 1000]
    assert old_rows and all(r.n_regionkey is None for r in old_rows)
    assert new_rows and all(r.n_regionkey is not None for r in new_rows)


def test_pruned_read_survives_rename(spark, tmp_path, nation):
    """Manifest min/max stats recorded under the write-time physical name
    must keep pruning after the column is renamed."""
    root = str(tmp_path / "tbl")
    tc.commit(
        nation.repartition(4, "n_nationkey").sortWithinPartitions("n_nationkey"),
        root,
        stats_cols=["n_nationkey"],
    )
    tc.rename_column(root, "n_nationkey", "nation_key")
    total = len(tc.read_snapshot(root).files)
    pruned = tc.pruned_file_count(root, "nation_key", 0, 3)
    assert 0 < pruned < total  # stats still effective under the new name
    got = sorted(
        r.nation_key
        for r in tc.read_table_pruned(spark, root, "nation_key", 0, 3).collect()
    )
    assert got == [0, 1, 2, 3]


def test_rename_is_crash_safe_metadata_commit(spark, tmp_path, nation, monkeypatch):
    """A rename that dies before publish behaves like any commit crash:
    readers stay on the old version; the next commit adopts the orphan."""
    root = str(tmp_path / "tbl")
    tc.commit(nation.select("n_nationkey", "n_name"), root)  # v1
    monkeypatch.setattr(
        tc, "_swap_pointer", lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash before publish")
        )
    )
    with pytest.raises(RuntimeError, match="crash before publish"):
        tc.rename_column(root, "n_name", "nation_name")      # v2 unpublished
    monkeypatch.undo()
    assert tc.current_version(root) == 1
    assert tc.read_table(spark, root).columns == ["n_nationkey", "n_name"]
    # Next data commit adopts the unpublished rename as its parent (writing
    # under the renamed schema), and its publish makes both visible.
    tc.commit(
        nation.select("n_nationkey", nation.n_name.alias("nation_name")),
        root,
        mode="append",
    )
    assert tc.current_version(root) == 3
    assert tc.read_snapshot(root).parent == 2
    assert tc.read_table(spark, root).columns == ["n_nationkey", "nation_name"]


def test_rollback_restores_old_content_forward(spark, tmp_path, nation):
    """rollback republishes an old snapshot's content as a NEW version:
    pointer stays monotonic, bad versions stay time-travel-readable, and
    schema state (a rename after the target version) rolls back with it."""
    root = str(tmp_path / "tbl")
    tc.commit(nation.select("n_nationkey", "n_name"), root)       # v1 good
    good = _rows(spark, root)
    tc.commit(nation.limit(3).select("n_nationkey", "n_name"), root)  # v2 bad
    tc.rename_column(root, "n_name", "oops")                       # v3 bad

    snap = tc.rollback(root, 1)
    assert snap.version == 4 and snap.operation == "rollback"
    assert tc.current_version(root) == 4
    assert _rows(spark, root) == good
    assert tc.read_table(spark, root).columns == ["n_nationkey", "n_name"]
    # The bad intermediates are still readable history.
    assert len(_rows(spark, root, version=2)) == 3
    assert tc.read_table(spark, root, version=3).columns == ["n_nationkey", "oops"]
    # Rolling back to the current content is a no-op (no version churn).
    assert tc.rollback(root, 4).version == 4


def test_rollback_preserves_txn_watermarks(spark, tmp_path, nation):
    """A replayed streaming batch must stay a no-op AFTER a rollback —
    the txn map carries the CURRENT watermarks, not the old snapshot's."""
    root = str(tmp_path / "tbl")
    tc.commit(nation.limit(5), root)                               # v1
    tc.commit(nation.limit(3), root, mode="append", txn=("app", 7))  # v2
    tc.rollback(root, 1)                                           # v3
    assert len(_rows(spark, root)) == 5
    # Batch 7 re-delivered after rollback: still recognized as landed.
    snap = tc.commit(nation.limit(3), root, mode="append", txn=("app", 7))
    assert snap.version == 3  # idempotent no-op, no new version
    assert len(_rows(spark, root)) == 5


def test_commit_zordered_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """operators/layout.commit_zordered: the production z-order write.
    Files must cover small rectangles of the layout plane, so a manifest-
    stats pruned read on EITHER column opens a minority of files — a
    linear single-column sort cannot do that for the other column."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.operators.layout import commit_zordered

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01"))
        .cast("long")
        .alias("day"),
    )
    root = str(tmp_path / "tbl")
    snap = commit_zordered(spark, orders, root, ("o_custkey", "day"), n_files=16)
    assert len(snap.files) == 16
    total = len(snap.files)

    lo_c, hi_c = 0, orders.agg(F.max("o_custkey")).collect()[0][0] // 8
    lo_d, hi_d = 0, orders.agg(F.max("day")).collect()[0][0] // 8
    pruned_c = tc.pruned_file_count(root, "o_custkey", lo_c, hi_c)
    pruned_d = tc.pruned_file_count(root, "day", lo_d, hi_d)
    assert pruned_c < total / 2, (pruned_c, total)
    assert pruned_d < total / 2, (pruned_d, total)

    # Pruned read equals the unpruned filter (pruning never filters rows).
    got = tc.read_table_pruned(spark, root, "o_custkey", lo_c, hi_c)
    want = tc.read_table(spark, root).filter(F.col("o_custkey").between(lo_c, hi_c))
    assert sorted(r.o_orderkey for r in got.collect()) == sorted(
        r.o_orderkey for r in want.collect()
    )


def test_process_table_appends_incremental_feed(spark, tmp_path, nation):
    """Delta-streaming-source shape: each drain sees only files appended
    since its checkpoint; re-drains no-op; non-append history raises
    without ignore_changes."""
    root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "feed.ckpt")
    seen: list[tuple[int, int]] = []  # (version, rows)

    def handle(bdf, version):
        seen.append((version, bdf.count()))

    tc.commit(nation.limit(10), root)                              # v1
    assert tc.process_table_appends(spark, root, ckpt, handle) > 0
    assert seen == [(1, 10)]

    tc.commit(nation.limit(4), root, mode="append")                # v2
    tc.commit(nation.limit(6), root, mode="append")                # v3
    assert tc.process_table_appends(spark, root, ckpt, handle) > 0
    assert seen[-1] == (3, 10)  # both pending appends in ONE batch

    assert tc.process_table_appends(spark, root, ckpt, handle) == 0
    assert len(seen) == 2  # nothing new -> handler not invoked

    tc.compact(spark, root)                                        # v4 rewrite
    with pytest.raises(tc.NonAppendChangeError):
        tc.process_table_appends(spark, root, ckpt, handle)
    # Accepting re-delivery drains the rewritten files and advances.
    n = tc.process_table_appends(spark, root, ckpt, handle, ignore_changes=True)
    assert n == len(tc.read_snapshot(root).files)
    assert tc.process_table_appends(spark, root, ckpt, handle) == 0


def test_process_table_appends_exactly_once_with_txn_sink(spark, tmp_path, nation):
    """Crash between handle and checkpoint replays the batch; a txn-keyed
    sink commit makes the pipeline exactly-once anyway."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "feed.ckpt")

    def handle(bdf, version):
        tc.commit(bdf, sink, mode="append", txn=("feed", version))

    tc.commit(nation.limit(10), src)                               # v1
    tc.process_table_appends(spark, src, ckpt, handle)
    assert len(_rows(spark, sink)) == 10

    tc.commit(nation.limit(5), src, mode="append")                 # v2
    # Crash injection: handler runs (sink commits), checkpoint write dies.
    import os as _os

    real_replace = _os.replace

    def boom(a, b):
        if b == ckpt:
            raise RuntimeError("crash before checkpoint")
        return real_replace(a, b)

    _os.replace = boom
    try:
        with pytest.raises(RuntimeError, match="crash before checkpoint"):
            tc.process_table_appends(spark, src, ckpt, handle)
    finally:
        _os.replace = real_replace
    assert len(_rows(spark, sink)) == 15  # batch landed once

    # Replay after the crash: sink txn watermark makes it a no-op commit.
    v_before = tc.current_version(sink)
    tc.process_table_appends(spark, src, ckpt, handle)
    assert tc.current_version(sink) == v_before
    assert len(_rows(spark, sink)) == 15  # exactly once end-to-end


def test_metadata_commit_loses_race_cleanly(spark, tmp_path, nation):
    """A rename racing a data commit goes through the same PUT-if-absent
    CAS: the loser raises ConcurrentCommitError and the winner's version
    is untouched (metadata commits have no artifacts to clean up)."""
    root = str(tmp_path / "tbl")
    tc.commit(nation.select("n_nationkey", "n_name"), root)  # v1
    # Another writer lands v2 AFTER our stale parent read (v1): simulate
    # the window by pinning the parent probe, then creating v2 on disk.
    real_latest = tc._latest_committed_version
    tc._latest_committed_version = lambda r: 1
    try:
        with open(tc._snapshot_path(root, 2), "x", encoding="utf-8") as f:
            f.write(
                tc.read_snapshot(root, 1)
                .to_json()
                .replace('"version": 1', '"version": 2')
            )
        with pytest.raises(tc.ConcurrentCommitError):
            tc.rename_column(root, "n_name", "nation_name")
    finally:
        tc._latest_committed_version = real_latest
    # The racer's manifest is intact; the schema is unchanged.
    assert tc.read_snapshot(root, 2).version == 2
    assert tc.read_table(spark, root).columns == ["n_nationkey", "n_name"]


def test_pruned_read_across_mixed_stats_epochs(spark, sf_dir, tmp_path):
    """After a rename, appended files record stats under the NEW physical
    name while old files keep the OLD one — pruning must resolve each
    file's stats through its own write-time mapping, and prune BOTH
    epochs."""
    from pyspark.sql import functions as F

    nation = read_table(spark, sf_dir, "nation")
    root = str(tmp_path / "tbl")
    tc.commit(
        nation.select("n_nationkey", "n_name")
        .repartition(4, "n_nationkey")
        .sortWithinPartitions("n_nationkey"),
        root,
        stats_cols=["n_nationkey"],
    )
    tc.rename_column(root, "n_nationkey", "nation_key")
    extra = nation.select(
        (nation.n_nationkey + 100).alias("nation_key"),
        nation.n_name.alias("n_name"),
    )
    tc.commit(
        extra.repartition(4, "nation_key").sortWithinPartitions("nation_key"),
        root,
        mode="append",
        stats_cols=["nation_key"],
    )
    snap = tc.read_snapshot(root)
    assert len(snap.files) == 8
    # Predicate inside the OLD epoch's range only: every new-epoch file
    # (all keys >= 100) must be skipped, plus non-overlapping old files.
    pruned = tc.pruned_file_count(root, "nation_key", 0, 3)
    assert pruned <= 4, pruned
    got = sorted(
        r.nation_key
        for r in tc.read_table_pruned(spark, root, "nation_key", 0, 3).collect()
    )
    assert got == [0, 1, 2, 3]
    # And a predicate inside the NEW epoch's range skips the old epoch.
    pruned_new = tc.pruned_file_count(root, "nation_key", 110, 112)
    assert pruned_new <= 4, pruned_new
    got_new = sorted(
        r.nation_key
        for r in tc.read_table_pruned(spark, root, "nation_key", 110, 112).collect()
    )
    assert got_new == [110, 111, 112]


def test_bloom_probe_skips_files_and_matches_full_scan(spark, sf_dir, tmp_path):
    """Equality skipping where min/max can't help: orders hash-partitioned
    on o_orderkey (every file's [min,max] spans the whole key space), but
    the per-file blooms open ~1 file for a point lookup — and the probe
    equals the unpruned scan + filter exactly. A missing value opens zero
    files; a column without blooms never prunes."""
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = str(tmp_path / "tbl")
    snap = tc.commit(
        orders.repartition(8, "o_orderkey"), root, bloom_cols=["o_orderkey"]
    )
    assert len(snap.files) == 8
    # min/max stats would be useless on this layout — every file overlaps.
    key = orders.select(F.min("o_orderkey")).first()[0] + 7

    n_open = tc.bloom_pruned_file_count(root, "o_orderkey", key)
    assert 1 <= n_open < 8, f"bloom should skip most files, opened {n_open}"
    probe = tc.read_table_bloom_probe(spark, root, "o_orderkey", key)
    full = tc.read_table(spark, root).filter(F.col("o_orderkey") == key)
    assert sorted(map(tuple, probe.collect())) == sorted(map(tuple, full.collect()))

    # Value not in the table: definite exclusion, zero files opened.
    assert tc.bloom_pruned_file_count(root, "o_orderkey", -123456789) == 0
    assert tc.read_table_bloom_probe(spark, root, "o_orderkey", -123456789).count() == 0

    # No bloom committed for o_custkey → never prunes (safe fallback).
    assert tc.bloom_pruned_file_count(root, "o_custkey", 1) == 8


def test_bloom_carries_forward_on_append_and_rename(spark, tmp_path, nation):
    """Blooms are immutable per file like stats: an append adds blooms for
    the NEW files only and carries the parent's forward; after a column
    rename the probe resolves each file's write-time physical name, so
    skipping keeps working across epochs."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    lo = nation.filter(F.col("n_nationkey") < 10).repartition(2, "n_nationkey")
    hi = nation.filter(F.col("n_nationkey") >= 10).repartition(2, "n_nationkey")
    tc.commit(lo, root, bloom_cols=["n_nationkey"])
    snap = tc.commit(hi, root, mode="append", bloom_cols=["n_nationkey"])
    assert len(snap.blooms) == len(snap.files) == 4

    tc.rename_column(root, "n_nationkey", "nation_key")
    n_open = tc.bloom_pruned_file_count(root, "nation_key", 3)
    assert 1 <= n_open < 4
    got = tc.read_table_bloom_probe(spark, root, "nation_key", 3).collect()
    assert [r.nation_key for r in got] == [3]


def test_bloom_never_false_negative(spark, tmp_path, nation):
    """The invariant pruning correctness rests on: EVERY value committed
    into a bloom'd column must probe positive for the file that holds it
    (false positives cost a read; a false negative would silently drop
    rows). Checked exhaustively over all committed keys."""
    root = str(tmp_path / "tbl")
    tc.commit(
        nation.repartition(5, "n_nationkey"), root, bloom_cols=["n_nationkey"]
    )
    keys = [r.n_nationkey for r in nation.select("n_nationkey").collect()]
    full = {
        k: sorted(
            r.n_name
            for r in tc.read_table(spark, root)
            .filter(f"n_nationkey = {k}")
            .collect()
        )
        for k in keys
    }
    for k in keys:
        got = sorted(
            r.n_name
            for r in tc.read_table_bloom_probe(
                spark, root, "n_nationkey", k
            ).collect()
        )
        assert got == full[k], f"bloom probe lost rows for key {k}"


def test_bloom_roundtrip_membership_property(spark):
    """Encode/probe property over mixed-type values: every inserted value
    probes positive at any bitset size; int-valued floats collapse to
    their int form (a DOUBLE parquet column vs an int probe agree)."""
    import random

    rng = random.Random(7)
    values = (
        [rng.randint(-10**12, 10**12) for _ in range(300)]
        + [rng.random() * 1e6 for _ in range(100)]
        + [f"s{rng.randint(0, 10**9)}" for _ in range(100)]
    )
    for m in (tc.BLOOM_MIN_M_BITS, tc._bloom_m_bits(len(values))):
        bits = bytearray(m // 8)
        for v in values:
            for i in tc._bloom_indices(v, m):
                bits[i // 8] |= 1 << (i % 8)
        enc = tc._bloom_encode(bits, m, tc.BLOOM_K)
        assert all(tc._bloom_might_contain(enc, v) for v in values)
    # numeric-form collapse
    bits = bytearray(tc.BLOOM_MIN_M_BITS // 8)
    for i in tc._bloom_indices(42.0, tc.BLOOM_MIN_M_BITS):
        bits[i // 8] |= 1 << (i % 8)
    enc = tc._bloom_encode(bits, tc.BLOOM_MIN_M_BITS, tc.BLOOM_K)
    assert tc._bloom_might_contain(enc, 42)


def test_bloom_key_canonicalizes_numeric_like_types():
    """ADVICE r5 regression: a bloom'd DECIMAL/numpy column must hash to
    the same key as the plain int/float probe — a representation mismatch
    is a bloom FALSE NEGATIVE (silently skipped matching rows)."""
    import decimal

    import numpy as np

    assert tc._bloom_key(decimal.Decimal("42.00")) == tc._bloom_key(42)
    assert tc._bloom_key(decimal.Decimal("42")) == tc._bloom_key(42.0)
    assert tc._bloom_key(decimal.Decimal("2.50")) == tc._bloom_key(2.5)
    assert tc._bloom_key(np.int64(7)) == tc._bloom_key(7)
    assert tc._bloom_key(np.float64(7.25)) == tc._bloom_key(7.25)
    assert tc._bloom_key(np.float64(7.0)) == tc._bloom_key(7)
    # bool stays distinct from int 1/0 (it is an int subclass in Python)
    assert tc._bloom_key(True) != tc._bloom_key(1)


def test_bloom_probe_decimal_column_no_false_negative(spark, tmp_path):
    """End-to-end: commit a DECIMAL(12,2) bloom'd column (pyarrow hands
    the bloom builder Decimal objects), probe with int and float — every
    committed key must keep its rows."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 40)
        .select(
            (F.col("id") * 100).cast("decimal(12,2)").alias("amount"),
            F.concat(F.lit("row"), F.col("id")).alias("tag"),
        )
        .repartition(4, "amount")
    )
    root = str(tmp_path / "dec_tbl")
    tc.commit(df, root, bloom_cols=["amount"])
    for probe in (1500, 1500.0):
        got = tc.read_table_bloom_probe(spark, root, "amount", probe)
        rows = got.filter(F.col("amount") == F.lit(probe)).collect()
        assert len(rows) == 1 and rows[0].tag == "row15", (
            f"bloom probe {probe!r} lost the DECIMAL row"
        )


def test_incremental_agg_maintenance_and_replay(spark, tmp_path, nation):
    """r8 (operators/incremental_agg.py): the stored aggregate advances
    by delta-sized merges; a replayed batch (crash between handle and
    checkpoint) no-ops through the txn watermark — at-least-once
    delivery, exactly-once maintenance."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_drone_sense_spark.operators.incremental_agg import (
        combine_additive,
        maintain_agg_table,
    )

    src, agg, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "agg"),
        str(tmp_path / "agg.ckpt"),
    )
    rows = nation.select(
        "n_regionkey", F.col("n_nationkey").alias("v")
    )

    def partials(batch):
        return batch.groupBy("n_regionkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
        )

    def drain():
        return maintain_agg_table(
            spark, src, agg, ckpt, partials, ["n_regionkey"], app_id="t"
        )

    tc.commit(rows.filter(F.col("v") % 2 == 0), src)
    assert drain() > 0
    tc.commit(rows.filter(F.col("v") % 2 == 1), src, mode="append")
    assert drain() > 0
    assert drain() == 0

    want = sorted(
        map(tuple, partials(rows).collect())
    )
    got = sorted(map(tuple, tc.read_table(spark, agg).collect()))
    assert got == want

    # replay: rewind the checkpoint one version — the txn watermark must
    # swallow the duplicate merge, leaving the aggregate unchanged
    with open(ckpt, encoding="utf-8") as f:
        state = json.load(f)
    state["version"] -= 1
    with open(ckpt, "w", encoding="utf-8") as f:
        json.dump(state, f)
    drain()  # redelivers the last batch
    got2 = sorted(map(tuple, tc.read_table(spark, agg).collect()))
    assert got2 == want, "replayed batch was double-applied"

    # merge refuses mismatched partial schemas (a silent zero-fill would
    # corrupt the aggregate instead)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema mismatch"):
        combine_additive(
            partials(rows), partials(rows).drop("sv"), ["n_regionkey"]
        )


def test_clone_table_zero_copy_and_isolation(spark, tmp_path):
    """Shallow clone: one manifest write, absolute-path file reuse,
    stats carried re-keyed (pruning works on the clone from the first
    read), empty txn watermarks, and full evolution isolation in BOTH
    directions (source overwrite after the clone leaves the clone's
    pinned file list readable)."""
    import os

    from pyspark.sql import functions as F

    from etl_drone_sense_spark.sources import table_commit as TC

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TC.commit(
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        src,
        stats_cols=["k"],
        txn=("writer_a", 7),
    )
    snap = TC.clone_table(src, dst)
    assert snap.operation == "clone" and snap.txn == ()
    assert all(os.path.isabs(f) for f in snap.files)
    # stats carried: range pruning opens fewer files on the CLONE
    assert TC.pruned_file_count(dst, "k", 0, 10) < len(snap.files)
    # clone reads the source's rows
    assert TC.read_table(spark, dst).count() == 100
    # evolve the SOURCE (overwrite) — the clone still reads its pinned
    # files because the overwrite wrote NEW files and left v1's in place
    TC.commit(base.filter(F.col("k") < 10), src)
    assert TC.read_table(spark, dst).count() == 100
    # evolve the CLONE — source version history is untouched
    TC.commit(base.filter(F.col("k") >= 90), dst, mode="append")
    assert TC.read_table(spark, dst).count() == 110
    assert TC.current_version(src) == 2
    assert TC.read_table(spark, src).count() == 10


def test_partition_evolution_prunes_both_epochs(spark):
    """The pruning claim behind table_partition_evolution_read: a month
    predicate must SKIP files in BOTH layout epochs (coarse month-only
    ranges AND finer month+status ranges), and the pruned read must
    equal the unpruned filtered scan row-for-row."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.sources import table_commit as TC

    rows = [
        (i, (i % 12) + 1, "OF"[i % 2], float(i))
        for i in range(1200)
    ]
    df = spark.createDataFrame(
        rows, "k long, o_month int, status string, val double"
    )
    root = scratch_dir("sg_pevo_test_")
    TC.commit(
        df.filter(F.col("k") % 2 == 0).repartitionByRange(4, "o_month"),
        root,
        stats_cols=["o_month"],
    )
    snap1_files = set(TC.read_snapshot(root, None).files)
    TC.commit(
        df.filter(F.col("k") % 2 == 1).repartitionByRange(
            12, "o_month", "status"
        ),
        root,
        mode="append",
        stats_cols=["o_month", "status"],
    )
    snap = TC.read_snapshot(root, None)
    total = len(snap.files)
    kept = TC.pruned_file_count(root, "o_month", 3, 3)
    assert kept < total, "no file was skipped at all"
    # skipping must engage inside EACH epoch, not just one
    kept_files = set(
        TC._pruned_files(snap, "o_month", 3, 3)
    )
    e1_total = len(snap1_files)
    e2_total = total - e1_total
    e1_kept = len(kept_files & snap1_files)
    e2_kept = len(kept_files - snap1_files)
    assert e1_kept < e1_total, "epoch-1 (coarse) files never pruned"
    assert e2_kept < e2_total, "epoch-2 (fine) files never pruned"
    # the finer epoch-2 layout must prune HARDER (fraction kept smaller)
    assert e2_kept / e2_total < e1_kept / e1_total
    got = sorted(
        tuple(r) for r in TC.read_table_pruned(
            spark, root, "o_month", 3, 3
        ).collect()
    )
    want = sorted(
        tuple(r) for r in TC.read_table(spark, root)
        .filter(F.col("o_month") == 3).collect()
    )
    assert got == want


def _two_epoch_table(spark, tmp_prefix="sg_mig_test_"):
    """Shared fixture for the migration tests: epoch 1 = even keys in 4
    coarse month-range files, epoch 2 = odd keys in 12 (month, status)
    files. Returns (root, df, epoch1_files)."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.sources import table_commit as TC

    rows = [(i, (i % 12) + 1, "OF"[i % 2], float(i)) for i in range(1200)]
    df = spark.createDataFrame(
        rows, "k long, o_month int, status string, val double"
    )
    root = scratch_dir(tmp_prefix)
    TC.commit(
        df.filter(F.col("k") % 2 == 0).repartitionByRange(4, "o_month"),
        root,
        stats_cols=["o_month"],
    )
    epoch1 = set(TC.read_snapshot(root, None).files)
    TC.commit(
        df.filter(F.col("k") % 2 == 1).repartitionByRange(
            12, "o_month", "status"
        ),
        root,
        mode="append",
        stats_cols=["o_month", "status"],
    )
    return root, df, epoch1


def test_migrate_layout_row_identical_and_time_travel(spark):
    """migrate_layout moves bytes, not rows: the post-migration read is
    row-identical to the pre-migration one, the old version still reads
    the OLD layout (its manifest lists the original files, all still on
    disk), and the new manifest swaps exactly the migrated subset."""
    import os

    from etl_drone_sense_spark.sources import table_commit as TC

    root, df, epoch1 = _two_epoch_table(spark)
    pre_version = TC.read_snapshot(root, None).version
    pre_rows = sorted(tuple(r) for r in TC.read_table(spark, root).collect())

    snap = TC.migrate_layout(
        spark,
        root,
        layout_cols=["o_month", "status"],
        n_files=12,
        files=sorted(epoch1),
        stats_cols=["o_month", "status"],
    )
    assert snap.operation == "migrate-layout"
    assert snap.parent == pre_version

    # row-identical current read
    post_rows = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    assert post_rows == pre_rows

    # manifest surgery: epoch-1 files gone from the child, epoch-2 kept
    assert not (set(snap.files) & epoch1)
    pre_files = set(TC.read_snapshot(root, pre_version).files)
    assert (pre_files - epoch1) <= set(snap.files)
    new_files = set(snap.files) - pre_files
    assert new_files, "migration wrote no new files"
    # every new file carries stats for the new layout cols
    stats = snap.stats_map
    for f in new_files:
        assert "o_month" in stats[f] and "status" in stats[f]

    # TIME TRAVEL: the pre-migration version still lists & reads the old
    # files byte-for-byte
    old_snap = TC.read_snapshot(root, pre_version)
    assert set(old_snap.files) == pre_files
    for f in epoch1:
        assert os.path.exists(os.path.join(root, f)), "old epoch file GC'd"
    tt_rows = sorted(
        tuple(r)
        for r in TC.read_table(spark, root, version=pre_version).collect()
    )
    assert tt_rows == pre_rows


def test_migrate_layout_improves_pruning(spark):
    """The point of the rewrite: after migrating the coarse epoch under
    the finer spec, a month predicate keeps a strictly smaller fraction
    of the migrated half's files than the coarse layout did."""
    from etl_drone_sense_spark.sources import table_commit as TC

    root, _, epoch1 = _two_epoch_table(spark)
    pre = TC.read_snapshot(root, None)
    pre_kept = set(TC._pruned_files(pre, "o_month", 3, 3))
    pre_frac = len(pre_kept & epoch1) / len(epoch1)

    TC.migrate_layout(
        spark,
        root,
        layout_cols=["o_month", "status"],
        n_files=12,
        files=sorted(epoch1),
        stats_cols=["o_month", "status"],
    )
    post = TC.read_snapshot(root, None)
    migrated = set(post.files) - set(pre.files)
    post_kept = set(TC._pruned_files(post, "o_month", 3, 3))
    post_frac = len(post_kept & migrated) / len(migrated)
    assert post_frac < pre_frac, (
        f"finer layout did not prune harder: {post_frac} vs {pre_frac}"
    )


def test_migrate_layout_vacuum_reclaims_old_epoch(spark):
    """vacuum is the ONLY thing that ever reclaims the migrated-away
    files: keep_last=1 with a zero retention window drops the
    pre-migration manifests and exactly the now-unreferenced epoch-1
    files; the current read is untouched."""
    import os

    from etl_drone_sense_spark.sources import table_commit as TC

    root, _, epoch1 = _two_epoch_table(spark)
    pre_rows = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    TC.migrate_layout(
        spark,
        root,
        layout_cols=["o_month", "status"],
        n_files=12,
        files=sorted(epoch1),
        stats_cols=["o_month", "status"],
    )
    removed = set(TC.vacuum(root, keep_last=1, min_age_seconds=0.0))
    assert removed == epoch1, "vacuum removed the wrong file set"
    for f in epoch1:
        assert not os.path.exists(os.path.join(root, f))
    post_rows = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    assert post_rows == pre_rows


def test_migrate_layout_rejects_unknown_files(spark):
    import pytest

    from etl_drone_sense_spark.sources import table_commit as TC

    root, _, _ = _two_epoch_table(spark)
    with pytest.raises(ValueError, match="not in the current snapshot"):
        TC.migrate_layout(
            spark, root, ["o_month"], 4, files=["data/ghost.parquet"]
        )


def test_replace_files_requires_append_on_existing_table(spark):
    """_replace_files is a parent-manifest edit: overwrite mode and the
    first-commit append->overwrite flip would silently ignore it, so
    commit() must refuse both outright (r15 ADVICE)."""
    import pytest

    from etl_drone_sense_spark.sources import table_commit as TC

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    root = scratch_dir("sg_repl_mode_")
    TC.commit(df, root)
    with pytest.raises(ValueError, match="requires mode='append'"):
        TC.commit(
            df, root, mode="overwrite", _replace_files=frozenset({"x"})
        )
    fresh = scratch_dir("sg_repl_first_")
    with pytest.raises(ValueError, match="requires mode='append'"):
        TC.commit(
            df, fresh, mode="append", _replace_files=frozenset({"x"})
        )


def test_migrate_layout_aborts_on_concurrent_compact(spark, monkeypatch):
    """THE r15 ADVICE race: a compact() rewrites the table between
    migrate_layout's read_snapshot() and its commit(). Without
    validation the stale drop set is a silent no-op and the migrated
    rows land TWICE (the compacted copy + the rewrite). The loser must
    abort with ConcurrentCommitError, the table must stay readable and
    row-identical, and no version may be burned."""
    import pytest
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.sources import table_commit as TC

    root, df, epoch1 = _two_epoch_table(spark, tmp_prefix="sg_mig_race_")
    want = sorted(tuple(r) for r in TC.read_table(spark, root).collect())

    real_commit = TC.commit
    fired = {"done": False}

    def racing_commit(dfc, rootc, *a, **kw):
        # Fire the racer exactly once, at the migration's own commit —
        # i.e. after migrate_layout resolved its rewrite set.
        if kw.get("_replace_files") and not fired["done"]:
            fired["done"] = True
            TC.compact(spark, rootc, target_file_bytes=1 << 30)
        return real_commit(dfc, rootc, *a, **kw)

    monkeypatch.setattr(TC, "commit", racing_commit)
    with pytest.raises(TC.ConcurrentCommitError, match="no longer in parent"):
        TC.migrate_layout(
            spark, root, ["o_month", "status"], 12, files=sorted(epoch1)
        )
    monkeypatch.undo()
    assert fired["done"]

    # Table intact: the compact won, rows identical, no duplicates.
    got = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    assert got == want
    assert TC.read_snapshot(root, None).operation == "compact"
    # A retried migration (re-resolving against the NEW snapshot) works.
    snap = TC.migrate_layout(spark, root, ["o_month", "status"], 12)
    assert snap.operation == "migrate-layout"
    got2 = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    assert got2 == want
    assert (
        TC.read_table(spark, root).filter(F.col("k") == 0).count() == 1
    )


def test_migrate_layout_survives_benign_interleaved_append(spark, monkeypatch):
    """The converse of the race test: an APPEND landing in the same
    window touches none of the rewrite set, so the migration must
    SUCCEED on the newer parent (Iceberg semantics), carrying the
    appended rows forward untouched."""
    from etl_drone_sense_spark.sources import table_commit as TC

    root, df, epoch1 = _two_epoch_table(spark, tmp_prefix="sg_mig_app_")
    base = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    extra_df = spark.createDataFrame(
        [(9001, 1, "X", 9001.0)], "k long, o_month int, status string, val double"
    )

    real_commit = TC.commit
    fired = {"done": False}

    def racing_commit(dfc, rootc, *a, **kw):
        if kw.get("_replace_files") and not fired["done"]:
            fired["done"] = True
            real_commit(extra_df, rootc, mode="append")
        return real_commit(dfc, rootc, *a, **kw)

    monkeypatch.setattr(TC, "commit", racing_commit)
    snap = TC.migrate_layout(
        spark, root, ["o_month", "status"], 12, files=sorted(epoch1)
    )
    monkeypatch.undo()
    assert fired["done"]
    assert snap.operation == "migrate-layout"
    assert not (set(snap.files) & epoch1)
    got = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    assert got == sorted(base + [(9001, 1, "X", 9001.0)])


def test_migrate_layout_crash_before_publish_is_adopted(spark, monkeypatch):
    """Crash-window parity with plain commits (r15 VERDICT item 6): a
    migration that dies between the manifest CAS and the pointer swap
    is durable history — the NEXT commit adopts and publishes it, and
    no rows are lost or duplicated."""
    import pytest

    from etl_drone_sense_spark.sources import table_commit as TC

    root, df, epoch1 = _two_epoch_table(spark, tmp_prefix="sg_mig_crash_")
    want = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    pre_version = TC.read_snapshot(root, None).version

    monkeypatch.setattr(
        TC, "_swap_pointer",
        lambda *a: (_ for _ in ()).throw(RuntimeError("crash before publish")),
    )
    with pytest.raises(RuntimeError, match="crash before publish"):
        TC.migrate_layout(
            spark, root, ["o_month", "status"], 12, files=sorted(epoch1)
        )
    monkeypatch.undo()

    # Pointer still on the old version; reads unaffected.
    assert TC.read_snapshot(root, None).version == pre_version
    assert sorted(tuple(r) for r in TC.read_table(spark, root).collect()) == want
    # The next commit adopts the orphaned migration as its parent.
    extra_df = spark.createDataFrame(
        [(9002, 2, "Y", 9002.0)], "k long, o_month int, status string, val double"
    )
    snap = TC.commit(extra_df, root, mode="append")
    assert snap.parent == pre_version + 1  # the orphan, not pre_version
    assert not (set(snap.files) & epoch1)
    got = sorted(tuple(r) for r in TC.read_table(spark, root).collect())
    assert got == sorted(want + [(9002, 2, "Y", 9002.0)])
