"""Round-4 curation-at-scale queries: semantic dedup, CDC changelog
derivation, bigram LM scoring, domain-mixture sampling, sequential
pattern matching, Z-order layout, and importance sampling.

These extend the training-data-pipeline surface (SURVEY §2 C) past the
round-3 set: every query here is a full-oracle registry entry following
the repo's conventions — decimal/fixed-point exact aggregation, rounded
transcendentals, deterministic tie-breaks, literal constants shared
character-for-character between the Spark expressions and the DuckDB SQL.

Reference parity note: the reference (task.ts:1-224) contains none of
this; these are the engine's scale-path extensions mandated by the
BASELINE.json north star, same as plans/extensions.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as TXT
from ..functions import vectors as V
from ..operators import merge as M
from ..operators import similarity
from ..sources.readers import built_once, rebalance_for_compute
from ..streaming import pipeline as SP
from .registry import register, t
from .extensions import _seeded_embeddings, _SEEDED_EMB_CTE

# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup)
# ---------------------------------------------------------------------------


def _frozen_cents64_values() -> str:
    from ._frozen_codebook import FROZEN_CENTROIDS_64

    return ", ".join(
        f"({cid}, CAST([{', '.join(repr(v) for v in vec)}] AS DOUBLE[]))"
        for cid, vec in FROZEN_CENTROIDS_64
    )


@register(
    "dedup_semantic",
    oracle=f"""
    WITH {_SEEDED_EMB_CTE},
    q AS (
        SELECT vec_id, {V.quantize_fixed_sql('embedding')} AS qv FROM seeded
    ),
    qn AS (
        SELECT vec_id, qv,
               sqrt(CAST({V.dot_int_sql('qv', 'qv')} AS DOUBLE)) AS nrm
        FROM q
    ),
    cq AS (
        SELECT cell_id, {V.quantize_fixed_sql('cvec')} AS cv
        FROM (VALUES {_frozen_cents64_values()}) AS v(cell_id, cvec)
    ),
    cn AS (
        SELECT cell_id, cv,
               sqrt(CAST({V.dot_int_sql('cv', 'cv')} AS DOUBLE)) AS cnrm
        FROM cq
    ),
    scored AS (
        SELECT e.vec_id, e.qv, e.nrm, c.cell_id,
               CAST({V.dot_int_sql('e.qv', 'c.cv')} AS DOUBLE)
                   / (e.nrm * c.cnrm) AS sim
        FROM qn e CROSS JOIN cn c
    ),
    mem AS (
        SELECT vec_id, qv, nrm, cell_id FROM (
            SELECT vec_id, qv, nrm, cell_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cell_id) AS rn
            FROM scored)
        WHERE rn = 1
    ),
    pairs AS (
        SELECT b.vec_id AS id_b
        FROM mem a JOIN mem b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        WHERE floor(CAST({V.dot_int_sql('a.qv', 'b.qv')} AS DOUBLE)
                    / (a.nrm * b.nrm) * 1000000 + 0.5) / 1000000 >= 0.8
    ),
    dups AS (SELECT id_b AS vec_id, count(*) AS n_dup_prior
             FROM pairs GROUP BY id_b)
    SELECT m.vec_id, CAST(m.cell_id AS BIGINT) AS cell_id,
           d.vec_id IS NULL AS kept,
           coalesce(d.n_dup_prior, 0) AS n_dup_prior
    FROM mem m LEFT JOIN dups d USING (vec_id)
    """,
    tags=("dedup", "similarity", "semantic"),
    bench=True,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semantic_dedup): cluster-blocked
    semantic deduplication over the frozen k=64 codebook (k ~ √n keeps
    cells bounded) — assign every embedding to its nearest centroid, find
    ≥0.8-cosine pairs WITHIN cells only, greedily keep the lowest id per
    duplicate relation. The heavy math runs as per-cell numpy int64
    matmuls over fixed-point-quantized vectors (exact and order-
    independent, so the Arrow/pandas path is hash-identical to this pure
    SQL oracle). Seeded companions (+0.05 shift, same as dedup_embedding)
    make the threshold non-vacuous."""
    from ._frozen_codebook import FROZEN_CENTROIDS_64

    cents = spark.createDataFrame(
        list(FROZEN_CENTROIDS_64), "cell_id int, embedding array<double>"
    )
    return similarity.semantic_dedup(
        _seeded_embeddings(spark, sf_dir), cents, threshold=0.8
    )


# ---------------------------------------------------------------------------
# Schema evolution round-trip (field-ID rename/drop over committed tables)
# ---------------------------------------------------------------------------

@register(
    "schema_evolution_read",
    oracle="""
    SELECT o_orderkey, o_totalprice AS price
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    tags=("lake", "schema", "evolution"),
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-ID schema evolution round-trip (sources/table_commit.py
    rename_column/drop_column): commit a 3-column orders slice, RENAME
    o_totalprice→price (metadata-only — the v1 files still serve it under
    the new name through their write-time field mapping), APPEND a second
    slice written natively under the renamed schema (two physical epochs,
    one logical column), DROP o_orderstatus (bytes stay, reads stop
    projecting), then read the current snapshot. The result must equal a
    plain SQL projection of the same source rows — which is exactly the
    Iceberg guarantee: evolution is metadata, never data.

    Scale shape: rename/drop cost O(1) manifest writes regardless of
    table size; the epoch-grouped read keeps one pruned scan per write
    schema (renames are rare, so epochs stay few); the returned relation
    is the table's own lazy scan — no driver materialization. The evolved
    table is built once per source generation (fingerprint-keyed like the
    stream landing dirs) and re-read lazily afterwards."""
    from ..sources import table_commit as TC

    def build(root):
        base = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
        TC.commit(base.filter(F.col("o_orderkey") % 3 == 0), root)
        TC.rename_column(root, "o_totalprice", "price")
        TC.commit(
            base.filter(F.col("o_orderkey") % 3 == 1).select(
                "o_orderkey",
                F.col("o_totalprice").alias("price"),
                "o_orderstatus",
            ),
            root,
            mode="append",
        )
        TC.drop_column(root, "o_orderstatus")
        return root

    root = built_once(sf_dir, "orders", "sg_schema_evo_", build)
    return TC.read_table(spark, root)


@register(
    "table_incremental_feed",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    """,
    tags=("lake", "incremental", "cdc"),
)
def table_incremental_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental table consumption end-to-end
    (sources/table_commit.process_table_appends): a source table built in
    two appends is drained into a sink table by two checkpointed feed
    calls, each committing its batch with a txn watermark — then drained
    a THIRD time (a no-op: nothing new) and the sink read back. The sink
    must equal a plain SQL union of both slices: every appended row
    delivered exactly once, none duplicated by the idle drain. This is
    the Delta streaming-source contract the scale pipeline tails a lake
    table with. Built once per source generation (fingerprint-keyed);
    later calls are a lazy sink scan."""
    import os as _os

    from ..sources import table_commit as TC

    def build(work):
        base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        src, sink, ckpt = (
            _os.path.join(work, "src"),
            _os.path.join(work, "sink"),
            _os.path.join(work, "feed.ckpt"),
        )

        def handle(bdf, version):
            TC.commit(bdf, sink, mode="append", txn=("feed", version))

        TC.commit(base.filter(F.col("o_orderkey") % 4 == 0), src)
        TC.process_table_appends(spark, src, ckpt, handle)
        TC.commit(
            base.filter(F.col("o_orderkey") % 4 == 1), src, mode="append"
        )
        TC.process_table_appends(spark, src, ckpt, handle)
        assert TC.process_table_appends(spark, src, ckpt, handle) == 0
        return sink

    sink = built_once(sf_dir, "orders", "sg_feed_", build)
    return TC.read_table(spark, sink)


@register(
    "stream_merge_apply",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 6 = 0
                THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS DOUBLE)
                ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE c_custkey % 6 = 0 OR c_custkey % 3 = 1
    """,
    tags=("streaming", "lake", "merge", "cdc"),
)
def stream_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — foreachBatch MERGE into a committed table
    (the Delta `foreachBatch + MERGE INTO` upsert pattern): a changelog
    file stream (maxFilesPerTrigger=1) drains micro-batches of
    key-disjoint U/I/D rows into the managed customer table, each batch
    applied by operators/merge.merge_into and committed with a txn
    watermark so a retried micro-batch is a no-op. The final table must
    equal a plain SQL CASE over the source — updates added exactly once,
    deletes gone, inserts present.

    The two changelog batches touch DISJOINT key sets on purpose: the
    file source's batching is an implementation detail (AvailableNow may
    coalesce files), and key-disjoint merges commute, so the final state
    is identical however the stream is chopped — the property a real CDC
    feed needs anyway, since per-key ordering is only guaranteed WITHIN a
    micro-batch after dropDuplicates-by-latest.

    Scale shape: each micro-batch's merge is one full-outer join keyed on
    the merge key (in-plan duplicate-key guard, no extra shuffle); the
    commit is a pointer swap. Built once per source generation
    (fingerprint-keyed); later calls are a lazy table scan."""
    import os as _os

    from ..operators.merge import merge_into
    from ..sources import table_commit as TC

    def build(work):
        root = _os.path.join(work, "tbl")
        cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
        TC.commit(cust.filter(F.col("c_custkey") % 3 == 0), root)

        bump = F.col("c_acctbal").cast("decimal(18,2)") + 100
        batch1 = cust.filter(F.col("c_custkey") % 6 == 0).select(
            "c_custkey", F.lit("U").alias("op"), bump.cast("double").alias("c_acctbal")
        )
        batch2 = cust.filter(F.col("c_custkey") % 3 == 1).select(
            "c_custkey", F.lit("I").alias("op"), "c_acctbal"
        ).unionByName(
            cust.filter(F.col("c_custkey") % 6 == 3).select(
                "c_custkey",
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("c_acctbal"),
            )
        )

        def apply_batch(bdf, batch_id: int) -> None:
            tgt = TC.read_table(bdf.sparkSession, root)
            merged = merge_into(
                tgt, bdf, keys=["c_custkey"], op_col="op"
            ).drop("action")
            TC.commit(
                merged,
                root,
                mode="overwrite",
                _operation="merge",
                txn=("stream_merge", batch_id),
            )

        SP.replay([batch1, batch2], work, apply_batch)
        return root

    root = built_once(sf_dir, "customer", "sg_smerge_", build)
    return TC.read_table(spark, root)


_BLOOM_PROBE_KEYS = (1, 500, 1337, -42)  # -42 = definite miss at every SF


@register(
    "table_bloom_probe",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey IN {_BLOOM_PROBE_KEYS}
    """,
    tags=("lake", "bloom", "skipping"),
)
def table_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping end-to-end
    (sources/table_commit.read_table_bloom_probe): orders committed
    HASH-partitioned on o_orderkey — the layout where min/max stats prune
    nothing because every file spans the whole key space — with per-file
    blooms; four point lookups (one a guaranteed miss) probed through the
    manifest must equal a plain SQL IN-filter. The probe opens only the
    files whose bloom might contain each key (asserted strictly in
    tests/test_table_commit.py); correctness never depends on it —
    false positives are read-and-filtered, the miss key opens zero files.

    Scale shape: each probe is O(files-that-might-match) opened, O(1)
    manifest read; the table is built once per source generation
    (fingerprint-keyed) and probed lazily afterwards."""
    from ..sources import table_commit as TC

    def build(root):
        base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        TC.commit(
            base.repartition(8, "o_orderkey"), root, bloom_cols=["o_orderkey"]
        )
        return root

    root = built_once(sf_dir, "orders", "sg_bloom_", build)
    out = None
    for k in _BLOOM_PROBE_KEYS:
        probe = TC.read_table_bloom_probe(spark, root, "o_orderkey", k)
        out = probe if out is None else out.unionByName(probe)
    return out


@register(
    "table_incremental_agg",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1000000 + 0.5)
                         AS DECIMAL(38,0))) AS DOUBLE) / 1000000
               AS sum_price
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderstatus
    """,
    tags=("lake", "incremental", "materialized-view"),
)
def table_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance end-to-end
    (operators/incremental_agg.py): a source table built in two appends
    is drained by two checkpointed maintenance calls, each collapsing
    its DELTA to per-status partials (count + fixed-point price sum)
    and advancing the stored aggregate by one keyed full-outer merge —
    work per refresh is O(delta + groups), never O(table). A third
    drain is a no-op (nothing new; the txn watermark also makes replays
    no-op, so at-least-once delivery yields exactly-once maintenance).
    The final stored aggregate must equal a plain SQL GROUP BY over
    both slices — the convergence statement for incremental view
    maintenance, the same shape Spark guarantees for partial→final
    aggregation inside one query, lifted across commits.

    The fixed-point partial (floor(x·1e6+0.5) summed as DECIMAL(38,0),
    divided once at READ time) is the registry's exact-sum convention —
    which is precisely what makes the aggregate maintainable: integer
    partials form a commutative monoid, double sums do not (their
    rounding depends on merge order). Built once per source generation
    (fingerprint-keyed); later calls are a lazy scan of the stored
    aggregate."""
    import os as _os

    from ..operators.incremental_agg import maintain_agg_table
    from ..sources import table_commit as TC

    def build(work):
        base = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        src, agg_root, ckpt = (
            _os.path.join(work, "src"),
            _os.path.join(work, "agg"),
            _os.path.join(work, "agg.ckpt"),
        )

        def partials(batch):
            return batch.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    F.floor(
                        F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).alias("sum_price_q"),
            )

        def drain():
            return maintain_agg_table(
                spark, src, agg_root, ckpt, partials, ["o_orderstatus"]
            )

        TC.commit(base.filter(F.col("o_orderkey") % 3 == 0), src)
        assert drain() > 0
        TC.commit(
            base.filter(F.col("o_orderkey") % 3 == 1), src, mode="append"
        )
        assert drain() > 0
        assert drain() == 0  # idle refresh: aggregate already current
        return agg_root

    agg_root = built_once(sf_dir, "orders", "sg_incagg_", build)
    return TC.read_table(spark, agg_root).select(
        "o_orderstatus",
        "n_orders",
        (F.col("sum_price_q").cast("double") / F.lit(1e6)).alias("sum_price"),
    )


@register(
    "table_pruned_read",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN 1
          AND (SELECT CAST(floor(max(o_orderkey) / 8.0) AS BIGINT)
               FROM orders)
    """,
    tags=("lake", "stats", "skipping"),
)
def table_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max-stats file skipping end-to-end
    (sources/table_commit.read_table_pruned): orders committed
    RANGE-partitioned on o_orderkey into 8 files with per-file min/max
    stats in the manifest — the clustered layout where each file owns a
    disjoint key slice — then a range predicate covering the lowest
    ~1/8 of the keyspace is read back THROUGH the manifest. The result
    must equal a plain SQL BETWEEN over the source, and the query
    asserts in-plan that the probe opens STRICTLY FEWER files than the
    snapshot lists (pruning is real, not a silent full scan); the exact
    predicate is re-applied on top, so stats prune but never filter —
    correctness cannot depend on the manifest.

    This is the Iceberg/Delta data-skipping read path (r7 VERDICT item
    1): at 100 TB a clustered range predicate touches O(selectivity) of
    the files, driver cost is one manifest read, and the returned
    relation stays a lazy pruned scan. The bound is derived from the
    table's own max key (floor(max/8)) so the predicate — and the
    pruning geometry — is identical at every SF. Built once per source
    generation (fingerprint-keyed) and re-read lazily afterwards."""
    import math

    from ..sources import table_commit as TC

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def build(root):
        TC.commit(
            base.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
            root,
            stats_cols=["o_orderkey"],
        )
        return root

    root = built_once(sf_dir, "orders", "sg_pruned_", build)
    # the same scalar the oracle derives: floor(max(o_orderkey)/8)
    hi = int(
        math.floor(base.agg(F.max("o_orderkey")).collect()[0][0] / 8.0)
    )
    n_total = len(TC.read_snapshot(root).files)
    n_open = TC.pruned_file_count(root, "o_orderkey", 1, hi)
    assert n_open < n_total, (
        f"manifest pruning is a no-op: opens {n_open}/{n_total} files"
    )
    return TC.read_table_pruned(spark, root, "o_orderkey", 1, hi)


@register(
    "table_time_travel",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    """,
    tags=("lake", "time-travel", "snapshot"),
    bench=True,
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation time travel (sources/table_commit.read_table's
    ``version=`` arg): the table lives through three commits — v1 = the
    even-keyed half of orders, v2 = append of the odd-keyed half (so v2
    is exactly the source table), v3 = overwrite with every price bumped
    — and the query reads **v2 back while v3 is current**. The oracle is
    a plain scan of the source: correct iff the v2 manifest still names
    exactly its original immutable files, untouched by the later
    overwrite. The query asserts current_version == 3 and that v3's file
    list actually diverged (the travel is real, not a read of current).

    This is the Delta/Iceberg `VERSION AS OF` read path: versions are
    file LISTS, so an old version costs one manifest read and scans only
    its own files — no log replay, no copy-on-read. At 100 TB the
    overwrite wrote new files and left v2's bytes in place; retention
    (vacuum) is the only thing that can break a pinned read, exactly as
    in the production lakehouses. Built once per source generation
    (fingerprint-keyed), re-read lazily afterwards."""
    from ..sources import table_commit as TC

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def build(root):
        TC.commit(base.filter(F.col("o_orderkey") % 2 == 0), root)
        TC.commit(
            base.filter(F.col("o_orderkey") % 2 == 1), root, mode="append"
        )
        TC.commit(
            base.withColumn("o_totalprice", F.col("o_totalprice") + 1.0), root
        )
        return root

    root = built_once(sf_dir, "orders", "sg_travel_", build)
    assert TC.current_version(root) == 3, "expected three committed versions"
    v2, v3 = TC.read_snapshot(root, 2), TC.read_snapshot(root, 3)
    assert set(v2.files) != set(v3.files), (
        "overwrite did not change the file list — time travel untestable"
    )
    return TC.read_table(spark, root, version=2)


@register(
    "table_zero_copy_clone",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    """,
    tags=("lake", "clone", "snapshot"),
)
def table_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW (zero-copy) table clone + independent evolution
    (sources/table_commit.clone_table — the Delta ``CLONE`` primitive
    behind dev/test branching at 100 TB, where copying the data is a
    non-starter): the source table commits the EVEN-keyed half of
    orders (v1); the clone is created from it — one manifest write, NO
    data files under the clone root — and then the ODD-keyed half is
    appended to the CLONE ONLY. Reading the clone must therefore equal
    a plain scan of the full source table (the oracle): the even rows
    arrive through the source's immutable files referenced by absolute
    path, the odd rows through the clone's own append. The query
    asserts the zero-copy and isolation properties in-plan: the clone's
    v1 lists no file under its own root, the append wrote only under
    the clone root, and the SOURCE is still at v1 with its original
    file list (the clone's evolution never touched it)."""
    import os as _os

    from ..sources import table_commit as TC

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def build(work):
        src_root = _os.path.join(work, "src")
        dst_root = _os.path.join(work, "dst")
        TC.commit(base.filter(F.col("o_orderkey") % 2 == 0), src_root)
        TC.clone_table(src_root, dst_root)
        TC.commit(
            base.filter(F.col("o_orderkey") % 2 == 1),
            dst_root,
            mode="append",
        )
        return src_root, dst_root

    src_root, dst_root = built_once(sf_dir, "orders", "sg_clone_", build)
    # zero-copy: the clone's v1 references no file under its own root
    v1 = TC.read_snapshot(dst_root, 1)
    assert all(
        not _os.path.abspath(_os.path.join(dst_root, f)).startswith(
            _os.path.abspath(dst_root) + _os.sep
        )
        for f in v1.files
    ), "clone v1 copied data into its own root"
    # isolation: the clone's append landed ONLY under the clone root,
    # and the source is untouched at v1
    v2 = TC.read_snapshot(dst_root, 2)
    new_files = set(v2.files) - set(v1.files)
    assert new_files and all(not _os.path.isabs(f) for f in new_files), (
        "clone append did not write under the clone root"
    )
    assert TC.current_version(src_root) == 1, (
        "source advanced — clone evolution leaked into it"
    )
    return TC.read_table(spark, dst_root)


@register(
    "table_rollback_read",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    """,
    tags=("lake", "rollback", "snapshot"),
)
def table_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback as a FORWARD commit (sources/table_commit.rollback,
    Iceberg ``rollback_to_snapshot`` style): v1 = the clean orders
    relation, v2 = a bad write (every price zeroed — the fat-finger
    deploy), rollback(v1) mints v3 whose file list IS v1's. The query
    reads CURRENT after the rollback; the oracle is the clean source, so
    the hash gate proves the table recovered bit-exactly. Asserts the
    pointer is monotonic (current_version == 3, never a rewind), that
    v3 shares v1's immutable files byte-for-byte, and that the bad v2
    stays time-travel-readable (audit trail, not erasure).

    At 100 TB a rollback is one manifest write — no data movement, no
    copy-back; the bad version's files await vacuum. Built once per
    source generation (fingerprint-keyed)."""
    from ..sources import table_commit as TC

    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def build(root):
        TC.commit(base, root)
        TC.commit(base.withColumn("o_totalprice", F.lit(0.0)), root)
        TC.rollback(root, 1)
        return root

    root = built_once(sf_dir, "orders", "sg_rollback_", build)
    assert TC.current_version(root) == 3, "rollback must move FORWARD"
    v1, v3 = TC.read_snapshot(root, 1), TC.read_snapshot(root, 3)
    assert list(v3.files) == list(v1.files), "rollback must reuse v1 files"
    assert TC.read_snapshot(root, 2).files, "bad version must stay readable"
    return TC.read_table(spark, root)


# ---------------------------------------------------------------------------
# CDC changelog derivation (snapshot diff)
# ---------------------------------------------------------------------------

_CDC_V2_SQL = """
    base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ),
    v2 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice
        FROM base WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 50000000, o_custkey, o_orderstatus, o_totalprice
        FROM base WHERE o_orderkey % 101 = 0
    )
"""


@register(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH {_CDC_V2_SQL}
    SELECT CASE WHEN n.o_orderkey IS NULL THEN 'D'
                WHEN o.o_orderkey IS NULL THEN 'I'
                ELSE 'U' END AS op,
           coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_custkey
                ELSE n.o_custkey END AS o_custkey,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
                ELSE n.o_orderstatus END AS o_orderstatus,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice
                ELSE n.o_totalprice END AS o_totalprice
    FROM base o FULL OUTER JOIN v2 n ON o.o_orderkey = n.o_orderkey
    WHERE n.o_orderkey IS NULL OR o.o_orderkey IS NULL
       OR o.o_custkey IS DISTINCT FROM n.o_custkey
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
    tags=("cdc", "lake", "merge"),
    bench=True,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture derivation (operators/merge.snapshot_diff): the
    changelog (op I/U/D + row values) between two snapshots of a table —
    Delta CDF semantics computed from plain versions, the inverse of
    merge_upsert (merge_into(old, diff) == new; round-trip pinned in
    tests/test_merge.py). v2 is a deterministic mutation of orders:
    ~1/97 of keys deleted, ~1/89 repriced (+10), ~1/101 re-inserted under
    a shifted key. One full-outer hash join on the key; change detection
    is a null-safe struct comparison — map-side, no second pass."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    survivors = base.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 10.0
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = base.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 50000000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
    )
    v2 = survivors.unionByName(inserts)
    return M.snapshot_diff(base, v2, ["o_orderkey"])


# ---------------------------------------------------------------------------
# Bigram language-model quality scoring
# ---------------------------------------------------------------------------


@register(
    "text_bigram_lm",
    oracle=f"""
    WITH bigr AS MATERIALIZED (
        SELECT doc_id, unnest({TXT.word_ngrams_sql('text', 2)}) AS g
        FROM documents
    ),
    c2 AS (SELECT g, count(*) AS n2 FROM bigr GROUP BY g),
    c1 AS (SELECT string_split(g, ' ')[1] AS w1, sum(n2) AS n1
           FROM c2 GROUP BY 1),
    voc AS (SELECT count(DISTINCT string_split(g, ' ')[2]) AS v FROM c2),
    lp AS (
        SELECT c2.g,
               CAST(floor(ln((c2.n2 + 0.5) / (c1.n1 + 0.5 * voc.v))
                          * 1000000000) AS BIGINT) AS lp_q
        FROM c2
        JOIN c1 ON string_split(c2.g, ' ')[1] = c1.w1
        CROSS JOIN voc
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(sum(lp.lp_q) / 1e9 / count(*), 6) AS avg_logprob
    FROM bigr b JOIN lp USING (g)
    GROUP BY b.doc_id
    """,
    tags=("text", "quality", "lm"),
    bench=True,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality scoring with add-k smoothing (k=0.5) — the
    next-order companion of text_unigram_logprob: P(w2|w1) estimated from
    the corpus itself, documents scored by mean per-bigram log-prob.
    Degenerate/repetitive docs score high, token-salad scores low.

    Scale shape (r16, guide §2.4): bigrams are paired NARROWLY — the
    token array sliced against itself one position over (zip_with of
    slice(1..n-1) with slice(2..n)), so adjacent-token pairing never
    leaves the row. The pre-r16 form posexploded every token and paired
    with lead() over a (doc_id, pos) window: that window's
    Exchange hashpartitioning(doc_id) + Sort shuffled and re-sorted the
    WHOLE exploded token stream of the corpus just to look one row
    ahead — per-doc-local information by construction. Measured at
    sf0.1: bigram relation 0.456 → 0.367 s, full query neutral
    (1.35 → 1.24 s, within noise) — the win is the plan shape at scale:
    zero exchanges before the persisted bigram relation instead of a
    full-corpus token shuffle. Counts collapse map-side to bigram-
    vocabulary size; the context (w1) relation derives from the bigram
    counts — no second corpus pass; the score join is co-partitioned on
    the bigram string. Log-probs are quantized to fixed-point BIGINT
    before summation (floor(lp*1e9)) so every aggregate is exact integer
    arithmetic under any partitioning (repo convention). Docs with < 2
    tokens have no bigrams and are absent (slice of an empty/1-token
    array is empty, explode emits nothing), matching the unpadded
    n-gram semantics of word_ngrams_sql. The earlier rejected
    rebalance_for_compute (1.36 s as-is vs 1.61 s spread when the window
    exchange followed the tokenize) is now REQUIRED: without the window
    exchange the fixture's one-row-group scan would pin the tokenize and
    the persisted relation to a single task (production no-op by the
    partition probe)."""
    docs = rebalance_for_compute(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # tokens() is referenced by both slices and the length bound — keep
    # it in its own projection so CollapseProject (which never inlines a
    # non-cheap alias used more than once) evaluates the regex fold once.
    tk = docs.select("doc_id", TXT.tokens(F.col("text")).alias("_tk"))
    n1 = F.greatest(F.size("_tk") - 1, F.lit(0))
    bigr = tk.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("_tk", 1, n1),
                F.slice(F.col("_tk"), 2, n1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g"),
    )
    from ..caching import scoped_persist

    bigr = scoped_persist("curation.bigram_rel", bigr)
    c2 = bigr.groupBy("g").agg(F.count("*").alias("n2"))
    w1 = F.split(F.col("g"), " ").getItem(0)
    w2 = F.split(F.col("g"), " ").getItem(1)
    c1 = c2.groupBy(w1.alias("w1")).agg(F.sum("n2").alias("n1"))
    voc = c2.select(w2.alias("w2")).agg(
        F.count_distinct(F.col("w2")).alias("v")
    )
    lp = (
        c2.join(c1, w1 == F.col("w1"))
        .crossJoin(F.broadcast(voc))
        .select(
            "g",
            F.floor(
                F.log(
                    (F.col("n2") + 0.5) / (F.col("n1") + 0.5 * F.col("v"))
                )
                * 1e9
            )
            .cast("bigint")
            .alias("lp_q"),
        )
    )
    return (
        bigr.join(lp, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum("lp_q") / 1e9 / F.count("*"), 6).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Domain-mixture sampling (target proportions -> per-domain accept rates)
# ---------------------------------------------------------------------------

# Target language mixture (sums to 1). en is over-represented in the
# fixture (~44%) so its rate is < 1; zh/es/de are under-represented and
# cap at rate 1 — both regimes exercised.
_MIXTURE_WEIGHTS: dict[str, float] = {
    "en": 0.25, "zh": 0.25, "es": 0.2, "de": 0.2, "fr": 0.1,
}

_MIX_CASE = " ".join(
    f"WHEN '{k}' THEN {w!r}" for k, w in _MIXTURE_WEIGHTS.items()
)


@register(
    "corpus_mixture_sample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
    ),
    total AS (SELECT count(*) AS n FROM documents),
    rates AS (
        SELECT lang,
               CAST(least(1000000, floor(
                   1000000.0 * (CASE lang {_MIX_CASE} ELSE 0 END)
                   * total.n / n_lang)) AS BIGINT) AS rate_ppm
        FROM counts CROSS JOIN total
    )
    SELECT d.doc_id, d.lang, r.rate_ppm
    FROM documents d JOIN rates r USING (lang)
    WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000) < r.rate_ppm
    """,
    tags=("sampling", "corpus", "mixture"),
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-targeted sampling (the DoReMi/data-mixing primitive):
    given TARGET domain proportions, derive each domain's acceptance rate
    from its actual share — rate = min(1, w·N / n_domain) — and keep rows
    by a deterministic md5 coin. Unlike sample_stratified (fixed literal
    rates) the rates here come FROM the data: one tiny per-domain count
    (map-side combine to |domains| rows, broadcast back), then a pure
    scalar predicate — no shuffle of the corpus itself, reproducible at
    any cluster size. Rates are quantized to integer ppm so the
    accept/reject decision is integer-exact across engines."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    total = docs.agg(F.count("*").alias("n"))
    pairs: list = []
    for k, w in _MIXTURE_WEIGHTS.items():
        pairs += [F.lit(k), F.lit(w)]
    wexpr = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col("lang")), F.lit(0.0)
    )
    rates = counts.crossJoin(F.broadcast(total)).select(
        "lang",
        F.least(
            F.lit(1000000),
            F.floor(1000000.0 * wexpr * F.col("n") / F.col("n_lang")),
        )
        .cast("bigint")
        .alias("rate_ppm"),
    )
    u_ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000000
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(u_ppm < F.col("rate_ppm"))
        .select("doc_id", "lang", "rate_ppm")
    )


@register(
    "corpus_sample_temperature",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
    ),
    floor_n AS (SELECT min(n_lang) AS n_min FROM counts),
    rates AS (
        SELECT lang,
               CAST(least(1000000, floor(
                   1000000.0 * sqrt(CAST(n_min AS DOUBLE)
                                    / CAST(n_lang AS DOUBLE))))
                   AS BIGINT) AS rate_ppm
        FROM counts CROSS JOIN floor_n
    )
    SELECT d.doc_id, d.lang, r.rate_ppm
    FROM documents d JOIN rates r USING (lang)
    WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000) < r.rate_ppm
    """,
    tags=("sampling", "corpus", "mixture"),
)
def corpus_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-based language rebalancing (the mT5/multilingual-
    training primitive: sample languages ∝ share^(1/T) so low-resource
    languages stop being drowned) at T=2, SELF-DERIVED from the data —
    unlike corpus_mixture_sample's fixed target weights, the rates here
    are ``rate_l = (n_min / n_l)^(1/T)``: the rarest language keeps
    100 % and larger ones downsample toward the tempered mixture,
    with no up-sampling (the subsample-only regime).

    T=2 is chosen deliberately for EXACTNESS, not just realism: the
    rate is one division and one ``sqrt`` — both IEEE-754
    correctly-rounded single operations in every engine — then the ppm
    floor, so the accept/reject threshold is bit-identical across
    engines BY GUARANTEE (a ``pow(x, 0.3)``-style tempered rate is a
    transcendental whose last ULP may differ per libm, putting a coin
    boundary at risk; sqrt carries no such caveat). The md5(doc_id)
    ppm coin is the registry's deterministic-sampling convention.

    Scale: one |langs|-row aggregate (map-side combined) + a 1-row min,
    broadcast back over a scalar predicate — the corpus never
    shuffles, the same 100 TB shape as corpus_domain_budget."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    floor_n = counts.agg(F.min("n_lang").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(floor_n)).select(
        "lang",
        F.least(
            F.lit(1000000),
            F.floor(
                1000000.0
                * F.sqrt(
                    F.col("n_min").cast("double")
                    / F.col("n_lang").cast("double")
                )
            ),
        )
        .cast("bigint")
        .alias("rate_ppm"),
    )
    u_ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000000
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(u_ppm < F.col("rate_ppm"))
        .select("doc_id", "lang", "rate_ppm")
    )


# ---------------------------------------------------------------------------
# Per-domain token budgets (FineWeb-style domain capping)
# ---------------------------------------------------------------------------

# Token budget per domain: at sf0.01 every source-domain holds ~1.2k
# tokens, so rates land ~0.6 (the truncating regime), while the seeded
# URL domains hold a handful of tokens and cap at rate 1 (the pass-
# through regime) — both branches of least() exercised at the gate SF.
_DOMAIN_BUDGET_TOKENS = 800

_DOMAIN_HOST_RE = r"^https?://([^/:?#]+)"


def _domain_budget_oracle() -> str:
    from .extensions import HTML_SEEDS

    seed_vals = ", ".join(
        f"({i}, '" + s.replace("'", "''") + "', 'seed')" for i, s in HTML_SEEDS
    )
    first_url = f"list_extract({TXT.extract_urls_sql('text')}, 1)"
    return f"""
    WITH seed(doc_id, text, source) AS (VALUES {seed_vals}),
    docs AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL SELECT doc_id, text, source FROM seed
    ),
    base AS (
        SELECT doc_id,
               CASE WHEN len({TXT.extract_urls_sql('text')}) > 0
                    THEN regexp_extract(
                        {TXT.canonicalize_url_sql(first_url)},
                        '{_DOMAIN_HOST_RE}', 1)
                    ELSE source END AS domain,
               CAST({TXT.token_count_sql('text')} AS BIGINT) AS n_tokens
        FROM docs
    ),
    rates AS (
        SELECT domain,
               least(1000000,
                     (1000000 * {_DOMAIN_BUDGET_TOKENS}) // sum(n_tokens))
                   AS rate_ppm
        FROM base GROUP BY domain
    )
    SELECT b.doc_id, b.domain, b.n_tokens,
           CAST(r.rate_ppm AS BIGINT) AS rate_ppm
    FROM base b JOIN rates r USING (domain)
    WHERE (('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000) < r.rate_ppm
    """


@register(
    "corpus_domain_budget",
    oracle=_domain_budget_oracle(),
    tags=("sampling", "corpus", "domain"),
)
def corpus_domain_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style per-domain token capping (Penedo et al. 2024 use
    per-domain limits to stop a single crawl host from dominating the
    corpus): derive each document's DOMAIN — the host of its first
    canonical URL (functions/text.canonicalize_url, the same key
    text_html_strip emits) when the text carries one, else its ``source``
    label — then cap every domain at ``_DOMAIN_BUDGET_TOKENS`` expected
    tokens by converting the cap into a per-domain acceptance rate,
    rate = min(1, budget / domain_tokens), quantized to integer ppm and
    applied with the registry's deterministic md5(doc_id) coin.

    Rate-based capping (rather than a running-sum cutoff) is the
    100 TB shape on purpose: a per-domain cumulative window would make
    every hot crawl domain a single sequential window partition, while
    the rate form is one |domains|-row aggregate (map-side combine)
    broadcast back over a scalar predicate — the corpus itself never
    shuffles, and the kept-token expectation per domain equals the
    budget. Integer ppm + integer floor division keep the accept/reject
    decision bit-identical across engines. The HTML_SEEDS docs ride
    along so the URL-derived-domain branch is exercised non-vacuously
    (fixture text is URL-free)."""
    from .extensions import HTML_SEEDS

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .unionByName(
            spark.createDataFrame(
                [(i, s, "seed") for i, s in HTML_SEEDS],
                "doc_id long, text string, source string",
            )
        )
    )
    urls = TXT.extract_urls(F.col("text"))
    domain = F.when(
        F.size(urls) > 0,
        F.regexp_extract(
            TXT.canonicalize_url(F.get(urls, 0)), _DOMAIN_HOST_RE, 1
        ),
    ).otherwise(F.col("source"))
    base = docs.select(
        "doc_id",
        domain.alias("domain"),
        TXT.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    rates = (
        base.groupBy("domain")
        .agg(F.sum("n_tokens").alias("dom_tokens"))
        .select(
            "domain",
            F.least(
                F.lit(1_000_000).cast("bigint"),
                F.expr(
                    f"(1000000L * {_DOMAIN_BUDGET_TOKENS}) div dom_tokens"
                ),
            ).alias("rate_ppm"),
        )
    )
    u_ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1_000_000
    )
    return (
        base.join(F.broadcast(rates), "domain")
        .filter(u_ppm < F.col("rate_ppm"))
        .select("doc_id", "domain", "n_tokens", "rate_ppm")
    )


# ---------------------------------------------------------------------------
# URL-level crawl dedup (FineWeb stage 1)
# ---------------------------------------------------------------------------

# Synthetic per-doc URL, embedded in TEXT so the extraction + the
# canonicalization pipeline (lowercase host, utm strip) is genuinely
# exercised corpus-wide: every 3 consecutive doc ids share a canonical
# URL (the //3 block), while the RAW urls all differ (mixed host case +
# a per-doc utm parameter) — the dedup key only collides AFTER
# canonicalization, which is exactly the bug class this query certifies.
_URL_RAW_SQL = (
    "('https://Src' || CAST((doc_id // 3) % 5 AS VARCHAR)"
    " || '.Example.org/p/' || CAST(doc_id // 3 AS VARCHAR)"
    " || '?utm_t=' || CAST(doc_id AS VARCHAR))"
)


@register(
    "dedup_url",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id, text || ' ' || {_URL_RAW_SQL} AS text FROM documents
    ),
    keyed AS (
        SELECT doc_id,
               {TXT.canonicalize_url_sql(
                   f"list_extract({TXT.extract_urls_sql('text')}, 1)")}
                   AS url_canon
        FROM enriched
    )
    SELECT doc_id, url_canon,
           count(*) OVER (PARTITION BY url_canon) AS n_dupes,
           (doc_id = min(doc_id) OVER (PARTITION BY url_canon)) AS kept
    FROM keyed
    """,
    tags=("dedup", "url", "corpus"),
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level crawl dedup (r12): the FIRST stage of every web-corpus
    pipeline (FineWeb/CCNet dedup by canonical URL before any content
    hashing — refetches and tracking-parameter variants of one page must
    collapse to one document). Key = the canonicalized first URL
    (functions/text.canonicalize_url: lowercase scheme+host, default
    ports, fragments, utm params, trailing slash); keep = lowest doc_id
    per key. The fixture embeds a synthetic URL per document whose RAW
    form is unique (mixed host case + per-doc utm parameter) but whose
    CANONICAL form collides across every 3-id block — the dedup key only
    works if the canonicalization is exact, so a case/utm/port bug
    changes the group structure and hash-fails.

    Scale shape: one narrow extraction+canonicalization map, then one
    url-keyed exchange shared by both window functions (count + min over
    the same partitioning) — the same single-shuffle posture as
    dedup_exact, with the canonical string as the content key."""
    from pyspark.sql.window import Window

    # integer DIV on the Spark side to match the oracle's doc_id // 3 exactly:
    # double true-division + cast truncates (and rounds at large magnitudes),
    # which diverges from integer floor division off the fixture's id range.
    url_raw = F.concat(
        F.lit("https://Src"),
        (F.expr("doc_id DIV 3") % 5).cast("string"),
        F.lit(".Example.org/p/"),
        F.expr("doc_id DIV 3").cast("string"),
        F.lit("?utm_t="),
        F.col("doc_id").cast("string"),
    )
    enriched = t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(" "), url_raw).alias("text")
    )
    keyed = enriched.select(
        "doc_id",
        TXT.canonicalize_url(
            F.get(TXT.extract_urls(F.col("text")), 0)
        ).alias("url_canon"),
    )
    w = Window.partitionBy("url_canon")
    return keyed.select(
        "doc_id",
        "url_canon",
        F.count(F.lit(1)).over(w).alias("n_dupes"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("kept"),
    )


# ---------------------------------------------------------------------------
# C4-style page/line cleaning (Raffel et al. 2020)
# ---------------------------------------------------------------------------

# Multi-line seeds: the fixture text is single-line unpunctuated word
# salad (it exercises the DROP paths), so seeded pages cover the KEEP
# paths — real sentences, a javascript-warning line, a short line, a
# lorem-ipsum page, a brace page.
C4_SEEDS: tuple[tuple[int, str], ...] = (
    (
        -501,
        "This page has a real first sentence.\n"
        "It also has a second sentence with enough words!\n"
        "short line\n"
        "Please enable JavaScript to view the comments.\n"
        'A third proper sentence ends with a quote."\n'
        "And a fourth one closes the page?",
    ),
    (-502, "Lorem ipsum dolor sit amet, consectetur adipiscing elit."),
    (-503, "function f() { return 1; }\nReal sentence trapped in code."),
    (
        -504,
        "Only two sentences live here today.\n"
        "So the page-level sentence rule drops it.",
    ),
)


@register(
    "text_c4_filters",
    oracle=f"""
    WITH seed(doc_id, text) AS (VALUES {", ".join(
        f"({i}, '" + s.replace("'", "''").replace(chr(10), "' || chr(10) || '") + "')"
        for i, s in C4_SEEDS
    )}),
    docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM seed
    ),
    staged AS (
        SELECT doc_id, text,
               list_filter(
                   list_transform(string_split(coalesce(text, ''), chr(10)),
                                  l -> trim(l)),
                   l -> len(l) > 0) AS lns
        FROM docs
    ),
    kept AS (
        SELECT doc_id, text, lns,
               list_filter(lns,
                   l -> regexp_matches(l, '[.!?"]$')
                        AND len(string_split(l, ' ')) >= 5
                        AND NOT contains(lower(l), 'javascript')) AS keep
        FROM staged
    )
    SELECT doc_id,
           CAST(len(lns) AS BIGINT) AS n_lines,
           CAST(len(keep) AS BIGINT) AS n_kept_lines,
           coalesce(array_to_string(keep, chr(10)), '') AS clean_text,
           contains(lower(coalesce(text, '')), 'lorem ipsum') AS has_lorem,
           contains(coalesce(text, ''), '{{') AS has_brace,
           (NOT contains(lower(coalesce(text, '')), 'lorem ipsum')
            AND NOT contains(coalesce(text, ''), '{{')
            AND len(regexp_extract_all(
                    coalesce(array_to_string(keep, chr(10)), ''),
                    '[.!?]')) >= 3) AS keep_page
    FROM kept
    """,
    tags=("text", "quality", "corpus"),
)
def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style page and line cleaning (r12; Raffel et al. 2020,
    "Exploring the Limits of Transfer Learning" §2.2 — the rules behind
    the C4 corpus): per LINE keep only lines that end in terminal
    punctuation ([.!?"]), carry ≥ 5 words, and do not mention
    'javascript'; per PAGE flag lorem-ipsum placeholders and curly
    braces (code), and drop pages whose cleaned text has fewer than 3
    sentences. Emits the per-doc line counts, the rebuilt clean text,
    and the page verdict — the drop-list is ``keep_page = false``.

    Unlike boilerplate-strip (whose census is corpus-wide), every C4
    rule is a PURE per-line predicate, so the whole operator is one
    narrow map — no shuffle, no census, no state: filter/transform over
    the split line array and scalar regexes, exactly what survives a
    100 TB scan untouched. The fixture's word-salad docs exercise the
    drop paths; the seeded pages cover kept sentences, the javascript
    and short-line rules, and both page-level flags."""
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(list(C4_SEEDS), "doc_id long, text string")
        )
    )
    lns = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
            lambda l: F.trim(l),
        ),
        lambda l: F.length(l) > 0,
    )
    keep = F.filter(
        lns,
        lambda l: l.rlike('[.!?"]$')
        & (F.size(F.split(l, " ")) >= 5)
        & ~F.contains(F.lower(l), F.lit("javascript")),
    )
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    has_lorem = F.contains(low, F.lit("lorem ipsum"))
    has_brace = F.contains(
        F.coalesce(F.col("text"), F.lit("")), F.lit("{")
    )
    clean = F.array_join(keep, "\n")
    n_sentences = F.size(F.regexp_extract_all(clean, F.lit("[.!?]"), 0))
    return docs.select(
        "doc_id",
        F.size(lns).cast("long").alias("n_lines"),
        F.size(keep).cast("long").alias("n_kept_lines"),
        clean.alias("clean_text"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (~has_lorem & ~has_brace & (n_sentences >= 3)).alias("keep_page"),
    )


# ---------------------------------------------------------------------------
# Unicode NFC normalization (the CCNet/corpus-prep first pass)
# ---------------------------------------------------------------------------

# Seeds exercise the canonical-composition cases the fixture's ASCII
# text never hits: combining-mark composition, singleton replacements
# (ANGSTROM SIGN, OHM SIGN), Hangul Jamo composition, and combining
# CLASS REORDERING (dot-below before acute regardless of input order).
# All BMP, all stable since Unicode 3.0 — engine Unicode-version skew
# cannot touch them.
NFC_SEEDS: tuple[tuple[int, str], ...] = (
    (-601, "Cafe\u0301 composition"),
    (-602, "\u212b angstrom and \u2126 ohm singletons"),
    (-603, "\u1100\u1161\u11a8 hangul jamo"),
    (-604, "a\u0301\u0323 reorder to a\u0323\u0301"),
    (-605, "already caf\u00e9 fine"),
)


def _sql_quote(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


@register(
    "text_nfc_normalize",
    oracle=f"""
    WITH seed(doc_id, text) AS (VALUES {", ".join(
        f"({i}, {_sql_quote(t_)})" for i, t_ in NFC_SEEDS
    )}),
    docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM seed
    )
    SELECT doc_id,
           nfc_normalize(coalesce(text, '')) AS nfc_text,
           nfc_normalize(coalesce(text, '')) <> coalesce(text, '')
               AS changed,
           CAST(len(coalesce(text, '')) AS BIGINT) AS n_cp_raw,
           CAST(len(nfc_normalize(coalesce(text, ''))) AS BIGINT)
               AS n_cp_nfc
    FROM docs
    """,
    tags=("text", "corpus", "pandas_udf"),
)
def text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the corpus-prep FIRST pass every
    real pipeline runs before hashing or deduplicating text (CCNet
    normalizes before anything else; two byte-distinct spellings of
    ``cafe\u0301`` vs ``caf\u00e9`` must dedup as one document). The
    engine applies ``unicodedata.normalize("NFC", ...)`` in an Arrow
    ``mapInPandas`` batch — the DECLARED Python path, justified the
    same way the codecs are: canonical composition needs the Unicode
    character tables, which no built-in column expression carries. The
    oracle runs DuckDB's independent ``nfc_normalize`` implementation,
    so the hash gate certifies cross-IMPLEMENTATION agreement on the
    Unicode standard itself (codepoint counts too — both engines count
    codepoints, measured). Seeded rows cover composition, singletons,
    Hangul Jamo, and combining-class reordering; the fixture corpus
    certifies the (dominant) already-normalized fast path.

    Scale: one narrow Arrow pass, zero shuffles — the cheapest
    possible operator shape."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(list(NFC_SEEDS), "doc_id long, text string")
        )
    )

    def batches(it):
        import unicodedata

        import pandas as pd

        for pdf in it:
            raw = [x if x is not None else "" for x in pdf["text"]]
            nfc = [unicodedata.normalize("NFC", x) for x in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "nfc_text": nfc,
                    "changed": [a != b for a, b in zip(nfc, raw)],
                    "n_cp_raw": [len(x) for x in raw],
                    "n_cp_nfc": [len(x) for x in nfc],
                }
            )

    return docs.mapInPandas(
        batches,
        schema=(
            "doc_id long, nfc_text string, changed boolean,"
            " n_cp_raw long, n_cp_nfc long"
        ),
    )


# NFC-aware exact dedup seeds: byte-DISTINCT, NFC-EQUAL twins. The
# decomposed member reuses NFC_SEEDS' -601 text; the composed twin
# must collide with it after normalization — the FineWeb/CCNet reason
# the NFC pass runs before any hashing.
DEDUP_NFC_SEEDS: tuple[tuple[int, str], ...] = (
    (-611, "Caf\u00e9 composition"),  # composed twin of -601
    (-612, "\u00c5 angstrom and \u03a9 ohm singletons"),  # of -602
)


@register(
    "dedup_nfc_exact",
    oracle=f"""
    WITH seed(doc_id, text) AS (VALUES {", ".join(
        f"({i}, {_sql_quote(t_)})" for i, t_ in (*NFC_SEEDS, *DEDUP_NFC_SEEDS)
    )}),
    docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM seed
    )
    SELECT {TXT.fingerprint_sql("nfc_normalize(coalesce(text, ''))")} AS fp,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM docs GROUP BY 1
    """,
    tags=("dedup", "text", "corpus", "pandas_udf"),
)
def dedup_nfc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER Unicode NFC normalization — the reason the NFC
    pass precedes hashing in every real pipeline: ``Cafe\u0301`` and
    ``Caf\u00e9`` are byte-distinct spellings of one document, so a
    plain content-hash dedup keeps both while the NFC-aware one
    collapses them (the seeded twins make exactly that collision happen
    under the hash gate — their groups MUST report n_copies=2 where
    dedup_exact would report two singletons). Pipeline shape: the NFC
    Arrow pass (text_nfc_normalize's batch fn) feeds the standard
    exact-dedup hash-groupBy — one narrow map, then ONE shuffle on the
    128-bit fingerprint, the dedup_exact scale contract unchanged."""
    from ..operators import dedup as DD

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [*NFC_SEEDS, *DEDUP_NFC_SEEDS], "doc_id long, text string"
            )
        )
    )

    def batches(it):
        import unicodedata

        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "nfc_text": [
                        unicodedata.normalize("NFC", x)
                        if x is not None
                        else ""
                        for x in pdf["text"]
                    ],
                }
            )

    nfc = docs.mapInPandas(batches, schema="doc_id long, nfc_text string")
    return DD.exact_dedup(nfc, "doc_id", "nfc_text")


# ---------------------------------------------------------------------------
# Sequential pattern matching (MATCH_RECOGNIZE-shape, window-only)
# ---------------------------------------------------------------------------

# Max minutes between consecutive stages. The fixture's median intra-user
# event gap is ~8 h (15 users spread over months), so a web-session-scale
# 30 min window matches nothing — 12 h exercises the operator non-vacuously
# while still rejecting most candidate chains.
_PATTERN_GAP_MIN = 720


@register(
    "events_pattern_match",
    oracle=f"""
    WITH staged AS (
        SELECT user_id, event_id, event_type, ts,
               last_value(CASE WHEN event_type = 'view' THEN ts END
                          IGNORE NULLS)
                   OVER w AS last_view_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    carts AS (
        SELECT user_id, event_id, event_type, ts,
               last_value(CASE WHEN event_type = 'click'
                                AND last_view_ts IS NOT NULL
                                AND ts - last_view_ts
                                    <= INTERVAL {_PATTERN_GAP_MIN} MINUTE
                               THEN ts END IGNORE NULLS)
                   OVER w AS q_click_ts,
               last_value(CASE WHEN event_type = 'click'
                                AND last_view_ts IS NOT NULL
                                AND ts - last_view_ts
                                    <= INTERVAL {_PATTERN_GAP_MIN} MINUTE
                               THEN last_view_ts END IGNORE NULLS)
                   OVER w AS q_view_ts
        FROM staged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, q_view_ts AS view_ts, q_click_ts AS click_ts,
           ts AS purchase_ts, event_id AS purchase_event_id
    FROM carts
    WHERE event_type = 'purchase' AND q_click_ts IS NOT NULL
      AND ts - q_click_ts <= INTERVAL {_PATTERN_GAP_MIN} MINUTE
    """,
    tags=("events", "pattern", "window"),
    bench=True,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-shape sequential pattern detection, window-only:
    find view → click → purchase chains per user with each stage ≤
    ``_PATTERN_GAP_MIN`` (720 min = 12 h; the fixture's ~8 h median
    inter-event gap leaves a 30-min gap with zero matches) after the
    previous, emitting the stage timestamps per match.
    Where events_funnel counts stage reach, this EXTRACTS match instances.

    No self-joins: two ordered window passes per user (last qualifying
    stage-k timestamp carried forward via last_value IGNORE NULLS — the
    two carried columns always come from the same row because both take
    the LAST qualifier in the same frame). Scale: shuffles once on
    user_id; state per row is O(stages), independent of history length —
    the same shape Flink CEP compiles to. Ties broken by (ts, event_id)
    identically in both engines."""
    gap = F.expr(f"INTERVAL {_PATTERN_GAP_MIN} MINUTES")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    staged = ev.withColumn(
        "last_view_ts",
        F.last(
            F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    q_click = F.when(
        (F.col("event_type") == "click")
        & F.col("last_view_ts").isNotNull()
        & (F.col("ts") <= F.col("last_view_ts") + gap),
        F.col("ts"),
    )
    q_view = F.when(
        (F.col("event_type") == "click")
        & F.col("last_view_ts").isNotNull()
        & (F.col("ts") <= F.col("last_view_ts") + gap),
        F.col("last_view_ts"),
    )
    carts = staged.withColumn(
        "q_click_ts", F.last(q_click, ignorenulls=True).over(w)
    ).withColumn("q_view_ts", F.last(q_view, ignorenulls=True).over(w))
    return carts.filter(
        (F.col("event_type") == "purchase")
        & F.col("q_click_ts").isNotNull()
        & (F.col("ts") <= F.col("q_click_ts") + gap)
    ).select(
        "user_id",
        F.col("q_view_ts").alias("view_ts"),
        F.col("q_click_ts").alias("click_ts"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_event_id"),
    )


# ---------------------------------------------------------------------------
# Z-order data layout (multi-dimensional clustering for file skipping)
# ---------------------------------------------------------------------------

_Z_BITS = 8  # per-dimension bit budget AFTER normalization
_Z_FILES = 16
_Z_EPOCH = "1995-01-01"  # fixture o_orderdate min


def _morton_col(x, y):
    """Spark-side Morton z-value — the shared production implementation
    (operators/layout.morton_col, which commit_zordered also uses)."""
    from ..operators.layout import morton_col

    return morton_col(x, y, _Z_BITS)


def _morton_sql(x: str, y: str) -> str:
    return " + ".join(
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )


@register(
    "layout_zorder",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey AS okey, o_custkey AS x,
               CAST(datediff('day', DATE '{_Z_EPOCH}',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        FROM orders
    ),
    ext AS (SELECT min(x) AS minx, max(x) AS maxx,
                   min(y) AS miny, max(y) AS maxy FROM pts),
    normed AS (
        SELECT okey, x, y,
               (x - minx) * {2 ** _Z_BITS} // (maxx - minx + 1) AS xs,
               (y - miny) * {2 ** _Z_BITS} // (maxy - miny + 1) AS ys
        FROM pts CROSS JOIN ext
    ),
    keyed AS (
        SELECT okey, x, y, {_morton_sql('xs', 'ys')} AS zval FROM normed
    ),
    filed AS (
        SELECT x, y,
               ntile({_Z_FILES}) OVER (ORDER BY zval, okey) AS file_id,
               ntile({_Z_FILES}) OVER (ORDER BY y, okey) AS file_lin
        FROM keyed
    )
    SELECT 'zorder' AS layout, file_id, count(*) AS rows_n,
           min(x) AS min_cust, max(x) AS max_cust,
           min(y) AS min_day, max(y) AS max_day
    FROM filed GROUP BY file_id
    UNION ALL
    SELECT 'linear' AS layout, file_lin AS file_id, count(*) AS rows_n,
           min(x) AS min_cust, max(x) AS max_cust,
           min(y) AS min_day, max(y) AS max_day
    FROM filed GROUP BY file_lin
    """,
    tags=("layout", "lake", "zorder"),
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) multi-dimensional clustering — the Delta
    OPTIMIZE ZORDER BY / Iceberg sort-order layout primitive: interleave
    the bits of (custkey, order-day) so that file-sized runs of the sort
    order are simultaneously narrow in BOTH dimensions, letting min/max
    file statistics skip files for predicates on EITHER column (a linear
    date sort gives every file the full custkey range). Emits per-file
    min/max stats for a 16-file split of each layout; the skipping win is
    asserted in tests/test_curation.py.

    Both dimensions are first NORMALIZED to the same 8-bit budget via an
    integer-exact min/max scale (one tiny agg, broadcast back) — raw
    interleaving of unequal-width columns silently degenerates to a sort
    on the wider column's high bits (the fixture's day offsets carry 12
    bits vs custkey's 8, so unnormalized z-order IS the date sort; Delta
    solves the same problem with per-column range ids). The z-value is a
    pure unrolled integer expression (codegen, no UDF). ntile() here is a
    test-scale stand-in for the production write path —
    df.repartitionByRange(n, zval).sortWithinPartitions(zval).write — which
    needs only a range-partitioner sample pass, not a global sort."""
    pts = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("x"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_Z_EPOCH))
        .cast("long")
        .alias("y"),
    )
    ext = pts.agg(
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("y").alias("miny"),
        F.max("y").alias("maxy"),
    )
    scale = 2 ** _Z_BITS
    normed = pts.crossJoin(F.broadcast(ext)).select(
        "okey",
        "x",
        "y",
        F.expr(f"(x - minx) * {scale} div (maxx - minx + 1)").alias("xs"),
        F.expr(f"(y - miny) * {scale} div (maxy - miny + 1)").alias("ys"),
    )
    keyed = normed.select(
        "okey", "x", "y", _morton_col(F.col("xs"), F.col("ys")).alias("zval")
    )
    filed = keyed.select(
        "x",
        "y",
        F.ntile(_Z_FILES).over(Window.orderBy("zval", "okey")).alias("file_id"),
        F.ntile(_Z_FILES).over(Window.orderBy("y", "okey")).alias("file_lin"),
    )

    def stats(layout: str, key: str) -> DataFrame:
        return filed.groupBy(F.col(key).alias("file_id")).agg(
            F.count("*").alias("rows_n"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
        ).select(F.lit(layout).alias("layout"), "*")

    return stats("zorder", "file_id").unionByName(stats("linear", "file_lin"))


# ---------------------------------------------------------------------------
# Importance sampling (DSIR-shape hashed n-gram log-ratio weighting)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_TOP = 200

# The fixture's five languages share ONE 31-word vocabulary (synthetic
# salad — zero distributional signal between labels), so the target/source
# contrast is seeded: 20 docs of a distinctive "math-paper" flavor (10
# declared TARGET, 10 held out) and 10 of an off-domain "spam" flavor.
# DSIR must pull the held-out target-flavored docs to the top without ever
# being told they are target — that is the operator's entire claim.
_DSIR_A = (
    "theorem lemma manifold tensor spectral operator topology hilbert "
    "eigenvalue convergence bounded compact metric norm dual adjoint"
).split()
_DSIR_B = (
    "jackpot casino bonus spins lucky winner prize deposit cashout "
    "megawin roulette slots"
).split()


def _dsir_doc(vocab: list[str], i: int, n: int = 40) -> str:
    return " ".join(vocab[(i * 7 + k * 3) % len(vocab)] for k in range(n))


_DSIR_SEEDS: tuple[tuple[int, str, str, str], ...] = tuple(
    [(-9000 - i, "en", "tgt_seed", _dsir_doc(_DSIR_A, i)) for i in range(10)]
    + [(-9100 - i, "en", "tgt_holdout", _dsir_doc(_DSIR_A, i + 10)) for i in range(10)]
    + [(-9200 - i, "xx", "off_seed", _dsir_doc(_DSIR_B, i)) for i in range(10)]
)

_DSIR_SEED_VALUES = ", ".join(
    f"({i}, '{lang}', '{src}', '{txt}')" for i, lang, src, txt in _DSIR_SEEDS
)


@register(
    "sample_importance",
    oracle=f"""
    WITH seed(doc_id, lang, source, text) AS (VALUES {_DSIR_SEED_VALUES}),
    corpus AS (
        SELECT doc_id, lang, source, text FROM documents
        UNION ALL SELECT doc_id, lang, source, text FROM seed
    ),
    toks AS MATERIALIZED (
        SELECT doc_id, lang, source,
               (('0x' || substr(md5(unnest({TXT.tokens_sql('text')})), 1, 8))
                ::BIGINT % {_DSIR_BUCKETS}) AS b
        FROM corpus
    ),
    sb AS (SELECT b, count(*) AS s_n FROM toks GROUP BY b),
    tb AS (SELECT b, count(*) AS t_n FROM toks
           WHERE source = 'tgt_seed' GROUP BY b),
    tot AS (SELECT (SELECT sum(s_n) FROM sb) AS s_tot,
                   (SELECT coalesce(sum(t_n), 0) FROM tb) AS t_tot),
    lr AS (
        SELECT sb.b,
               CAST(floor((ln((coalesce(tb.t_n, 0) + 0.5)
                              / (tot.t_tot + {_DSIR_BUCKETS / 2}))
                           - ln((sb.s_n + 0.5)
                                / (tot.s_tot + {_DSIR_BUCKETS / 2})))
                          * 1000000000) AS BIGINT) AS lr_q
        FROM sb LEFT JOIN tb USING (b) CROSS JOIN tot
    )
    SELECT doc_id, lang, n_tokens, score
    FROM (
        SELECT t.doc_id, t.lang, count(*) AS n_tokens,
               round(sum(lr.lr_q) / 1e9 / count(*), 6) AS score
        FROM toks t JOIN lr USING (b)
        GROUP BY t.doc_id, t.lang)
    ORDER BY score DESC, doc_id
    LIMIT {_DSIR_TOP}
    """,
    tags=("sampling", "corpus", "importance"),
    bench=True,
)
def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shape importance sampling (Xie et al. 2023, arXiv:2302.03169):
    score every document by the mean hashed-unigram log-likelihood ratio
    between a TARGET domain (here the seeded 'tgt_seed' docs; a quality
    corpus like Wikipedia in production) and the full source corpus, then
    keep the top-N — the data-selection step that tilts a raw crawl toward
    a target distribution without training a model.

    Scale shape (r11 rework — r9 VERDICT item 7): features are md5-hashed
    into {_DSIR_BUCKETS} buckets, so both distributions collapse map-side
    (one conditional-count aggregation pass) to a ≤{_DSIR_BUCKETS}-row
    integer log-ratio table that is COLLECTED to the driver — bounded by
    the bucket constant, never by the data, the same posture as the IVF
    centroid collect — and re-enters the plan as a constant-folded array
    literal. Scoring is then a PURE COLUMN expression: per document,
    ``aggregate`` over the token-bucket array with an O(1) array-index
    lookup per token — no token-level materialization, no scoring join,
    and NO corpus shuffle anywhere (the old plan persisted the exploded
    tokens and shuffled them on doc_id): the only exchanges are the
    {_DSIR_BUCKETS}-group census and the TakeOrderedAndProject top-N.
    The corpus is scanned twice (census + scoring) — at 100 TB two
    narrow scans beat materializing a token-exploded copy. lr_q crosses
    the driver as BIGINT (fixed-point floor(lr*1e9), the repo
    convention), so the detour is exact — integer per-doc sums are
    order-free, and the float log arithmetic stays inside the census
    query where it is bit-identical to the oracle's. Laplace(0.5)
    smoothing keeps empty buckets finite. The held-out target-flavored
    seeds (never labeled target) must surface at the top — asserted in
    tests/test_curation.py."""
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "text")
        .unionByName(
            spark.createDataFrame(
                list(_DSIR_SEEDS),
                "doc_id long, lang string, source string, text string",
            )
        )
    )
    from pyspark.sql.window import Window

    from ..caching import scoped_persist

    bucket = lambda c: (  # noqa: E731 — shared by census and scoring
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")
        % _DSIR_BUCKETS
    )
    # The hashed-unigram bucket arrays are STAGED ONCE: tokenize+hash is
    # the dominant narrow cost and feeds both the census and the scoring
    # pass (the text normalizer's regex work would otherwise run twice).
    # r16: spread that narrow cost out of the single scan task first
    # (production no-op — guide §2.5).
    staged = scoped_persist(
        "curation.dsir_bs",
        rebalance_for_compute(docs).select(
            "doc_id",
            "lang",
            "source",
            F.transform(TXT.tokens(F.col("text")), bucket).alias("bs"),
        ),
    )
    # Census + log-ratio in ONE collected job: the totals are unpartitioned
    # window sums over the ≤ _DSIR_BUCKETS aggregated rows, so the float
    # log arithmetic stays a JVM expression over exact integer inputs and
    # no second pass (or broadcast-side recompute) ever touches the corpus.
    half = _DSIR_BUCKETS / 2
    wall = Window.partitionBy()
    lr = (
        staged.select("source", F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("s_n"),
            F.count(F.when(F.col("source") == "tgt_seed", 1)).alias("t_n"),
        )
        .select(
            "b",
            F.floor(
                (
                    F.log(
                        (F.col("t_n") + 0.5)
                        / (F.sum("t_n").over(wall) + half)
                    )
                    - F.log(
                        (F.col("s_n") + 0.5)
                        / (F.sum("s_n").over(wall) + half)
                    )
                )
                * 1e9
            )
            .cast("bigint")
            .alias("lr_q"),
        )
        .collect()
    )
    # ≤ _DSIR_BUCKETS integer rows — a constant-bounded driver action.
    # Unobserved buckets can never be indexed (bs only contains observed
    # buckets by construction), so the filler 0 is dead. One F.lit on the
    # whole list: per-element lit() calls are 1024 py4j round trips (~2 s
    # of pure driver latency, measured).
    lut = [0] * _DSIR_BUCKETS
    for row in lr:
        lut[row["b"]] = row["lr_q"]
    lr_arr = F.lit([int(v) for v in lut])
    # Zero-token docs are EXCLUDED, not scored: sum/size divides by 0 →
    # NULL, and a NULL score must never enter the top-N tail (the old
    # explode+groupBy plan excluded such docs structurally; the r11
    # join-free rewrite has to do it explicitly).
    return (
        staged.filter(F.size("bs") > 0)
        .select(
            "doc_id",
            "lang",
            F.size("bs").cast("long").alias("n_tokens"),
            F.round(
                F.aggregate(
                    "bs",
                    F.lit(0).cast("bigint"),
                    lambda acc, b: acc
                    + F.element_at(lr_arr, (b + 1).cast("int")),
                )
                / 1e9
                / F.size("bs"),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_DSIR_TOP)
    )


# ---------------------------------------------------------------------------
# Batched similarity serving (many queries per scan)
# ---------------------------------------------------------------------------

_BATCH_TOPK = 5
_BATCH_NQ = 8


@register(
    "sim_topk_batch",
    oracle=f"""
    WITH queries AS (
        SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
        WHERE vec_id % 61 = 0
        ORDER BY vec_id LIMIT {_BATCH_NQ}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round({V.cosine_sql('e.embedding', 'q.qvec')}, 6) AS cosine
        FROM embeddings e CROSS JOIN queries q
    )
    SELECT query_id, vec_id, cosine
    FROM (SELECT query_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_BATCH_TOPK}
    """,
    tags=("similarity", "topk", "ann"),
)
def sim_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED exact top-k — the realistic serving shape: amortize ONE
    corpus scan across a whole batch of query vectors instead of one scan
    per query (sim_topk_bruteforce is the single-query baseline). The
    query batch broadcasts; per-query top-k is a rank window partitioned
    by query_id, which compiles to WindowGroupLimit (per-partition top-k
    heaps below the shuffle — plan-asserted in tests/test_plans.py), so
    the shuffle carries ≤ batch×k rows per partition, not the scored
    corpus. Deterministic: cosine rounded, vec_id tie-break."""
    emb = t(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") % 61 == 0)
        .orderBy("vec_id")
        .limit(_BATCH_NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    scored = emb.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(V.cosine(F.col("embedding"), F.col("qvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BATCH_TOPK)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Streaming exact dedup (dropDuplicatesWithinWatermark, hash-oracled)
# ---------------------------------------------------------------------------

@register(
    "stream_dedup_exact",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup as a REAL streaming job: the landing dir
    holds the events fixture plus EXACT copies of every 7th event;
    ``dropDuplicatesWithinWatermark`` on event_id must restore the
    original relation — which makes the plain events table a full hash
    oracle of streaming dedup semantics (duplicates are identical rows,
    so whichever copy wins, the output is deterministic).

    Scale shape: keyed state bounded by the 30-min watermark — the whole
    point of dedup-within-watermark vs an unbounded dropDuplicates: at
    100 TB/day the state store holds one key per event inside the
    watermark horizon, not the corpus' full history (the incremental
    dedup-vs-corpus operator covers the beyond-horizon case). The drain
    is one AvailableNow micro-batch, so no duplicate straddles a
    watermark advance and none can be dropped as late."""
    base = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def build(landing):
        dups = base.filter(F.col("event_id") % 7 == 0)
        base.unionByName(dups).write.mode("overwrite").parquet(landing)
        return landing

    landing = built_once(sf_dir, "events", "sg_dedup_landing_", build)
    stream = spark.readStream.schema(base.schema).parquet(landing)
    dd = SP.dedup_stream(stream, watermark="30 minutes")
    return SP.run_to_memory(dd, "dedup_stream", output_mode="append")


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join (watermark-honest oracle)
# ---------------------------------------------------------------------------


@register(
    "stream_interval_join_outer",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM c))
                  - INTERVAL 2 HOUR AS w),
    matched AS (
        SELECT v.event_id AS view_id, c.event_id AS click_id,
               v.user_id AS user_id, v.ts AS view_ts, c.ts AS click_ts
        FROM v JOIN c ON c.user_id = v.user_id AND v.ts <= c.ts
                      AND c.ts < v.ts + INTERVAL 30 MINUTE
    ),
    unmatched AS (
        SELECT v.event_id AS view_id, CAST(NULL AS BIGINT) AS click_id,
               v.user_id AS user_id, v.ts AS view_ts,
               CAST(NULL AS TIMESTAMP) AS click_ts
        FROM v CROSS JOIN wm
        WHERE NOT EXISTS (
            SELECT 1 FROM c WHERE c.user_id = v.user_id AND v.ts <= c.ts
                              AND c.ts < v.ts + INTERVAL 30 MINUTE)
          AND v.ts + INTERVAL 30 MINUTE <= wm.w
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    tags=("streaming", "join", "outer"),
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER interval join — unattributed-view
    reporting: every view emits, either with its attributing click (same
    30-min window as stream_interval_join) or with NULLs once the
    watermark proves no click can still arrive.

    The oracle encodes the REAL outer-join watermark semantics, not the
    batch left join: a null row emits iff the view's match window END has
    passed the final global watermark (min of both sides' max event time,
    minus the 2 h delay) — views in the last watermark horizon stay in
    state and never emit, and the `v.ts + window <= wm` (not `v.ts <= wm`)
    boundary was pinned empirically at sf0.01, where the two rules differ
    by 2 rows. Matched pairs emit immediately and match the batch inner
    join exactly. Same bounded-replay honesty as
    stream_watermark_eviction."""
    return _stream_view_click_join(spark, sf_dir, "leftOuter", with_user=True)


def _stream_view_click_join(
    spark: SparkSession, sf_dir: str, how: str, with_user: bool
) -> DataFrame:
    """Shared scaffolding for the outer-join streaming twins: land the
    click/view streams, watermark both sides 2 h, interval-join
    (v.ts <= c.ts < v.ts + 30 min) with join type ``how``, drain
    AvailableNow. ONE definition of the window/watermark/condition — a
    drift between the left-outer and full-outer cells would silently
    split the matrix (review catch r5)."""
    import os
    import tempfile

    base = tempfile.mkdtemp(prefix="sg_ssjo_")
    cdir, vdir, ckpt, out = (
        os.path.join(base, d) for d in ("clicks", "views", "ckpt", "out")
    )
    ev = t(spark, sf_dir, "events")
    with SP.scoped_conf(spark, "spark.sql.shuffle.partitions", SP.STATE_SHARDS):
        ev.filter(F.col("event_type") == "click").coalesce(1).write.mode(
            "overwrite"
        ).parquet(cdir)
        ev.filter(F.col("event_type") == "view").coalesce(1).write.mode(
            "overwrite"
        ).parquet(vdir)
        c = SP.stream_events(spark, cdir).withWatermark("ts", "2 hours").alias("c")
        v = SP.stream_events(spark, vdir).withWatermark("ts", "2 hours").alias("v")
        cols = [
            F.col("v.event_id").alias("view_id"),
            F.col("c.event_id").alias("click_id"),
            *([F.col("v.user_id").alias("user_id")] if with_user else []),
            F.col("v.ts").alias("view_ts"),
            F.col("c.ts").alias("click_ts"),
        ]
        j = v.join(
            c,
            F.expr(
                "c.user_id = v.user_id AND v.ts <= c.ts "
                "AND c.ts < v.ts + interval 30 minutes"
            ),
            how,
        ).select(*cols)
        SP.run_available_now(j, ckpt, out)
    return spark.read.parquet(out)


@register(
    "stream_interval_join_full",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM c))
                  - INTERVAL 2 HOUR AS w),
    matched AS (
        SELECT v.event_id AS view_id, c.event_id AS click_id,
               v.ts AS view_ts, c.ts AS click_ts
        FROM v JOIN c ON c.user_id = v.user_id AND v.ts <= c.ts
                      AND c.ts < v.ts + INTERVAL 30 MINUTE
    ),
    unmatched_v AS (
        SELECT v.event_id AS view_id, CAST(NULL AS BIGINT) AS click_id,
               v.ts AS view_ts, CAST(NULL AS TIMESTAMP) AS click_ts
        FROM v CROSS JOIN wm
        WHERE NOT EXISTS (
            SELECT 1 FROM c WHERE c.user_id = v.user_id AND v.ts <= c.ts
                              AND c.ts < v.ts + INTERVAL 30 MINUTE)
          AND v.ts + INTERVAL 30 MINUTE <= wm.w
    ),
    unmatched_c AS (
        SELECT CAST(NULL AS BIGINT) AS view_id, c.event_id AS click_id,
               CAST(NULL AS TIMESTAMP) AS view_ts, c.ts AS click_ts
        FROM c CROSS JOIN wm
        WHERE NOT EXISTS (
            SELECT 1 FROM v WHERE v.user_id = c.user_id AND v.ts <= c.ts
                              AND c.ts < v.ts + INTERVAL 30 MINUTE)
          AND c.ts <= wm.w
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched_v
    UNION ALL SELECT * FROM unmatched_c
    """,
    tags=("streaming", "join", "outer"),
)
def stream_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM FULL OUTER interval join — the last cell of the
    streaming-join matrix (inner / left outer / stream-static elsewhere):
    matched view-click pairs emit immediately; each side's unmatched rows
    emit with NULLs once the watermark proves the other side can no
    longer produce a match.

    The two null-emission boundaries are ASYMMETRIC because the join
    window is one-sided (v.ts <= c.ts < v.ts + 30 min): a view stops
    waiting when its window END passes the global watermark
    (`v.ts + 30 min <= wm`, same rule the left-outer twin pinned), but a
    click's latest possible matching view has v.ts = c.ts, so it stops
    waiting at `c.ts <= wm` — no +window term. Both verified empirically
    at sf0.01 AND sf0.001 against the bounded replay (sub-second ts
    jitter makes watermark ties measure-zero, so <= vs < is
    indistinguishable on these fixtures; <= matches the left-outer
    convention)."""
    return _stream_view_click_join(spark, sf_dir, "fullOuter", with_user=False)


# ---------------------------------------------------------------------------
# Custom stateful streaming operator, fully hash-oracled
# ---------------------------------------------------------------------------


@register(
    "stream_running_totals",
    oracle="""
    SELECT user_id,
           round(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1e6, 6)
               AS total_value,
           count(*) AS n_seen
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL streaming operator (applyInPandasWithState —
    per-key mutable state in Arrow batches) run as a real streaming job
    and hash-checked against its batch aggregate: state accumulates
    fixed-point int64 micro-units, so the emitted totals are exact and
    order-independent — which is precisely what makes a custom stateful
    operator oracle-able at all (a float-accumulating state would drift
    with batch splits). One AvailableNow micro-batch → one update row per
    key = the final totals."""
    from .extensions import _events_landing

    landing = _events_landing(spark, sf_dir)
    stream = SP.running_totals_stateful(SP.stream_events(spark, landing))
    return SP.run_to_memory(stream, "totals_stream", output_mode="update")


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@register(
    "stream_running_totals_tws",
    # Same fixed-point-exact state convention as stream_running_totals,
    # so the same relational restatement is the oracle; the extra
    # max_value column exercises a second named-state field.
    oracle="""
    SELECT user_id,
           round(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1e6, 6)
               AS total_value,
           count(*) AS n_seen,
           round(max(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1e6, 6)
               AS max_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_running_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transformWithStateInPandas`` — Spark 4's named-state successor to
    applyInPandasWithState — run as a real streaming job and hash-checked
    against its batch aggregate (env-gated through round 5; unblocked in
    r6 by vendoring the Google Cloud SDK's pure-python protobuf runtime
    into the streaming runner's path, streaming/pipeline.ensure_protobuf).
    State is a single ValueState holding exact int64 micro-units + count
    + max, so the update-mode emission after one AvailableNow drain is
    bit-identical to the relational restatement. The RocksDB state store
    provider (required: the API uses multiple column families, which the
    HDFS-backed provider rejects) is scoped to this query and restored."""
    from .extensions import _events_landing

    if not SP.tws_available(spark):
        raise RuntimeError(
            "transformWithStateInPandas unavailable: no google.protobuf "
            "and no vendorable pure-python runtime found "
            "(SPARK_GRAFT_PROTOBUF_PATH)"
        )
    landing = _events_landing(spark, sf_dir)
    with SP.scoped_conf(
        spark, "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    ):
        stream = SP.running_totals_tws(SP.stream_events(spark, landing))
        return SP.run_to_memory(stream, "tws_stream", output_mode="update")


@register(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment, c.c_name
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
    tags=("streaming", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast enrichment — the remaining cell of the
    streaming-join matrix (stream-stream inner/outer interval joins are
    covered by stream_interval_join/_outer): a streaming event feed joined
    to a static dimension. The static side re-broadcasts per micro-batch
    with no state store at all — the scale-preferred join whenever one
    side is a slowly-changing dim, since a stream-stream join would hold
    BOTH sides in state. Stateless ⇒ append mode, exact rows ⇒ full hash
    oracle. Drained AvailableNow to a memory sink like the other
    streaming queries."""
    from .extensions import _events_landing

    landing = _events_landing(spark, sf_dir)
    stream = SP.stream_events(spark, landing)
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_name"
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "event_type", "c_mktsegment", "c_name"
    )
    return SP.run_to_memory(enriched, "enrich_stream", output_mode="append")


# ---------------------------------------------------------------------------
# Retention cohorts (event analytics)
# ---------------------------------------------------------------------------


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(datediff('day', f.cohort_week,
                             date_trunc('week', e.ts)) // 7 AS BIGINT)
                   AS week_offset
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           count(*) AS n_active
    FROM activity GROUP BY cohort_week, week_offset
    """,
    tags=("events", "analytics", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the classic product-analytics rollup:
    users are cohorted by the week of their FIRST event; each (cohort
    week, week offset) cell counts distinct users active that many weeks
    later. Week offsets are exact (both engines Monday-truncate and the
    day difference of two week starts is a multiple of 7).

    Scale shape: one agg for first-touch (map-side combine to |users|),
    the cohort relation joins back BROADCAST (users ≪ events), then one
    distinct + agg on (cohort, offset) — no window over the full event
    history, no self-join."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")), F.col("cohort_week")
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )


@register(
    "stream_scd2_apply",
    oracle="""
    WITH changes AS (
        SELECT user_id, ts, max(value) AS tier
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    marked AS (
        SELECT user_id, ts, tier,
               lag(tier) OVER (PARTITION BY user_id ORDER BY ts) AS prev_tier
        FROM changes
    ),
    suppressed AS (
        SELECT user_id, ts, tier FROM marked
        WHERE prev_tier IS NULL OR tier <> prev_tier
    )
    SELECT user_id, tier, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts)
                AS BIGINT) AS version
    FROM suppressed
    ORDER BY user_id, version
    """,
    tags=("streaming", "lake", "scd", "cdc", "window"),
)
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING type-2 SCD maintenance — the dimension-history
    complement of stream_merge_apply's type-1 latest-state apply: a
    time-chunked change stream (purchase events split at an event-time
    cutoff, replayed in event-time order by streaming/pipeline.replay)
    folds into a committed history table batch by batch. Each
    micro-batch: dedupe per (user, ts), suppress changes equal to the
    user's CURRENT tier (cross-batch suppression — the lag chain
    continues across the boundary), CLOSE the open row at the first
    kept change's timestamp, append new versions numbered from the
    user's current version, and commit with a txn watermark so a
    retried batch is a no-op.

    The ORACLE IS THE BATCH BUILD over all changes at once (the same
    construction as scd2_point_in_time's history CTE): the hash gate is
    therefore the stream-chop invariance proof — incremental maintenance
    over time-ordered chunks must converge to exactly the relational
    history, version numbers, closed intervals, NULL-open current rows
    and all. The raw-lag suppression equals compare-to-last-kept because
    a suppressed run carries its value forward (the scd2_history
    argument), and the cutoff chunking guarantees per-user in-order
    arrival — the watermark assumption a real SCD2 feed runs under.

    Scale: per batch, one shuffle on user_id (lag/lead/row_number share
    the sort), one broadcast-able join against the open rows, one keyed
    join to close them; the commit is a pointer swap. Built once per
    source generation (fingerprint-keyed); later calls scan the table."""
    import os as _os

    from ..sources import table_commit as TC

    def build(work):
        root = _os.path.join(work, "tbl")
        hist_schema = (
            "user_id bigint, tier double, valid_from timestamp, "
            "valid_to timestamp, version bigint"
        )
        TC.commit(spark.createDataFrame([], hist_schema), root)

        changes = (
            t(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("tier"))
        )
        cutoff = changes.agg(
            F.min("ts") + (F.max("ts") - F.min("ts")) / 2
        ).first()[0]

        def apply_batch(bdf, batch_id: int) -> None:
            sp = bdf.sparkSession
            tgt = TC.read_table(sp, root)
            ch = bdf.groupBy("user_id", "ts").agg(F.max("tier").alias("tier"))
            cur = tgt.filter(F.col("valid_to").isNull()).select(
                "user_id",
                F.col("tier").alias("_cur_tier"),
                F.col("version").alias("_cur_ver"),
            )
            w = Window.partitionBy("user_id").orderBy("ts")
            marked = ch.join(cur, "user_id", "left").withColumn(
                "_prev", F.coalesce(F.lag("tier").over(w), F.col("_cur_tier"))
            )
            kept = marked.filter(
                F.col("_prev").isNull() | (F.col("tier") != F.col("_prev"))
            )
            new_rows = kept.select(
                "user_id",
                "tier",
                F.col("ts").alias("valid_from"),
                F.lead("ts").over(w).alias("valid_to"),
                (
                    F.coalesce(F.col("_cur_ver"), F.lit(0))
                    + F.row_number().over(w)
                ).alias("version"),
            )
            first_new = kept.groupBy("user_id").agg(
                F.min("ts").alias("_first")
            )
            closed = tgt.join(first_new, "user_id", "left").select(
                "user_id",
                "tier",
                "valid_from",
                F.when(
                    F.col("valid_to").isNull() & F.col("_first").isNotNull(),
                    F.col("_first"),
                )
                .otherwise(F.col("valid_to"))
                .alias("valid_to"),
                "version",
            )
            TC.commit(
                closed.unionByName(new_rows),
                root,
                mode="overwrite",
                _operation="scd2_apply",
                txn=("stream_scd2", batch_id),
            )

        SP.replay(
            [
                changes.filter(F.col("ts") < cutoff),
                changes.filter(F.col("ts") >= cutoff),
            ],
            work,
            apply_batch,
        )
        return root

    root = built_once(sf_dir, "events", "sg_scd2_", build)
    return TC.read_table(spark, root).orderBy("user_id", "version")


# ---------------------------------------------------------------------------
# Frozen-merges BPE tokenization (r13 — r12 VERDICT item 2)
# ---------------------------------------------------------------------------

from ..functions import bpe as BPE  # noqa: E402

BPE_HEAD_TOKENS = 12
BPE_PACK_BUDGET = 320  # BPE tokens per packed training sequence


def _bpe_doc_cols_sql() -> str:
    """The shared oracle fragment: per-document BPE state → count + head.

    Rendered from the SAME frozen merges table as the Spark expressions
    (functions/bpe.MERGES), so the two engines cannot drift: a wrong
    merge rank, a missed overlap, or a boundary leak changes the token
    stream and hash-fails."""
    state = BPE.doc_state_sql("text")
    render = BPE.render_sql(state)
    return f"""
           CAST(len({BPE.words_sql('text')}) AS BIGINT) AS n_words,
           {BPE.token_count_sql(state)} AS n_bpe_tokens,
           coalesce(array_to_string(
               string_split({render}, ' ')[1:{BPE_HEAD_TOKENS}], ' '),
               '') AS tokens_head"""


@register(
    "text_bpe_tokenize",
    oracle=f"""
    SELECT doc_id,{_bpe_doc_cols_sql()}
    FROM documents
    """,
    tags=("text", "tokenize", "corpus"),
    bench=True,
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-merges byte-pair encoding over every document (r13): the
    real tokenizer-token budget every training pipeline uses, replacing
    the whitespace proxy. Per doc: word count, exact BPE token count,
    and the first {BPE_HEAD_TOKENS} tokens of the encoded stream — the
    head string pins the actual token SEQUENCES (merge order, overlap
    resolution, word boundaries), not just counts.

    Engine shape (functions/bpe.py): the encoder is ONE narrow
    projection — each word marker-encoded ``\\x1etok\\x1f``, then one
    plain string replace per merge rank (exhaustive leftmost-first by
    the replace contract; a merge can never create its own pair, so a
    single pass per rank IS the greedy fold — proven in the module
    docstring and pinned by tests against an independent reference
    encoder). No UDF, no shuffle, no per-round loop: at 100 TB this is
    a map over the corpus scan with the frozen merges folded into the
    expression as constants."""
    st = BPE.doc_state(F.col("text"))
    toks = F.split(BPE.render(st), " ")
    # r16 (guide §2.5): the merge-replace chain is the whole cost and is
    # otherwise pinned to the scan task (the fixture is one row group) —
    # spread it first; on a splittable production lake the probe makes
    # this a no-op and the projection stays exchange-free.
    return rebalance_for_compute(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size(BPE.words(F.col("text"))).cast("long").alias("n_words"),
        BPE.token_count(st).alias("n_bpe_tokens"),
        F.array_join(F.slice(toks, 1, BPE_HEAD_TOKENS), " ").alias(
            "tokens_head"
        ),
    )


@register(
    "corpus_pack_sequences_bpe",
    oracle=f"""
    WITH tk AS (
        SELECT source, doc_id,
               {BPE.token_count_sql(BPE.doc_state_sql('text'))} AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT source, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) - n_tokens
                    AS BIGINT) AS start_offset
        FROM tk
    )
    SELECT source, doc_id, n_tokens, start_offset,
           CAST(floor(start_offset / {BPE_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           (CAST(floor(start_offset / {BPE_PACK_BUDGET}.0) AS BIGINT)
            <> CAST(floor((start_offset + n_tokens - 1) / {BPE_PACK_BUDGET}.0)
                    AS BIGINT)) AS crosses_boundary
    FROM cum
    """,
    tags=("corpus", "packing", "tokenize"),
)
def corpus_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_pack_sequences' production twin (r13): identical packing
    logic — per-source cumulative offsets cut every BPE_PACK_BUDGET
    tokens — but budgeted in REAL tokenizer tokens (functions/bpe.py)
    instead of whitespace tokens, which is what a training loader
    actually packs by. Same single `source`-keyed window exchange; the
    tokenizer itself adds zero shuffles (one narrow projection), so the
    scale shape is unchanged from the whitespace twin."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = BPE.token_count(BPE.doc_state(F.col("text")))
    docs = t(spark, sf_dir, "documents").select(
        "source", "doc_id", n.alias("n_tokens")
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    cum = docs.select("source", "doc_id", "n_tokens", start)
    pack = F.floor(F.col("start_offset") / float(BPE_PACK_BUDGET)).cast("long")
    end_pack = F.floor(
        (F.col("start_offset") + F.col("n_tokens") - 1) / float(BPE_PACK_BUDGET)
    ).cast("long")
    return cum.select(
        "source",
        "doc_id",
        "n_tokens",
        "start_offset",
        pack.alias("pack_id"),
        (pack != end_pack).alias("crosses_boundary"),
    )


BPE_TRAIN_ROUNDS = 6


def _bpe_train_oracle(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """K unrolled training rounds in DuckDB: state_k → pair counts →
    deterministic argmax (count DESC, a, b) → state_{k+1} via the same
    single-replace merge application the encoder uses. An empty corpus
    propagates empty best relations, so both engines emit fewer rows in
    lockstep rather than diverging on a stop condition."""
    o, c = ord(BPE.O), ord(BPE.C)
    ctes = [
        f"s1 AS (SELECT doc_id, {BPE.initial_state_sql('text')} AS state"
        "  FROM documents)"
    ]
    outs = []
    for k in range(1, rounds + 1):
        ctes.append(f"""
    p{k} AS (
        SELECT pr.a AS a, pr.b AS b, count(*) AS cnt
        FROM (
            SELECT unnest(list_transform(range(1, len(tk)),
                          i -> struct_pack(a := tk[i], b := tk[i + 1])))
                   AS pr
            FROM (SELECT {BPE.word_tokens_sql('ws')} AS tk
                  FROM (SELECT unnest(string_split(state, ' ')) AS ws
                        FROM s{k}))
            WHERE len(tk) >= 2
        )
        GROUP BY 1, 2
    ),
    b{k} AS (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1)""")
        if k < rounds:
            ctes.append(f"""
    s{k + 1} AS (
        SELECT doc_id,
               replace(state,
                       chr({o}) || a || chr({c}) || chr({o}) || b || chr({c}),
                       chr({o}) || a || b || chr({c})) AS state
        FROM s{k} CROSS JOIN b{k}
    )""")
        outs.append(
            f"SELECT {k} AS merge_rank, a, b, a || b AS merged, cnt FROM b{k}"
        )
    return (
        "WITH " + ",".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(outs)
    )


@register(
    "text_bpe_train",
    oracle=_bpe_train_oracle(),
    tags=("text", "tokenize", "iterative", "corpus"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING in-engine (r13): learn the merges table from the
    corpus itself — the iterative sibling of text_bpe_tokenize's frozen
    table, and the registry's fourth bounded-round recurrence (with
    pagerank, SSSP, IRLS). Each round: (1) extract every adjacent token
    pair from the current state strings (word-local — pairs never span
    words), (2) count pair frequencies corpus-wide (the textbook
    definition counts overlapping occurrences: token run ``a a a``
    contributes (a,a) twice), (3) take the deterministic argmax
    (count DESC, then lexicographic (a, b) — a TOTAL order, so the
    learned table is reproducible), (4) apply the winning merge with
    the encoder's own single-replace rule. Output: one row per learned
    merge (merge_rank, a, b, merged, cnt). The DuckDB oracle unrolls
    the same K rounds as chained CTEs, so the driver's exact-hash gate
    certifies the TRAINER, not just the encoder.

    Scale shape: per round ONE map-combined pair-count exchange over
    the corpus plus a scalar argmax collected to the driver (a bounded
    1-row aggregate, the IRLS/centroid pattern) folded into the next
    round's replace as literals; the state relation itself never
    shuffles. K passes over the corpus is BPE training's nature — real
    tokenizer training runs on a corpus SAMPLE with pair-delta updates;
    this is the reference fixed-round form, bounded like the IRLS
    loop. The initial state is persisted once so round k evaluates k
    cheap replaces, not the word extraction, per pass. Deliberately NOT
    in the headline bench set: 6 training passes measure 9.0 s quiet at
    sf0.1 (the pair-explode is the corpus token stream, six times) —
    training is an offline job, not a serving query; correctness is
    certified at sf0.01 AND sf1 instead (68.5 s / 50k docs)."""
    from ..caching import scoped_persist

    base = t(spark, sf_dir, "documents").select(
        "doc_id", BPE.initial_state(F.col("text")).alias("state")
    )
    base = scoped_persist("bpe.train_initial_state", base)

    state = F.col("state")
    learned: list[tuple[int, str, str, str, int]] = []
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        # generators must be top-level select expressions: explode the
        # word states first, extract token lists second
        ws_df = base.select(F.explode(F.split(state, " ")).alias("ws"))
        tk = ws_df.select(
            BPE.word_tokens(F.col("ws")).alias("tk")
        ).filter(F.size("tk") >= 2)
        pairs = tk.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> struct(element_at(tk, i) AS a, "
                    "element_at(tk, i + 1) AS b))"
                )
            ).alias("pr")
        ).select("pr.a", "pr.b")
        best = (
            pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        learned.append((k, a, b, a + b, cnt))
        pat, rep = BPE.merge_pattern(a, b)
        state = F.replace(state, F.lit(pat), F.lit(rep))
    return spark.createDataFrame(
        learned, "merge_rank int, a string, b string, merged string, cnt bigint"
    )


BPE_SAMPLED_ROUNDS = 64  # merges learned by the sampled delta trainer
BPE_SAMPLE_MOD = 5  # deterministic 20% doc sample: doc_id % 5 = 0


def _bpe_sampled_train_ctes(rounds: int) -> list[str]:
    """The sampled trainer's recurrence as a MATERIALIZED CTE chain —
    over the DISTINCT-WORD frequency vocab the production trainer
    actually iterates (pair totals are identical to per-occurrence
    counting because pairs never span words), so the hash gate
    certifies the collapse AND the merge sequence. Every CTE is
    MATERIALIZED: b{k} feeds both v{k+1} and downstream consumers, and
    v CTEs chain — at 64 rounds, inlining would re-expand the shared
    subtrees exponentially (the 6-round r13 oracle survives inlining;
    this one must not rely on it). Shared by the trainer oracle and
    the train→apply oracle."""
    o, c = ord(BPE.O), ord(BPE.C)
    enc = f"regexp_replace(w, '(.)', chr({o}) || '\\1' || chr({c}), 'g')"
    ctes = [
        f"""v1 AS MATERIALIZED (
        SELECT {enc} AS state, CAST(count(*) AS BIGINT) AS wc
        FROM (SELECT unnest({BPE.words_sql('text')}) AS w
              FROM documents WHERE doc_id % {BPE_SAMPLE_MOD} = 0)
        GROUP BY 1)"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""
    p{k} AS MATERIALIZED (
        SELECT pr.a AS a, pr.b AS b, CAST(sum(wt) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_transform(range(1, len(tk)),
                          i -> struct_pack(a := tk[i], b := tk[i + 1])))
                   AS pr,
                   wc AS wt
            FROM (SELECT {BPE.word_tokens_sql('state')} AS tk, wc FROM v{k})
            WHERE len(tk) >= 2
        )
        GROUP BY 1, 2
    ),
    b{k} AS MATERIALIZED (
        SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1)""")
        if k < rounds:
            ctes.append(f"""
    v{k + 1} AS MATERIALIZED (
        SELECT replace(state,
                       chr({o}) || a || chr({c}) || chr({o}) || b || chr({c}),
                       chr({o}) || a || b || chr({c})) AS state, wc
        FROM v{k} CROSS JOIN b{k}
    )""")
    return ctes


def _bpe_train_sampled_oracle(rounds: int = BPE_SAMPLED_ROUNDS) -> str:
    """Trainer output: one row per learned merge. Empty corpora
    propagate empty best relations, so both engines emit fewer rows in
    lockstep."""
    outs = [
        f"SELECT {k} AS merge_rank, a, b, a || b AS merged, cnt FROM b{k}"
        for k in range(1, rounds + 1)
    ]
    return (
        "WITH " + ",".join(_bpe_sampled_train_ctes(rounds)) + "\n    "
        + "\n    UNION ALL ".join(outs)
    )


def _bpe_train_apply_oracle(rounds: int = BPE_SAMPLED_ROUNDS) -> str:
    """Train on the sample, then ENCODE THE WHOLE CORPUS with the
    learned table: the training chain above, then 64 apply CTEs — each
    replaces one learned merge in every document's state, LEFT-joined
    so an exhausted training run (empty b{k}) applies only the learned
    prefix instead of vanishing the corpus."""
    o, c = ord(BPE.O), ord(BPE.C)
    ctes = _bpe_sampled_train_ctes(rounds)
    ctes.append(f"""
    d0 AS MATERIALIZED (
        SELECT doc_id, {BPE.initial_state_sql('text')} AS state
        FROM documents)""")
    for k in range(1, rounds + 1):
        ctes.append(f"""
    d{k} AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN b.a IS NULL THEN state
                    ELSE replace(state,
                                 chr({o}) || b.a || chr({c}) || chr({o})
                                     || b.b || chr({c}),
                                 chr({o}) || b.a || b.b || chr({c})) END
                   AS state
        FROM d{k - 1} LEFT JOIN b{k} b ON true
    )""")
    state = f"d{rounds}.state"
    render = BPE.render_sql(state)
    return (
        "WITH " + ",".join(ctes) + f"""
    SELECT doc_id,
           {BPE.token_count_sql(state)} AS n_tokens,
           coalesce(array_to_string(
               string_split({render}, ' ')[1:{BPE_HEAD_TOKENS}], ' '),
               '') AS tokens_head
    FROM d{rounds}"""
    )


@register(
    "text_bpe_train_sampled",
    oracle=_bpe_train_sampled_oracle(),
    tags=("text", "tokenize", "iterative", "corpus"),
)
def text_bpe_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION BPE trainer (r14 — r13 VERDICT item 1): learn
    {BPE_SAMPLED_ROUNDS} merges from a deterministic 20% corpus sample
    (doc_id % {BPE_SAMPLE_MOD} = 0) with pair-count DELTA maintenance
    over the distinct-word frequency vocab, replacing text_bpe_train's
    K-full-corpus-pass fixed-round form. Algorithm, exactness proof,
    loop discipline, and the measured passes-vs-deltas comparison live
    in operators/bpetrain.py; the DuckDB oracle unrolls the identical
    recurrence ({BPE_SAMPLED_ROUNDS} MATERIALIZED rounds over the same
    collapsed vocab), so the driver's hash gate certifies the sampling
    predicate, the word-frequency collapse, the delta identity, and
    every learned (rank, pair, count) row.

    Deliberately NOT in the headline bench set, same as text_bpe_train:
    training is an offline job (64 driver-synchronized rounds), not a
    serving query; the cost profile is recorded in the operator
    docstring and certified at sf0.01 AND sf1 instead."""
    from ..operators.bpetrain import train_merges_delta

    sample = t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % BPE_SAMPLE_MOD) == 0
    )
    learned = train_merges_delta(sample, rounds=BPE_SAMPLED_ROUNDS)
    return spark.createDataFrame(
        learned, "merge_rank int, a string, b string, merged string, cnt bigint"
    )


BPE_BATCH_ROUNDS = 16  # driver rounds of the batched trainer
BPE_BATCH_K = 16  # frontier width collected per driver round


def _bpe_batched_train_ctes(rounds: int, k: int) -> list[str]:
    """The BATCHED trainer's recurrence (operators/bpetrain.
    train_merges_batched) as a CTE chain (the WITH is RECURSIVE): per
    round, recount pairs over the vocab (p), rank the top-``k``
    frontier (rk), run the GREEDY maximal-independent-set walk as a
    depth-``k`` recursive CTE carrying the used-token list (g — a
    candidate is kept iff its {a, b, a+b} triple avoids every
    previously-kept triple), project the kept rows (s), then apply ALL
    selected replaces in rank order via one list_reduce (v). Disjoint
    patterns commute, so the fold order is immaterial; the chr(1)
    separator encodes (pattern, replacement) pairs inside one VARCHAR
    list element — chr(1) can never appear in a token (tokens are
    [a-z0-9] wrapped in chr(30)/chr(31) markers)."""
    o, c = ord(BPE.O), ord(BPE.C)
    enc = f"regexp_replace(w, '(.)', chr({o}) || '\\1' || chr({c}), 'g')"
    ctes = [
        f"""v1 AS MATERIALIZED (
        SELECT {enc} AS state, CAST(count(*) AS BIGINT) AS wc
        FROM (SELECT unnest({BPE.words_sql('text')}) AS w
              FROM documents WHERE doc_id % {BPE_SAMPLE_MOD} = 0)
        GROUP BY 1)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""
    p{r} AS MATERIALIZED (
        SELECT pr.a AS a, pr.b AS b, CAST(sum(wt) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_transform(range(1, len(tk)),
                          i -> struct_pack(a := tk[i], b := tk[i + 1])))
                   AS pr,
                   wc AS wt
            FROM (SELECT {BPE.word_tokens_sql('state')} AS tk, wc FROM v{r})
            WHERE len(tk) >= 2
        )
        GROUP BY 1, 2
    ),
    rk{r} AS MATERIALIZED (
        SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a, b) AS rn
        FROM p{r} QUALIFY rn <= {k}
    ),
    g{r} AS (
        SELECT 0 AS rn, ''::VARCHAR AS a, ''::VARCHAR AS b,
               0::BIGINT AS cnt, []::VARCHAR[] AS used, FALSE AS picked
        UNION ALL
        SELECT x.rn, x.a, x.b, x.cnt,
               CASE WHEN NOT (list_contains(g.used, x.a)
                              OR list_contains(g.used, x.b)
                              OR list_contains(g.used, x.a || x.b))
                    THEN list_concat(g.used, [x.a, x.b, x.a || x.b])
                    ELSE g.used END,
               NOT (list_contains(g.used, x.a)
                    OR list_contains(g.used, x.b)
                    OR list_contains(g.used, x.a || x.b))
        FROM g{r} g JOIN rk{r} x ON x.rn = g.rn + 1
    ),
    s{r} AS MATERIALIZED (
        SELECT a, b, cnt, row_number() OVER (ORDER BY rn) AS pick
        FROM g{r} WHERE picked
    )""")
        if r < rounds:
            ctes.append(f"""
    v{r + 1} AS MATERIALIZED (
        SELECT list_reduce(
                 list_prepend(state,
                   (SELECT coalesce(list(
                        chr({o}) || a || chr({c}) || chr({o}) || b || chr({c})
                            || chr(1)
                            || chr({o}) || a || b || chr({c})
                        ORDER BY pick), [])
                    FROM s{r})),
                 (acc, mp) -> replace(acc,
                                      string_split(mp, chr(1))[1],
                                      string_split(mp, chr(1))[2])) AS state,
               wc
        FROM v{r}
    )""")
    return ctes


def _bpe_train_batched_oracle(
    rounds: int = BPE_BATCH_ROUNDS, k: int = BPE_BATCH_K
) -> str:
    """One row per learned merge, globally ranked by (round, pick) —
    the engine's sequential append order. Rounds whose frontier is
    empty (fully collapsed vocab) contribute zero rows in lockstep."""
    outs = [
        f"SELECT {r} AS rnd, pick, a, b, a || b AS merged, cnt FROM s{r}"
        for r in range(1, rounds + 1)
    ]
    return (
        "WITH RECURSIVE " + ",".join(_bpe_batched_train_ctes(rounds, k))
        + """
    SELECT CAST(row_number() OVER (ORDER BY rnd, pick) AS INT)
               AS merge_rank,
           a, b, merged, cnt
    FROM ("""
        + "\n    UNION ALL ".join(outs)
        + ")"
    )


@register(
    "text_bpe_train_batched",
    oracle=_bpe_train_batched_oracle(),
    tags=("text", "tokenize", "iterative", "corpus"),
)
def text_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VOCAB-SCALE trainer config (r15 — r14 VERDICT item 2):
    {BPE_BATCH_ROUNDS} driver rounds x top-{BPE_BATCH_K} frontier =
    up to {BPE_BATCH_ROUNDS * BPE_BATCH_K} merges, with per-merge
    driver latency amortized across each batch — the fix for the
    delta trainer's one-argmax-collect-per-merge shape, which at a
    real 32k-100k vocab is hours of py4j round-trip latency. Batch
    semantics (greedy token-disjoint frontier subsets; why they
    commute and keep recorded counts exact) are proven in
    operators/bpetrain.train_merges_batched; the DuckDB oracle
    unrolls the identical batched recurrence (rank -> depth-K
    recursive greedy walk -> list_reduce fold of the selected
    replaces), so the hash gate certifies the frontier ranking, the
    selection rule, the commuting application, and every learned
    (rank, pair, count) row.

    Same sampling contract as text_bpe_train_sampled (deterministic
    20% sample, doc_id % {BPE_SAMPLE_MOD} = 0). Not in the headline
    bench set: training is an offline job; the measured
    driver-latency comparison lives in the trainer docstring and the
    sf0.01 + sf1 certs in SURVEY §8."""
    from ..operators.bpetrain import train_merges_batched

    sample = t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % BPE_SAMPLE_MOD) == 0
    )
    learned = train_merges_batched(
        sample, batch_rounds=BPE_BATCH_ROUNDS, batch_k=BPE_BATCH_K
    )
    return spark.createDataFrame(
        learned, "merge_rank int, a string, b string, merged string, cnt bigint"
    )


# ---------------------------------------------------------------------------
# Tokenizer-token unification (r14 — r13 VERDICT item 2): the domain
# budget and the Gopher stats gain BPE-token twins, since real pipelines
# cap domains and budget documents in TOKENIZER tokens; the whitespace
# originals stay registered as the cheap first-screen variants.
# ---------------------------------------------------------------------------

# At sf0.01 every source-domain holds ~4-5.5k BPE tokens (vs ~1.2k
# whitespace tokens — the frozen merges leave ~2.5 tokens/word on this
# corpus), so 3000 lands the fixture sources at rates ~0.55-0.74 (the
# truncating regime) while the seeded URL domains still cap at rate 1 —
# both least() branches exercised at the gate SF, same as the
# whitespace twin's 800.
_DOMAIN_BUDGET_BPE_TOKENS = 3000


def _domain_budget_bpe_oracle() -> str:
    from .extensions import HTML_SEEDS

    seed_vals = ", ".join(
        f"({i}, '" + s.replace("'", "''") + "', 'seed')" for i, s in HTML_SEEDS
    )
    first_url = f"list_extract({TXT.extract_urls_sql('text')}, 1)"
    n_bpe = BPE.token_count_sql(BPE.doc_state_sql("text"))
    return f"""
    WITH seed(doc_id, text, source) AS (VALUES {seed_vals}),
    docs AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL SELECT doc_id, text, source FROM seed
    ),
    base AS (
        SELECT doc_id,
               CASE WHEN len({TXT.extract_urls_sql('text')}) > 0
                    THEN regexp_extract(
                        {TXT.canonicalize_url_sql(first_url)},
                        '{_DOMAIN_HOST_RE}', 1)
                    ELSE source END AS domain,
               {n_bpe} AS n_bpe_tokens
        FROM docs
    ),
    rates AS (
        SELECT domain,
               least(1000000,
                     (1000000::BIGINT * {_DOMAIN_BUDGET_BPE_TOKENS})
                         // sum(n_bpe_tokens)) AS rate_ppm
        FROM base GROUP BY domain
    )
    SELECT b.doc_id, b.domain, b.n_bpe_tokens,
           CAST(r.rate_ppm AS BIGINT) AS rate_ppm
    FROM base b JOIN rates r USING (domain)
    WHERE (('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000) < r.rate_ppm
    """


@register(
    "corpus_domain_budget_bpe",
    oracle=_domain_budget_bpe_oracle(),
    tags=("sampling", "corpus", "domain", "tokenize"),
)
def corpus_domain_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_domain_budget's production twin: identical FineWeb-style
    per-domain capping — domain key, integer-ppm acceptance rate, md5
    coin, broadcast-back rate join, corpus never shuffles — but the
    budget is denominated in REAL tokenizer tokens (functions/bpe.py),
    which is what a training-data domain cap actually limits. The BPE
    count is one narrow expression over the same scan, so the scale
    shape is unchanged: one |domains|-row aggregate + a broadcast
    scalar predicate."""
    from .extensions import HTML_SEEDS

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .unionByName(
            spark.createDataFrame(
                [(i, s, "seed") for i, s in HTML_SEEDS],
                "doc_id long, text string, source string",
            )
        )
    )
    urls = TXT.extract_urls(F.col("text"))
    domain = F.when(
        F.size(urls) > 0,
        F.regexp_extract(
            TXT.canonicalize_url(F.get(urls, 0)), _DOMAIN_HOST_RE, 1
        ),
    ).otherwise(F.col("source"))
    base = docs.select(
        "doc_id",
        domain.alias("domain"),
        BPE.token_count(BPE.doc_state(F.col("text"))).alias("n_bpe_tokens"),
    )
    rates = (
        base.groupBy("domain")
        .agg(F.sum("n_bpe_tokens").alias("dom_tokens"))
        .select(
            "domain",
            F.least(
                F.lit(1_000_000).cast("bigint"),
                F.expr(
                    f"(1000000L * {_DOMAIN_BUDGET_BPE_TOKENS}) div dom_tokens"
                ),
            ).alias("rate_ppm"),
        )
    )
    u_ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1_000_000
    )
    return (
        base.join(F.broadcast(rates), "domain")
        .filter(u_ppm < F.col("rate_ppm"))
        .select("doc_id", "domain", "n_bpe_tokens", "rate_ppm")
    )


# Fertility gate: BPE tokens per word, integer ppm. The fixture corpus
# encodes at 2.89-4.18 tokens/word under the frozen merges; 4.5 keeps
# every fixture doc and fails the seeded gibberish (long consonant
# words the merges can't compress, ~7.9 tokens/word).
_BPE_FERTILITY_MAX_PPM = 4_500_000

# Seeds exercising the fertility gate's branches (the fixture alone
# would make it vacuous): -201 PASSES every Gopher rule (14 words, mean
# length 8.1, two stopwords, fully alphabetic) but its 9-char consonant
# words each cost 9 tokens — fertility ~7.86, bpe_pass false; -202
# passes both; -203 is wordless (NULL fertility, both flags false).
GOPHER_BPE_SEEDS: tuple[tuple[int, str], ...] = (
    (
        -201,
        "bcdfgjkmp cdfgjkmpb dfgjkmpbc fgjkmpbcd gjkmpbcdf jkmpbcdfg "
        "kmpbcdfgj mpbcdfgjk pbcdfgjkm bcdfgjkmp cdfgjkmpb dfgjkmpbc "
        "the and",
    ),
    (
        -202,
        "the merge table keeps these words inside their normal shape "
        "and that is all",
    ),
    (-203, "   "),
)


@register(
    "text_gopher_quality_bpe",
    oracle=f"""
    WITH seed(doc_id, text) AS (VALUES {", ".join(
        f"({i}, '" + s.replace("'", "''") + "')" for i, s in GOPHER_BPE_SEEDS
    )}),
    docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM seed
    ),
    feat AS (
        SELECT doc_id,
               CAST(len({BPE.words_sql('text')}) AS BIGINT) AS n_words,
               {BPE.token_count_sql(BPE.doc_state_sql('text'))}
                   AS n_bpe_tokens,
               {TXT.gopher_pass_sql(TXT.gopher_features_sql('text'))}
                   AS gopher_pass
        FROM docs
    ),
    fert AS (
        SELECT *,
               CASE WHEN n_words > 0
                    THEN (1000000 * n_bpe_tokens) // n_words END
                   AS fertility_ppm
        FROM feat
    )
    SELECT doc_id, n_words, n_bpe_tokens, fertility_ppm, gopher_pass,
           (gopher_pass AND coalesce(
               fertility_ppm <= {_BPE_FERTILITY_MAX_PPM}, false)) AS bpe_pass
    FROM fert
    """,
    tags=("text", "quality", "tokenize"),
)
def text_gopher_quality_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_gopher_quality's tokenizer-token twin: the same Gopher
    composite flag plus the two stats a token-budgeted pipeline needs —
    the document's exact BPE token count (what it costs to train on)
    and its FERTILITY (BPE tokens per word, integer ppm): text the
    tokenizer can't compress (OOV gibberish, mojibake, DNA-like
    strings) explodes toward one token per character, a quality signal
    word-level Gopher rules can't see. ``bpe_pass`` = gopher_pass AND
    fertility <= {_BPE_FERTILITY_MAX_PPM / 1e6} tokens/word. All pure
    Column expressions over one narrow scan — same no-shuffle 100 TB
    shape as the whitespace original."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    seed = spark.createDataFrame(
        list(GOPHER_BPE_SEEDS), "doc_id long, text string"
    )
    feats = TXT.gopher_features(F.col("text"))
    base = docs.unionByName(seed).select(
        "doc_id",
        F.size(BPE.words(F.col("text"))).cast("long").alias("n_words"),
        BPE.token_count(BPE.doc_state(F.col("text"))).alias("n_bpe_tokens"),
        TXT.gopher_pass(feats).alias("gopher_pass"),
    )
    fert = base.withColumn(
        "fertility_ppm",
        F.when(
            F.col("n_words") > 0,
            F.expr("(1000000L * n_bpe_tokens) div n_words"),
        ),
    )
    return fert.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        "fertility_ppm",
        "gopher_pass",
        (
            F.col("gopher_pass")
            & F.coalesce(
                F.col("fertility_ppm") <= _BPE_FERTILITY_MAX_PPM, F.lit(False)
            )
        ).alias("bpe_pass"),
    )


@register(
    "text_bpe_train_apply",
    oracle=_bpe_train_apply_oracle(),
    tags=("text", "tokenize", "iterative", "corpus"),
)
def text_bpe_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END tokenizer pipeline (r14): learn
    {BPE_SAMPLED_ROUNDS} merges from the deterministic 20% sample
    (text_bpe_train_sampled's trainer, operators/bpetrain.py), then
    ENCODE THE WHOLE CORPUS with the learned table — which is exactly
    what a training-data pipeline does: train the tokenizer once on a
    sample, tokenize everything with the frozen result. The encode side
    is text_bpe_tokenize's shape with the learned merges in place of
    the shipped table: one narrow projection, one plain replace per
    learned rank folded in as literals — zero shuffles beyond the
    trainer's own (rank-order replay is exact for a sequentially-learned
    table: each merge was applied exhaustively at learning time and no
    later merge can recreate an earlier pair it doesn't produce).
    Output per document: exact learned-token count and the first
    {BPE_HEAD_TOKENS} tokens (pinning actual sequences — merge order,
    overlap resolution, word boundaries — not just counts). The DuckDB
    oracle chains the trainer's {BPE_SAMPLED_ROUNDS} MATERIALIZED
    rounds with {BPE_SAMPLED_ROUNDS} corpus-wide apply CTEs
    (LEFT-joined so an exhausted training run applies only the learned
    prefix), so the hash gate certifies the COMPOSITION: a drift in
    any learned merge, its order, or the replay changes some document's
    token stream and hash-fails. Not in the headline bench set (the
    trainer's 64 driver rounds are an offline job, same reasoning as
    text_bpe_train); certified at sf0.01 AND sf1 instead."""
    from ..operators.bpetrain import train_merges_delta

    docs = t(spark, sf_dir, "documents")
    sample = docs.filter((F.col("doc_id") % BPE_SAMPLE_MOD) == 0)
    learned = train_merges_delta(sample, rounds=BPE_SAMPLED_ROUNDS)
    state = BPE.initial_state(F.col("text"))
    for _, a, b, _, _ in learned:
        pat, rep = BPE.merge_pattern(a, b)
        state = F.replace(state, F.lit(pat), F.lit(rep))
    toks = F.split(BPE.render(state), " ")
    return docs.select(
        "doc_id",
        BPE.token_count(state).alias("n_tokens"),
        F.array_join(F.slice(toks, 1, BPE_HEAD_TOKENS), " ").alias(
            "tokens_head"
        ),
    )


# ---------------------------------------------------------------------------
# Quality-gate ensemble (r14): the composed keep decision of a real
# curation pipeline, in ONE scan
# ---------------------------------------------------------------------------

ENSEMBLE_LANGS = ("en", "de", "es", "fr")  # target-language whitelist

# One seed per gate so every conjunct flips at least once (the fixture's
# single-line unpunctuated word salad fails C4 across the board):
# -701 passes every gate; -702 fails ONLY Gopher (zero stopwords);
# -703 fails ONLY C4 (no terminal punctuation anywhere); -704 fails
# ONLY fertility (9-char consonant words the frozen merges cannot
# compress, wrapped in real sentences with stopwords); -705 is -701's
# text under a non-target language tag.
ENSEMBLE_SEEDS: tuple[tuple[int, str, str], ...] = (
    (
        -701,
        "en",
        "the merge table keeps a normal shape today.\n"
        "these words flow into the second sentence here.\n"
        "and a third sentence closes it for sure.",
    ),
    (
        -702,
        "en",
        "cats jump over green fences quickly.\n"
        "dogs chase red cars around town.\n"
        "birds sing near tall trees daily.",
    ),
    (
        -703,
        "en",
        "the merge table keeps a normal shape today these words flow "
        "into a second part here and a third stretch closes it for sure",
    ),
    (
        -704,
        "en",
        "the bcdfgjkmp cdfgjkmpb dfgjkmpbc fgjkmpbcd gjkmpbcdf and it is.\n"
        "the jkmpbcdfg kmpbcdfgj mpbcdfgjk pbcdfgjkm bcdfgjkmp for it too.\n"
        "the dfgjkmpbc fgjkmpbcd gjkmpbcdf jkmpbcdfg kmpbcdfgj is a fine end.",
    ),
    (
        -705,
        "zh",
        "the merge table keeps a normal shape today.\n"
        "these words flow into the second sentence here.\n"
        "and a third sentence closes it for sure.",
    ),
)


def _ensemble_seed_values() -> str:
    return ", ".join(
        f"({i}, '{lang}', '"
        + s.replace("'", "''").replace(chr(10), "' || chr(10) || '")
        + "')"
        for i, lang, s in ENSEMBLE_SEEDS
    )


@register(
    "corpus_quality_ensemble",
    oracle=f"""
    WITH seed(doc_id, lang, text) AS (VALUES {_ensemble_seed_values()}),
    docs AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL SELECT doc_id, lang, text FROM seed
    ),
    gates AS (
        SELECT doc_id, lang,
               {TXT.gopher_pass_sql(TXT.gopher_features_sql('text'))}
                   AS gopher_pass,
               (NOT contains(lower(coalesce(text, '')), 'lorem ipsum')
                AND NOT contains(coalesce(text, ''), '{{')
                AND len(regexp_extract_all(
                        coalesce(array_to_string(
                            list_filter(
                                list_transform(
                                    string_split(coalesce(text, ''), chr(10)),
                                    l -> trim(l)),
                                l -> regexp_matches(l, '[.!?"]$')
                                     AND len(string_split(l, ' ')) >= 5
                                     AND NOT contains(lower(l), 'javascript')),
                            chr(10)), ''),
                        '[.!?]')) >= 3) AS keep_page,
               CASE WHEN len({BPE.words_sql('text')}) > 0
                    THEN (1000000 *
                          {BPE.token_count_sql(BPE.doc_state_sql('text'))})
                         // len({BPE.words_sql('text')}) END AS fertility_ppm,
               (lang IN {ENSEMBLE_LANGS!r}) AS lang_pass
        FROM docs
    )
    SELECT doc_id, lang, gopher_pass, keep_page, fertility_ppm, lang_pass,
           (gopher_pass AND keep_page AND lang_pass AND coalesce(
               fertility_ppm <= {_BPE_FERTILITY_MAX_PPM}, false)) AS keep
    FROM gates
    """,
    tags=("corpus", "quality", "tokenize"),
)
def corpus_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED keep decision of a real curation pipeline (r14) in
    one narrow scan: Gopher word-level rules AND C4 page cleaning AND
    tokenizer fertility AND a target-language whitelist — the four
    cheap gates every web corpus runs before any dedup or model-based
    scoring, certified as one conjunction so gate interaction (a doc
    passing three gates and failing the fourth) is itself under the
    hash. All four gates are pure Column expressions over the same
    scan: zero shuffles, survives a 100 TB scan untouched. The seeded
    docs flip each conjunct independently (ENSEMBLE_SEEDS); the
    whitelist gate uses the corpus lang TAG (the predicted-langid
    surface is certified separately by text_langid_predict — at scale
    the prediction feeds this tag)."""
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .unionByName(
            spark.createDataFrame(
                list(ENSEMBLE_SEEDS), "doc_id long, lang string, text string"
            )
        )
    )
    feats = TXT.gopher_features(F.col("text"))
    gopher = TXT.gopher_pass(feats)
    lns = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
            lambda l: F.trim(l),
        ),
        lambda l: F.length(l) > 0,
    )
    keep_lines = F.filter(
        lns,
        lambda l: l.rlike('[.!?"]$')
        & (F.size(F.split(l, " ")) >= 5)
        & ~F.contains(F.lower(l), F.lit("javascript")),
    )
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    n_sentences = F.size(
        F.regexp_extract_all(F.array_join(keep_lines, "\n"), F.lit("[.!?]"), 0)
    )
    keep_page = (
        ~F.contains(low, F.lit("lorem ipsum"))
        & ~F.contains(F.coalesce(F.col("text"), F.lit("")), F.lit("{"))
        & (n_sentences >= 3)
    )
    n_words = F.size(BPE.words(F.col("text"))).cast("long")
    n_bpe = BPE.token_count(BPE.doc_state(F.col("text")))
    staged = docs.select(
        "doc_id",
        "lang",
        gopher.alias("gopher_pass"),
        keep_page.alias("keep_page"),
        F.when(
            n_words > 0,
            (F.lit(1_000_000).cast("long") * n_bpe)
            .cast("long")
            .alias("x"),
        ).alias("_num"),
        n_words.alias("_nw"),
        F.col("lang").isin(*ENSEMBLE_LANGS).alias("lang_pass"),
    ).withColumn(
        "fertility_ppm", F.expr("_num div _nw")
    )
    return staged.select(
        "doc_id",
        "lang",
        "gopher_pass",
        "keep_page",
        "fertility_ppm",
        "lang_pass",
        (
            F.col("gopher_pass")
            & F.col("keep_page")
            & F.col("lang_pass")
            & F.coalesce(
                F.col("fertility_ppm") <= _BPE_FERTILITY_MAX_PPM, F.lit(False)
            )
        ).alias("keep"),
    )


@register(
    "stream_domain_budget_cutoff",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source AS domain,
               CAST({TXT.token_count_sql('text')} AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, domain, n_tokens,
               CAST(sum(n_tokens) OVER (
                        PARTITION BY domain
                        ORDER BY doc_id % 4, doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS cum_before
        FROM base
    )
    SELECT doc_id, domain, n_tokens, cum_before,
           (cum_before < {_DOMAIN_BUDGET_TOKENS}) AS accepted
    FROM cum
    """,
    tags=("streaming", "stateful", "corpus", "domain"),
)
def stream_domain_budget_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_domain_budget's STREAMING twin (r14): the prefix-truncation
    cutoff — accept each arriving doc while its domain has seen fewer
    than {_DOMAIN_BUDGET_TOKENS} whitespace tokens, then reject
    everything after. The batch twin deliberately caps by acceptance
    RATE (a cumulative window would serialize hot domains at rest); in
    streaming the cumulative form is natural — per-domain state is ONE
    int64 counter (streaming/pipeline.domain_budget_cutoff,
    applyInPandasWithState) and the cutoff is exact instead of
    in-expectation.

    The corpus drains in four micro-batches (doc_id % 4 chunk files
    landed in order by streaming/pipeline.land_in_order ×
    maxFilesPerTrigger=1), giving the arrival order
    (doc_id % 4, doc_id); the oracle restates the whole run as a
    window cumsum over exactly that order, so the hash gate certifies
    the state carrying across micro-batches (at sf0.01 every fixture
    domain's cutoff lands mid-stream — in batch 2 or 3 — so acceptance
    genuinely straddles batch boundaries). Tokens are counted JVM-side
    in the stream projection; the stateful handler touches only
    (doc_id, domain, n_tokens)."""
    import os as _os
    import tempfile

    feed = _os.path.join(tempfile.mkdtemp(prefix="sg_dombudget_"), "feed")
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    SP.land_in_order(
        [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)], feed
    )
    stream = (
        spark.readStream.schema("doc_id bigint, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .select(
            "doc_id",
            F.col("source").alias("domain"),
            TXT.token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
    )
    out = SP.domain_budget_cutoff(stream, budget=_DOMAIN_BUDGET_TOKENS)
    with SP.scoped_conf(spark, "spark.sql.shuffle.partitions", SP.STATE_SHARDS):
        return SP.run_to_memory(out, "dombudget", output_mode="update")


# ---------------------------------------------------------------------------
# Partition evolution (r14): two physical layouts, one logical table
# ---------------------------------------------------------------------------

@register(
    "table_partition_evolution_read",
    oracle="""
    SELECT o_orderkey, CAST(month(o_orderdate) AS INT) AS o_month,
           o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 2 = 0 AND month(o_orderdate) BETWEEN 3 AND 5
    UNION ALL
    SELECT o_orderkey, CAST(month(o_orderdate) AS INT) AS o_month,
           o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 2 = 1 AND month(o_orderdate) BETWEEN 3 AND 5
    """,
    tags=("lake", "partition", "evolution", "pruning"),
)
def table_partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION (the other Iceberg marquee metadata feature,
    beside schema_evolution_read): a table whose physical layout CHANGES
    between write epochs — epoch 1 range-lays half of orders by month
    alone (4 coarse files), epoch 2 appends the other half laid out by
    (month, status) (12 finer files) — while reads stay one logical
    table and a month predicate PRUNES ACROSS BOTH LAYOUTS. Iceberg
    realizes this with per-file partition specs; this engine gets the
    same property more generally from per-FILE min/max stats
    (sources/table_commit.read_table_pruned): a file's month range is
    whatever the layout made it, so evolving the layout is just writing
    differently-shaped files — no spec registry, no rewrite of old
    epochs, and pruning degrades gracefully to coarse files instead of
    breaking (stats prune, they never filter). The month-3..5 read must
    equal the plain SQL filter; tests assert the file-skipping really
    engages on BOTH epochs (tests/test_table_commit.py::
    test_partition_evolution_prunes_both_epochs).

    Scale shape: layout is a write-side repartitionByRange (one shuffle
    at ingest, amortized over every later pruned read); the manifest
    carries O(files) stats; the pruned read opens O(selectivity) files.
    Built once per fixture generation (fingerprint-keyed), then a lazy
    pruned scan."""
    from ..sources import table_commit as TC

    def build(root):
        base = t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.month("o_orderdate").cast("int").alias("o_month"),
            "o_orderstatus",
            "o_totalprice",
        )
        # epoch 1: partitioned by month only — 4 coarse range files
        TC.commit(
            base.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                4, "o_month"
            ),
            root,
            stats_cols=["o_month"],
        )
        # epoch 2 (the evolution): finer spec (month, status) — 12 files
        TC.commit(
            base.filter(F.col("o_orderkey") % 2 == 1).repartitionByRange(
                12, "o_month", "o_orderstatus"
            ),
            root,
            mode="append",
            stats_cols=["o_month", "o_orderstatus"],
        )
        return root

    root = built_once(sf_dir, "orders", "sg_part_evo_", build)
    return TC.read_table_pruned(spark, root, "o_month", 3, 5)


# ONE oracle string shared VERBATIM by table_layout_migration_read and
# stream_migrate_apply (r16): a migration interleaved with live streaming
# appends must leave exactly the table the batch migration leaves — rows
# moved between files, never changed — so both queries certify against
# the same plain filter over the full corpus through the same hash gate.
_LAYOUT_MIG_ORACLE = """
    SELECT o_orderkey, CAST(month(o_orderdate) AS INT) AS o_month,
           o_orderstatus, o_totalprice
    FROM orders
    WHERE month(o_orderdate) BETWEEN 3 AND 5
    """


@register(
    "table_layout_migration_read",
    oracle=_LAYOUT_MIG_ORACLE,
    tags=("lake", "partition", "evolution", "migration", "pruning"),
)
def table_layout_migration_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE path of partition evolution (r15 — r14 VERDICT item 4):
    table_partition_evolution_read leaves the table with two coexisting
    layouts forever; this query RETIRES the old one. It builds the same
    two-epoch table (epoch 1: half of orders in 4 coarse month-range
    files; epoch 2: the other half in 12 finer (month, status) files),
    then runs sources/table_commit.migrate_layout to rewrite ONLY the
    epoch-1 files under the epoch-2 spec — one O(migrated-bytes) read +
    one range shuffle, committed atomically through the manifest CAS as
    a metadata-only swap. Post-migration the whole table is uniformly
    (month, status)-laid and the month-3..5 pruned read must still
    equal the plain SQL filter: the hash gate certifies the migration
    moved BYTES, not rows.

    Time travel is preserved by construction (old manifests still list
    the old files, which are immutable and un-GC'd) — asserted with
    pre/post manifest and row-set checks in tests/test_table_commit.py
    ::test_migrate_layout_*, alongside the pruning-improves and
    vacuum-interplay assertions."""
    from ..sources import table_commit as TC

    def build(root):
        base = t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.month("o_orderdate").cast("int").alias("o_month"),
            "o_orderstatus",
            "o_totalprice",
        )
        TC.commit(
            base.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                4, "o_month"
            ),
            root,
            stats_cols=["o_month"],
        )
        TC.commit(
            base.filter(F.col("o_orderkey") % 2 == 1).repartitionByRange(
                12, "o_month", "o_orderstatus"
            ),
            root,
            mode="append",
            stats_cols=["o_month", "o_orderstatus"],
        )
        # The migration: rewrite the epoch-1 files (and only them) under
        # the finer spec. Epoch membership comes from the immutable
        # write-prefix naming — v00000001's data prefix IS epoch 1.
        epoch1 = [
            f for f in TC.read_snapshot(root).files if "/v00000001-" in f
        ]
        TC.migrate_layout(
            spark,
            root,
            layout_cols=["o_month", "o_orderstatus"],
            n_files=12,
            files=epoch1,
            stats_cols=["o_month", "o_orderstatus"],
        )
        return root

    root = built_once(sf_dir, "orders", "sg_layout_mig_", build)
    return TC.read_table_pruned(spark, root, "o_month", 3, 5)


@register(
    "stream_migrate_apply",
    oracle=_LAYOUT_MIG_ORACLE,
    tags=("streaming", "lake", "migration", "partition", "evolution"),
)
def stream_migrate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAYOUT MIGRATION UNDER A LIVE WRITER (r16 — r15 VERDICT item 8,
    the lake family's batch-op + streaming-twin pattern applied to
    migrate_layout): a foreachBatch writer keeps appending orders
    micro-batches to the table under txn commits while the migration
    rewrites the initial coarse epoch to the finer (month, status)
    spec MID-STREAM — after the second append lands, before the third.
    Every step goes through the real manifest CAS, including the
    _replace_files liveness validation (a racing rewrite of the same
    files would abort the migration instead of duplicating rows —
    tests/test_table_commit.py pins that abort path directly).

    Invariances certified: (1) the oracle is
    table_layout_migration_read's VERBATIM — the full corpus's plain
    month filter — so interleaving appends with the migration must
    leave exactly the rows the batch migration leaves; (2) the
    migration step is IDEMPOTENT under micro-batch retry: it targets
    whatever old-epoch files the CURRENT snapshot still lists, so a
    replayed batch finds none and skips (txn watermarks already no-op
    the replayed append itself); (3) chop-invariance and the
    crash/race windows are pinned in tests.

    Scale shape: appends are metadata commits of pre-shuffled batches;
    the migration reads ONLY the coarse epoch (O(migrated-bytes)) and
    never blocks the writer — between its read_snapshot and its CAS
    the writer may land more appends, and the commit validation makes
    that safe, not racy. The final pruned read shows the whole table
    uniformly finer-laid."""
    import os as _os

    from ..sources import table_commit as TC

    def build(work):
        base = t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.month("o_orderdate").cast("int").alias("o_month"),
            "o_orderstatus",
            "o_totalprice",
        )
        root = _os.path.join(work, "tbl")
        # Epoch 1: a quarter of orders under the COARSE spec.
        TC.commit(
            base.filter(F.col("o_orderkey") % 4 == 0).repartitionByRange(
                4, "o_month"
            ),
            root,
            stats_cols=["o_month"],
        )

        def apply_batch(bdf, batch_id: int) -> None:
            sp = bdf.sparkSession
            TC.commit(
                bdf.repartitionByRange(4, "o_month", "o_orderstatus"),
                root,
                mode="append",
                _operation="stream-append",
                stats_cols=["o_month", "o_orderstatus"],
                txn=("stream_mig", batch_id),
            )
            if batch_id == 1:
                # Mid-stream migration of whatever coarse-epoch files
                # the CURRENT snapshot still lists — a retried batch
                # finds none (already swapped out) and skips, making
                # the step idempotent alongside the txn watermark.
                old = [
                    f
                    for f in TC.read_snapshot(root).files
                    if "/v00000001-" in f
                ]
                if old:
                    TC.migrate_layout(
                        sp,
                        root,
                        layout_cols=["o_month", "o_orderstatus"],
                        n_files=12,
                        files=old,
                        stats_cols=["o_month", "o_orderstatus"],
                    )

        SP.replay(
            [base.filter(F.col("o_orderkey") % 4 == i) for i in (1, 2, 3)],
            work,
            apply_batch,
        )
        return root

    root = built_once(sf_dir, "orders", "sg_smig_", build)
    return TC.read_table_pruned(spark, root, "o_month", 3, 5)
