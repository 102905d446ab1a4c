"""One measuring lane for registered queries.

Every timed call, in every mode, is ``bench.run_noop`` inside ``row()``:
one warm run on the fixture, then ``--samples`` timed runs, each with the
classes Janino compiled, the ms it took and the CPU seconds of the Python
workers. One row per query, fixture and core count:

  {"query", "fixture", "cpus", "median_s", "samples", "compiles",
   "compile_ms", "python_cpu_s"}   + "rows" (output rows) for a mode's
                                     pair emitters

``cpus`` is the session's ``local[N]``. A warm sample compiles 0 classes; a
query that compiles on every sample generates new source per call.
``python_cpu_s`` is read from /proc: the CPU of the processes below the
JVM (the Python worker daemon and the workers it forks, exited ones at
their last reading), so it is 0 for a query that starts no Python worker.

Modes (``--mode``); every record stamps ``cpus`` and ``nproc``:

  profile  (default) print one row per named query (default: every bench
           query) at $SPARK_GRAFT_SF_DIR (default sf0.1), or at the full
           fixture of ``--scale``. ``--plans-dir`` writes each query's
           unexecuted ``explain("formatted")`` to <dir>/<name>.txt, the
           artifact tests/test_plans.py asserts against; ``--samples 0``
           only dumps plans.
  slope    every bench query at sf0.1 and at the ``--scale``x full fixture
           -> BENCH_sf1.json. Named queries are re-measured and merged into
           the existing record, which must carry the same ``cpus`` and scale.
  skew     SKEW_QUERIES at the 1x and ``--scale``x hot-key fixtures, and the
           salting / AQE skew-split plan assertions -> SKEW_PROBE.json.
  cores    CORE_QUERIES at the full fixture at local[1] and at every core
           of the host -> CORE_SCALING.json; one core against all of them
           never oversubscribes the host. A count other than the session's
           runs this lane in a subprocess.
  bpe      the batched BPE trainer on a vocab-scale corpus derived from the
           full fixture -> BPE_SCALE.json.

Fixtures are synthesized under .scale_probe/ (gitignored) and kept; a
completeness marker memoizes each. Run from any directory, on a quiet host:

  python tools/lane.py --samples 1 --plans-dir plans/r18/before q5_region_revenue
  python tools/lane.py --mode slope [--scale 10] [--out F] [name ...]
  python tools/lane.py --mode cores
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import ExitStack, redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _host_label, run_noop  # noqa: E402
from etl_drone_sense_spark.caching import release_caches  # noqa: E402
from etl_drone_sense_spark.session import codegen_totals, get_spark  # noqa: E402
from perfbench.procs import descendants  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
SCRATCH = os.path.join(REPO, ".scale_probe")
RECORDS = {
    "slope": "BENCH_sf1.json",
    "skew": "SKEW_PROBE.json",
    "cores": "CORE_SCALING.json",
    "bpe": "BPE_SCALE.json",
}

# Pair emitters: the fixture's " repN" replicas deepen every text-dup
# cluster ~10x, so a CORRECT pair-emitting query emits ~C(11,2) ≈ 50-100x
# the pairs for 10x data. A raw time-vs-data slope would punish
# correctness, so the lane also counts OUTPUT rows at both scales and
# gates these on time per output row ("work_slope" = slope /
# output_ratio); everything else keeps the raw slope gate.
# dedup_editdistance keys on the first 24 chars of the text, which every
# replica shares; the capped simhash twin is here to show its bucket cap
# holds the output ratio far below the uncapped twin's ~149x.
PAIR_EMITTERS = {
    "dedup_simhash_adaptive",
    "dedup_minhash",
    "dedup_editdistance",
    "dedup_simhash_adaptive_capped",
}

# Queries whose shape the hot-key fixture stresses: a window/session key
# (sessionize), an interval join where one user owns 20% of both sides, the
# explicitly salted join, exact median/MAD under a hot user (per-key state
# must be distinct values, not events), the graph loops under a power-law
# hub (the per-round message groupBy must stay map-combined), and the
# vector family's capped twins under a 20%-hot LSH bucket, the adaptive
# band width composed with the cap last.
SKEW_QUERIES = [
    "sessionize_events",
    "stream_interval_join",
    "join_skewed_salted",
    "events_anomaly_mad",
    "graph_sssp",
    "graph_label_communities",
    "dedup_embedding_lsh_capped",
    "sim_graph_topk_capped",
    "dedup_embedding_lsh_adaptive_capped",
]

# Under the hot key, a correct interval join's output is the hot pair
# count, which the skew fixture grows with the data: it gates on
# work_slope. The registered query is horizon-paced (state per key bounded
# by the watermark horizon), so the lane measures it directly.
SKEW_PAIR_EMITTERS = {"stream_interval_join"}

# Parallel-by-design heavy hitters: wide scans + shuffles (simhash
# fingerprints, span hashing, the composed corpus pipeline), an
# exchange-backed aggregate web (q5), a fixed-point moment sweep
# (ml_ols), a spread Python codec stage (flac); the graph loops, whose
# wall is per-round barrier latency, and sample_importance, which ran
# slower at 32 cores than at 8.
CORE_QUERIES = [
    "dedup_simhash_adaptive",
    "dedup_exact_substring",
    "corpus_prepare_pipeline",
    "q5_region_revenue",
    "ml_ols_regression",
    "multimodal_decode_flac",
    "graph_pagerank",
    "graph_sssp",
    "graph_triangle_count",
    "sample_importance",
]

# The vocab-scale BPE run: batch size, the round cap (the trainer stops
# earlier once the pair relation drains; the 10x corpus took 170 rounds)
# and the merge count it must reach.
BPE_BATCH_K, BPE_ROUNDS, BPE_TARGET_MERGES = 64, 170, 1000

SLOPE_METRIC = (
    "work_slope (time per output row) for declared pair emitters whose "
    "output the dup-deepened fixture grows quadratically by construction; "
    "raw wall slope otherwise"
)


# --------------------------------------------------------------------------
# Fixtures
# --------------------------------------------------------------------------


def synthesize_full(spark, scale: int) -> str:
    """ALL ten fixture tables at ``scale``× sf0.1.

    Growth adds more INDEPENDENT structure and never deepens existing
    structure, which would measure the workload rather than the plan:

    * region/nation — broadcast dims, copied unchanged;
    * customer/supplier/part — keys offset per replica (``k + rep*K``)
      so each replica is its own keyspace;
    * orders/lineitem — fact keys offset AND foreign keys offset by the
      SAME per-table bases, so referential integrity holds within every
      replica (the join graph's selectivities are scale-invariant);
    * events — ids/users offset (user offset = the customer offset, so
      stream_static_enrich's FK holds) and ts shifted +32 days per
      replica: each replica is its own month, so window/session/interval
      state and join output grow LINEARLY with data;
    * documents — replica r > 0 appends a `` repN`` token: near-duplicates
      on purpose, the dup-heavy hard case for the dedup queries;
    * embeddings — replica r is the base vector ROTATED by r positions,
      an isometry: each replica keeps the base's near-dup structure while
      cross-replica cosines are ~random, so 10x data is 10x more dup
      clusters of constant depth.
    """
    from pyspark.sql import functions as F

    out = os.path.join(SCRATCH, f"sf1_full_x{scale}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.isfile(marker):
        return out
    os.makedirs(out, exist_ok=True)
    reps = spark.range(scale).withColumnRenamed("id", "_rep")
    rep = F.col("_rep")

    def rd(t):
        return spark.read.parquet(f"{BASE_SF}/{t}.parquet")

    def off(df, col):
        return df.agg(F.max(col)).collect()[0][0] + 1

    def wr(df, t, parts=32):
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )

    for t in ("region", "nation"):
        rd(t).write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))

    cust, supp, part, orders, li, ev, docs, embs = (
        rd(t) for t in ("customer", "supplier", "part", "orders", "lineitem",
                        "events", "documents", "embeddings")
    )
    c_off, s_off, p_off, o_off, e_off, d_off, v_off = (
        off(cust, "c_custkey"),
        off(supp, "s_suppkey"),
        off(part, "p_partkey"),
        off(orders, "o_orderkey"),
        off(ev, "event_id"),
        off(docs, "doc_id"),
        off(embs, "vec_id"),
    )

    def rep_keys(df, key_offsets: dict[str, int], extra=None):
        cols = []
        for c in df.columns:
            if c in key_offsets:
                cols.append((F.col(c) + rep * key_offsets[c]).alias(c))
            elif extra and c in extra:
                cols.append(extra[c].alias(c))
            else:
                cols.append(F.col(c))
        return df.crossJoin(F.broadcast(reps)).select(*cols)

    wr(rep_keys(cust, {"c_custkey": c_off}), "customer", 8)
    wr(rep_keys(supp, {"s_suppkey": s_off}), "supplier", 4)
    wr(rep_keys(part, {"p_partkey": p_off}), "part", 8)
    wr(rep_keys(orders, {"o_orderkey": o_off, "o_custkey": c_off}), "orders", 16)
    wr(
        rep_keys(li, {"l_orderkey": o_off, "l_partkey": p_off, "l_suppkey": s_off}),
        "lineitem",
    )
    wr(
        rep_keys(
            ev,
            {"event_id": e_off, "user_id": c_off},
            extra={"ts": F.timestamp_add("DAY", rep * 32, F.col("ts"))},
        ),
        "events",
        16,
    )
    text = F.when(rep == 0, F.col("text")).otherwise(
        F.concat(F.col("text"), F.lit(" rep"), rep)
    )
    wr(rep_keys(docs, {"doc_id": d_off}, extra={"text": text, "n_chars": F.length(text)}),
       "documents")
    dim = len(embs.select("embedding").first()[0])
    rotated = F.expr(
        f"transform(sequence(0, {dim - 1}),"
        f" i -> element_at(embedding, int((i + _rep) % {dim}) + 1))"
    )
    wr(rep_keys(embs, {"vec_id": v_off}, extra={"embedding": rotated}), "embeddings")
    with open(marker, "w") as f:
        f.write("ok")
    return out


_SKEW_RECIPE_VERSION = 2  # 1 = events/orders hot key; 2 = +hot-bucket embeddings (r15)


def synthesize_skewed(spark, scale: int) -> str:
    """HOT-KEY variant of the fixture (r6 VERDICT item 8): the replica
    model above is deliberately skew-free, so this remaps ~20% of events
    onto ONE user and ~20% of orders onto ONE custkey — the
    single-hot-reducer shape that wedges groupBy/window/stream state at
    scale — and makes ~20% of embeddings byte-identical copies of one
    vector, so every sign-LSH band funnels them into ONE bucket (the
    Σ|bucket|² worst case band widening can't fix). Unmodified tables are
    symlinked from the full fixture (``scale`` > 1) or the base sf0.1 dir.
    Row counts, timestamps, ids and referential integrity are untouched —
    only the value DISTRIBUTION changes, so a skewed-vs-skewed slope
    isolates scaling under skew from the skew penalty itself."""
    from pyspark.sql import functions as F

    out = os.path.join(SCRATCH, f"sf_skew_x{scale}")
    # VERSIONED completeness marker (r15 ADVICE): a dir from an older
    # recipe must not early-return, and overwriting through a stale
    # symlink would delete the shared base fixture's files (Hadoop
    # fullyDelete recurses into the link target). Bump the version
    # whenever the synthesis recipe changes.
    marker = os.path.join(out, f"_COMPLETE_v{_SKEW_RECIPE_VERSION}")
    if os.path.isfile(marker):
        return out
    base = synthesize_full(spark, scale) if scale > 1 else BASE_SF
    os.makedirs(out, exist_ok=True)
    hot = {  # table: (row key, remapped column, its hot value, partitions)
        "events": ("event_id", "user_id",
                   lambda df: F.lit(df.agg(F.min("user_id")).first()[0]), 16),
        "orders": ("o_orderkey", "o_custkey",
                   lambda df: F.lit(df.agg(F.min("o_custkey")).first()[0]), 16),
        "embeddings": ("vec_id", "embedding", lambda df: F.array(*[
            F.lit(float(v)).cast("float")
            for v in df.orderBy("vec_id").first()["embedding"]
        ]), 8),
    }
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        dst = os.path.join(out, f"{t}.parquet")
        if t not in hot:
            if not os.path.exists(dst):
                os.symlink(os.path.join(base, f"{t}.parquet"), dst)
            continue
        key, col, value, parts = hot[t]
        df = spark.read.parquet(f"{base}/{t}.parquet")
        if os.path.islink(dst):  # remove just the link, never its target
            os.unlink(dst)
        df.withColumn(
            col, F.when(F.pmod(key, F.lit(5)) == 0, value(df)).otherwise(F.col(col))
        ).repartition(parts).write.mode("overwrite").parquet(dst)
    with open(marker, "w") as f:
        f.write("ok")
    return out


def assert_skew_mitigation(spark, skew_dir: str) -> dict:
    """Plan assertions AT THE PROBE SCALE: (a) the salted join's plan
    still carries the `_salt` shard column; (b) AQE's skew-join split
    actually ENGAGES on the hot-custkey orders⨝customer sort-merge join.
    AQE's default trip-wires (256 MB skewed-partition threshold) are
    sized for cluster-scale partitions — the probe fixture's hot shuffle
    partition is sub-MB compressed — so the probe scales them to the
    fixture (128 KB threshold / 1.5× median / 64 KB advisory). The
    assertion is that the MECHANISM fires on this key distribution,
    exactly as the defaults would at 100 TB partition sizes."""
    from etl_drone_sense_spark.plans.registry import get
    from etl_drone_sense_spark.streaming.pipeline import scoped_conf

    plan = get("join_skewed_salted").fn(spark, skew_dir)._jdf.queryExecution()
    salted_ok = "_salt" in plan.optimizedPlan().toString()

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
    }
    with ExitStack() as scope:
        for k, v in confs.items():
            scope.enter_context(scoped_conf(spark, k, v))
        orders = spark.read.parquet(f"{skew_dir}/orders.parquet")
        cust = spark.read.parquet(f"{skew_dir}/customer.parquet")
        joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
        # execute and inspect the SAME QueryExecution: a .write action
        # plans its own copy and a post-hoc .explain() RE-plans without
        # runtime stats, so neither ever shows skew=true — the count
        # rides on top of the join inside one adaptive plan, whose
        # executedPlan string carries SortMergeJoin(skew=true) +
        # "AQEShuffleRead coalesced and skewed" once finalized
        probe_df = joined.groupBy().count()
        probe_df.collect()
        aqe_ok = "skew=true" in probe_df._jdf.queryExecution().executedPlan().toString()
    return {"salted_plan_has_salt": salted_ok, "aqe_skew_split_engaged": aqe_ok}


def lsh_scaled(spark, sf_dir):
    """dedup_embedding_lsh at the band width a 10x corpus needs.

    Band width must follow log2(n) to hold bucket occupancy constant
    (Σ|bucket|² = n²/2^width per band): the registered query pins the
    fixture-scale config (8 bands × 8 bits) for oracle determinism, so at
    10× corpus the slope drives the SAME operator at 12-bit bands
    (+log2(10)≈3.3, rounded up). Without this the candidate space is
    quadratic BY CONFIG, not by plan (measured 17× slope at 8-bit bands)."""
    from etl_drone_sense_spark.functions import vectors as V
    from etl_drone_sense_spark.operators import similarity
    from etl_drone_sense_spark.plans.extensions import _seeded_embeddings

    return similarity.hyperplane_lsh_pairs(
        _seeded_embeddings(spark, sf_dir),
        planes=V.hyperplanes(dim=64, nbits=96),
        bands=8,
        threshold=0.8,
    )


SCALED_FNS = {"dedup_embedding_lsh": lsh_scaled}


# --------------------------------------------------------------------------
# The timing loop: one row per query, fixture and core count
# --------------------------------------------------------------------------


def python_cpu(spark):
    """A reader of the CPU seconds used so far by the processes below the
    session's JVM: the Python worker daemon and its workers. The daemon
    ignores SIGCHLD, so a worker that exits (one idle for a minute is
    killed) takes its CPU out of every /proc figure; the reader keeps each
    process's last figure, keyed by pid and start time, so its reading
    never falls."""
    root, seen = spark.sparkContext._gateway.proc.pid, {}

    def read() -> float:
        for pid in descendants(root):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited since it was listed
                continue
            seen[pid, fields[19]] = sum(int(x) for x in fields[11:15])
        return sum(seen.values()) / os.sysconf("SC_CLK_TCK")

    return read


def row(spark, name: str, fn, fixture: str, samples: int, count_rows=False) -> dict:
    """One warm run, then ``samples`` timed noop-sink runs of ``fn`` at
    ``fixture``; with ``count_rows`` also the query's output row count."""
    run_noop(spark, fn, fixture)  # JVM, codegen and broadcast warm-up
    py_cpu = python_cpu(spark)
    runs = []
    for _ in range(samples):
        c0, ms0 = codegen_totals(spark)
        py0 = py_cpu()
        wall = run_noop(spark, fn, fixture)
        c1, ms1 = codegen_totals(spark)
        runs.append((round(wall, 3), c1 - c0, round(ms1 - ms0, 1),
                     round(py_cpu() - py0, 2)))
    walls, compiles, compile_ms, py = (list(x) for x in zip(*runs))
    out = {
        "query": name,
        "fixture": os.path.basename(fixture.rstrip("/")),
        "cpus": _host_label(spark)["cpus"],
        "median_s": round(statistics.median(walls), 3),
        "samples": walls,
        "compiles": compiles,
        "compile_ms": compile_ms,
        "python_cpu_s": py,
    }
    if count_rows:
        out["rows"] = fn(spark, fixture).count()
        release_caches()
    return out


def dump_plan(spark, fn, fixture: str, path: str) -> None:
    """The unexecuted ``explain("formatted")`` of ``fn`` at ``fixture``
    (AdaptiveSparkPlan's initial form)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        fn(spark, fixture).explain("formatted")
    release_caches()
    with open(path, "w", encoding="utf-8") as f:
        f.write(buf.getvalue())


def lane_rows(cpus: int, names: list[str], scale: int, samples: int) -> list[dict]:
    """Profile rows from this lane run in a subprocess at ``local[cpus]``
    on the full fixture of ``scale`` (one JVM cannot change its master)."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--scale", str(scale),
         "--samples", str(samples), *names],
        stdout=subprocess.PIPE, text=True, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(cpus)},
    )
    rows = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith('{"query"')]
    if proc.returncode or len(rows) != len(names):
        print(proc.stdout[-2000:], file=sys.stderr)
        raise RuntimeError(f"lane at local[{cpus}] failed (rc {proc.returncode})")
    return rows


# --------------------------------------------------------------------------
# The comparison step: slope across fixtures, ratio across core counts
# --------------------------------------------------------------------------


def compare(base: dict, scaled: dict) -> dict:
    """A query's slope from its rows at the base and the scaled fixture.
    Rows that carry output counts also give ``work_slope``, time per
    output row: a pair emitter's output grows faster than the data by
    construction."""
    slope = scaled["median_s"] / base["median_s"]
    entry = {"base_s": base["median_s"], "scaled_s": scaled["median_s"],
             "slope": round(slope, 2)}
    if "rows" in base:
        ratio = max(scaled["rows"], 1) / max(base["rows"], 1)
        entry.update(rows_base=base["rows"], rows_scaled=scaled["rows"],
                     output_ratio=round(ratio, 2),
                     work_slope=round(slope / max(ratio, 1.0), 2))
    entry["runs"] = [base, scaled]
    return entry


def effective_slope(entry: dict) -> float:
    return entry.get("work_slope", entry["slope"])


def core_ratio(by_cpus: dict[int, dict]) -> dict:
    """A query's seconds at each core count and ``ratio``, fewest-core
    seconds over most-core seconds: near 1 when a path serializes."""
    counts = sorted(by_cpus)
    entry = {f"s_{c}": by_cpus[c]["median_s"] for c in counts}
    entry["ratio"] = round(
        by_cpus[counts[0]]["median_s"] / max(by_cpus[counts[-1]]["median_s"], 1e-9), 2
    )
    entry["runs"] = [by_cpus[c] for c in counts]
    return entry


def merge_refusal(prior: dict, cpus, scale: int) -> str | None:
    """Why a per-query merge into ``prior`` must not happen, or None.
    Seconds from another core count or scale are not comparable, and a
    record that does not say its core count cannot be shown to match."""
    for key, want in (("cpus", cpus), ("scale", scale)):
        if prior.get(key) != want:
            return (
                f"refusing to merge: the existing record has {key}="
                f"{prior.get(key)!r}, this run {want!r}; run the mode without "
                "query names to rewrite the whole record"
            )
    return None


def bpe_scale(spark, fixture: str) -> dict:
    """Vocab-scale batched BPE trainer: does train_merges_batched's
    merges/|batch| amortization HOLD as the frontier concentrates, at
    >= 1k merges? The fixture text has 40 distinct words (its merge space
    drains in 89 merges), so each doc gains one deterministic ``tokN``
    word (N = doc_id): the distinct-word vocab grows to ~|docs| and the
    reachable merge space is thousands of digit/char pairs shared across
    the suffix family — the concentrated-frontier shape."""
    from pyspark.sql import functions as F

    from etl_drone_sense_spark.operators.bpetrain import train_merges_batched

    docs = spark.read.parquet(f"{fixture}/documents.parquet")
    rich = docs.select(
        F.concat(F.col("text"), F.lit(" tok"), F.col("doc_id").cast("string")).alias("text")
    )
    n_docs = rich.count()
    stats: list[dict] = []
    t0 = time.perf_counter()
    merges = len(train_merges_batched(
        rich, batch_rounds=BPE_ROUNDS, batch_k=BPE_BATCH_K, stats_out=stats
    ))
    total_s = time.perf_counter() - t0
    # s/merge per quarter of the round sequence: does the late (most
    # concentrated) quarter still amortize, or has admitted/round
    # collapsed toward 1?
    nq = max(1, len(stats) // 4)
    quartiles = [
        round(sum(c["wall_s"] for c in chunk) / max(sum(c["admitted"] for c in chunk), 1), 4)
        for chunk in (stats[i : i + nq] for i in range(0, len(stats), nq))
    ]
    return {
        "corpus": os.path.relpath(fixture, REPO),
        "docs": n_docs,
        "batch_k": BPE_BATCH_K,
        "rounds_run": len(stats),
        "merges": merges,
        "target_merges": BPE_TARGET_MERGES,
        "total_s": round(total_s, 1),
        "s_per_merge": round(total_s / max(merges, 1), 4),
        "collects_per_merge": round(len(stats) / max(merges, 1), 4),
        "admitted_per_round": [s["admitted"] for s in stats],
        "quartile_s_per_merge": quartiles,
        "met_target": merges >= BPE_TARGET_MERGES,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="One measuring lane; see the module docstring.")
    ap.add_argument("names", nargs="*", help="registered queries (default: the mode's set)")
    ap.add_argument("--mode", choices=("profile", "slope", "skew", "cores", "bpe"),
                    default="profile")
    ap.add_argument("--scale", type=int, default=None,
                    help="full-fixture scale (default: 10; profile: none)")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--out", default=None, help="record path (default: the mode's record)")
    ap.add_argument("--plans-dir", default=None, help="profile: explain dump directory")
    args = ap.parse_args()
    mode = args.mode
    scale = args.scale or (None if mode == "profile" else 10)
    if args.samples < (0 if mode == "profile" else 1):
        ap.error("--samples must be at least 1 outside profile")

    from etl_drone_sense_spark.plans.registry import all_queries, bench_queries

    queries = all_queries()
    defaults = {"skew": SKEW_QUERIES, "cores": CORE_QUERIES}
    names = args.names or defaults.get(mode) or sorted(bench_queries())
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    out = os.path.abspath(args.out) if args.out else os.path.join(REPO, RECORDS.get(mode, ""))
    prior = None
    if mode == "slope" and args.names:
        with open(out, encoding="utf-8") as f:
            prior = json.load(f)

    spark = get_spark(app_name=f"lane-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    host = {k: _host_label(spark)[k] for k in ("cpus", "nproc")}
    if prior is not None and (refusal := merge_refusal(prior, host["cpus"], scale)):
        print(f"{out}: {refusal}", file=sys.stderr)
        return 2

    if mode == "profile":
        fixture = synthesize_full(spark, scale) if scale else os.environ.get(
            "SPARK_GRAFT_SF_DIR", BASE_SF)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
        for name in names:
            if args.plans_dir:
                dump_plan(spark, queries[name], fixture,
                          os.path.join(args.plans_dir, f"{name}.txt"))
            if args.samples:
                print(json.dumps(row(spark, name, queries[name], fixture, args.samples)),
                      flush=True)
        return 0

    if mode == "bpe":
        record = {**bpe_scale(spark, synthesize_full(spark, scale)), **host}
        ok = record["met_target"]
    elif mode == "cores":
        counts = sorted({1, os.cpu_count() or 1})
        fixture = synthesize_full(spark, scale)
        by_cpus = {}
        for c in counts:
            rows = (
                [row(spark, n, queries[n], fixture, args.samples) for n in names]
                if c == host["cpus"] else lane_rows(c, names, scale, args.samples)
            )
            by_cpus[c] = {r["query"]: r for r in rows}
        entries = {n: core_ratio({c: by_cpus[c][n] for c in counts}) for n in names}
        for n, e in entries.items():
            print(f"{n}: ratio {e['ratio']}", file=sys.stderr)
        ratios = sorted(e["ratio"] for e in entries.values())
        record = {"sf_base": 0.1, "scale": scale, "cpus": counts, "nproc": host["nproc"],
                  "queries": entries, "min_ratio": ratios[0],
                  "median_ratio": ratios[len(ratios) // 2]}
        ok = True
    else:
        if mode == "skew":
            base, scaled = synthesize_skewed(spark, 1), synthesize_skewed(spark, scale)
            emitters = SKEW_PAIR_EMITTERS
        else:
            base, scaled = BASE_SF, synthesize_full(spark, scale)
            emitters = PAIR_EMITTERS
        entries = {}
        for n in names:
            fn, count = queries[n], n in emitters
            entries[n] = compare(
                row(spark, n, fn, base, args.samples, count),
                row(spark, n, SCALED_FNS.get(n, fn), scaled, args.samples, count),
            )
            e = entries[n]
            print(f"{n}: {e['base_s']}s -> {e['scaled_s']}s at {scale}x (slope {e['slope']}"
                  + (f", work_slope {e['work_slope']}" if "work_slope" in e else "") + ")",
                  file=sys.stderr)
        if prior is not None:
            entries = {**prior["queries"], **entries}
        max_slope = max(effective_slope(e) for e in entries.values())
        if mode == "skew":
            assertions = assert_skew_mitigation(spark, scaled)
            record = {"sf_base": 0.1, "scale": scale, "mode": "skewed", "hot_key_share": 0.2,
                      "queries": entries, "max_slope": max_slope, "limit": float(scale),
                      "plan_assertions": assertions, **host}
            ok = max_slope <= scale and all(assertions.values())
        else:
            record = {"sf_base": 0.1, "scale": scale, "mode": "full", "queries": entries,
                      "max_slope": max_slope, "slope_metric": SLOPE_METRIC,
                      "limit": float(scale), **host}
            ok = max_slope <= scale

    with open(out, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"wrote {out}" + ("" if ok else " — FAILED its gate"), file=sys.stderr)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
