"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is executed to completion with the ``noop`` sink: unlike
``count()`` — whose plan column-prunes the projections away (a narrow
transform would time as a bare parquet row-count) — noop materializes
every output column on executors without shipping rows to the driver.

External grounding (r6 VERDICT item 9): alongside the engine timings,
each bench query's DuckDB oracle runs ONCE on the same parquet at the
same SF and its wall time lands in ``oracle_s`` with the engine/oracle
ratio in ``oracle_ratio`` — so "within 2× of baseline" is anchored to an
independent engine on identical data, not only to self-derived budgets.
(One run, not median-of-3: DuckDB executes in-process with no JVM/
scheduler variance, and the grounding is a sanity anchor, not a race.)
Disable with SPARK_GRAFT_BENCH_ORACLE=0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from etl_drone_sense_spark.caching import release_caches
from etl_drone_sense_spark.plans.registry import bench_queries
from etl_drone_sense_spark.session import get_spark

# Per-query time budgets at sf0.1 / local[32]: 1.8× the best median
# observed across rounds 3-4 (floor +0.6 s so sub-second queries don't
# trip on scheduler noise; the machine's documented run-to-run variance
# is ±0.5 s). A breach prints a LOUD stderr warning and lands in the
# JSON's budget_violations — drift has to be explained, not discovered
# two rounds later (r4 VERDICT item 2). Queries added later get a budget
# when they first appear in a recorded BENCH_r{N}.json.
BUDGETS_S: dict[str, float] = {
    "cdc_snapshot_diff": 1.12,
    "hierarchy_flatten": 4.13,  # r9: 1.8 x 1.96 s quiet median + 0.6 floor
    # (5 doubling rounds, barrier-bound at sf0.1 — the node relation is
    # dimension-scale, so wall is ~fixed checkpoint latency x rounds)
    "events_anomaly_mad": 3.28,  # r9: 1.8 x 1.82 s quiet median
    "agg_exact_quantiles": 1.64,  # r9: 1.8 x 0.91 s quiet median
    "agg_exact_quantiles_binned": 2.92,  # r9: 1.8 x 1.62 s quiet median
    # (3 linear passes: pays ~0.3 s more fixed overhead than the sorted
    # twin at sf0.1, and is 2.2x FASTER at sf1 — slope 1.5x vs 3.9x)
    "sketch_theta_kmv": 1.78,  # r9: 1.8 x 0.99 s quiet median
    "ml_ols_regression": 3.33,  # r9: 1.8 x 1.85 s quiet median (10
    # fixed-point moment aggregates over lineitem in one pass)
    "multimodal_decode_bmp": 2.50,  # r14: 1.8 x 1.388 s quiet median —
    # the 1-bit tier adds a per-pixel bit-pack loop on the fixture side
    # and the V4/V5 header tiers complete the cycle (7 -> 10); was
    # 1.8 x 1.16 with the 7-tier cycle
    "multimodal_decode_adpcm": 2.92,  # r13 late: 1.8 x 1.62 s quiet
    # median — the QUAD tier doubles the per-doc code volume on 1/3 of
    # docs (was 1.8 x 1.22 mono/stereo)
    "multimodal_decode_flac": 2.48,  # r14: 1.8 x 1.377 s quiet median
    # (Rice decode is a per-sample Python walk inside the Arrow batch,
    # like the ADPCM tiers — ~675k samples at sf0.1; the r14 32-bit
    # tier redistributes the depth cycle 3 -> 4 and re-measured FASTER
    # than the r13 1.79 s median, so the budget tightens)
    "multimodal_decode_jpeg_progressive": 1.82,  # r13: 1.8 x 1.01 s
    # quiet median (six-scan SOF2 decode through the Arrow path)
    "multimodal_decode_jpeg_lossless": 1.76,  # r13 late: 1.8 x 0.98 s
    # quiet median (per-sample huffman+predictor walk, no DCT)
    "multimodal_decode_jpeg_arithmetic": 4.82,  # r13 late: 1.8 x 2.68 s
    # quiet median — the QM coder is a per-decision Python walk on BOTH
    # the fixture-encode and decode sides (~100 adaptive decisions per
    # block), the most serial of the codec tiers by construction
    "multimodal_decode_msadpcm": 2.98,  # r12: 1.8 x 1.65 s quiet median
    # (per-nibble predictor walk is a Python loop inside the Arrow
    # batch, like the IMA tier — inherently serial per clip)
    # (per-nibble predictor walk is a Python loop inside the Arrow batch
    # — ~650k sequential steps at sf0.1, stereo on odd doc ids;
    # inherently serial per clip)
    "multimodal_decode_tiff": 5.06,  # r13 late: 1.8 x 2.81 s quiet
    # median — the JPEG-in-TIFF tier (1/11 of docs) runs up to three
    # full baseline-JPEG encodes+decodes per image and the planar-tiled
    # tier assembles six 16x16 planes; was 1.8 x 1.86 (r11, 7-variant)
    "graph_triangle_count": 4.03,  # r9: 1.8 x 2.24 s quiet median
    "table_time_travel": 0.75,  # r9: 0.15 s quiet median + 0.6 floor
    # (reads the cached committed table; the build is first-call-only)
    "stream_sketch_kmv": 1.11,  # r9: 0.51 s quiet median + 0.6 floor
    # (reads the drained state table; the 4-batch drain is first-call-only)
    "dedup_editdistance": 1.53,  # r8: 1.8 x 0.85 s quiet median
    "graph_sssp": 7.88,  # r13: 1.8 x 4.38 s quiet median — delta
    # (frontier) relaxation: each round joins only the nodes whose
    # distance improved last round against the pinned adjacency, one
    # tagged-union merge aggregation (the round's ONLY exchange) and a
    # per-round state checkpoint (load-bearing: the state has two
    # next-round consumers, so lazy rounds recompute exponentially).
    # Was 7.88 s quiet MEDIAN with full-relation relaxation (r12) —
    # the old budget 14.18 was 1.8x that.
    "graph_pagerank": 9.57,  # r12: 1.8 x 5.31 s quiet median — the
    # pinned-adjacency rework trades one extra fixture-scale barrier
    # (explicit repartition(W, u) checkpoint) for never moving the edge
    # relation in the loop: sf0.1 3.5 -> 5.3 s, 10x 20.4 -> 11.2 s
    # (slope 5.78x -> 2.11x) — the right direction for 100 TB
    "q2_min_cost_supplier": 1.93,  # r8: 1.8 x 1.07 s quiet median
    # (rank-1 WindowGroupLimit — was 1.32 s as agg + equality probe)
    "q9_product_profit": 1.97,  # r8: 1.8 x 1.10 s quiet median
    "q21_waiting_suppliers": 2.25,  # r8: 1.8 x 1.25 s quiet median
    # (two-level pair agg, no Expand — was 1.76 s with countDistinct)
    "scd2_point_in_time": 1.17,  # r8: 0.57 s quiet median + 0.6 floor
    "corpus_prepare_pipeline": 4.30,
    "dedup_exact_substring": 3.93,  # r5: 1.8 × 2.18 s quiet-machine median
    "dedup_embedding_lsh": 2.39,
    "dedup_embedding_lsh_adaptive": 2.41,  # r6: 1.8 × 1.34 s quiet median
    "dedup_incremental": 2.01,
    "dedup_minhash": 1.87,
    "dedup_simhash_adaptive": 6.35,  # r7: 1.8 × 3.53 s median (48-bit
    # fingerprint pass dominates; the knob under test is pair emission)
    "dedup_simhash_adaptive_capped": 6.90,  # r10 provisional: the same
    # fingerprint pass + a WindowGroupLimit per bucket — retime quiet
    "dedup_paragraph": 3.44,  # r11: 1.8 x 1.91 s median — the clean-docs
    # bypass adds probe stages (fixed scheduler latency at sf0.1's
    # 5000-doc fixture) to avoid reassembling every document at scale;
    # the old 2-shuffle every-doc plan measured 1.19 s here but its
    # collect_list volume grows with the whole corpus, the bypass's with
    # the duplicated sliver
    "dedup_semantic": 2.01,
    "drone_features_flat": 1.22,
    "events_gapfill": 1.14,
    "events_pattern_match": 1.02,
    "filter_in_between_like": 0.88,
    "join_bloom_prefiltered": 2.45,  # r8: 1.8 x 1.36 s quiet median
    "join_skewed_salted": 1.38,
    "merge_upsert": 1.00,
    "multimodal_decode": 0.93,
    "multimodal_decode_gif": 1.55,  # r8: 1.8 x 0.86 s quiet median
    "multimodal_decode_jpeg": 2.50,  # r13: 1.8 x 1.39 s median — the
    # coefficient-scan restructure (progressive support) trades the old
    # fused per-block decode+IDCT for buffer accumulation + one batched
    # einsum IDCT; the r8 budget measured the fused loop (0.88 s).
    # r13 late: the 12-bit SOF1 tier re-measured under host load
    # (samples 1.02-6.06 s, min 1.02 ≈ the old median) — per-payload
    # profile shows 12-bit decode is FASTER than 8-bit (no clip work),
    # so the budget stands; the closing quiet bench re-validates
    "multimodal_decode_ulaw": 1.30,  # r8: 0.70 s quiet median + 0.6 floor
    "multimodal_gif_frame_sample": 1.49,  # r8: 1.8 x 0.83 s quiet median
    "multimodal_decode_video": 2.00,  # r8: 1.8 x 1.11 s quiet median
    "q1_pricing_summary": 1.50,
    "q3_shipping_priority": 1.18,
    "q5_region_revenue": 1.37,
    "q8_market_share": 1.90,  # r5: 1.8 × 1.05 s quiet-machine median
    "q18_large_volume": 1.70,  # r14: 1.8 x 0.943 s quiet median — the
    # single-scan rework (one lineitem pass, long-lane fixed-point
    # output sum); the r13 two-scan form measured 1.79 s for its first
    # aggregate alone on this host
    "sample_importance": 2.50,
    "sessionize_events": 0.98,
    "sim_topk_bruteforce": 0.83,
    "text_bigram_lm": 3.34,
    "text_boilerplate_strip": 2.92,  # r11: 1.8 x 1.62 s isolated median —
    # same re-derivation as dedup_paragraph: the clean-docs bypass adds
    # probe stages (fixed scheduler latency on the 5000-doc fixture) to
    # avoid reassembling every document at corpus scale; the old budget
    # was derived from the reassemble-everything plan
    "text_bpe_tokenize": 3.51,  # r13: 1.8 x 1.95 s quiet median (41
    # plain replaces over the doc state string, one narrow projection;
    # single task at sf0.1 — the fixture is one parquet file)
    "text_repetition": 2.95,
    "text_token_freq": 0.93,
    "text_winnowing": 1.01,
    "window_topk_per_group": 0.90,
}


def _load1() -> float:
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def _quiet_wait() -> float:
    """Bounded quiet-launch gate (r13 VERDICT item 3): three consecutive
    driver bench artifacts launched into background load (r11-r13, launch
    loadavg up to 12.58) because the driver sequences the bench right
    after the full correctness sweep. Annotating contamination after the
    fact (r12/r13 machinery) kept the artifact honest but still loud.
    Instead, make it quiet BY CONSTRUCTION: poll the 1-min loadavg and
    start only once it drops under 1.0, up to a hard cap so a busy host
    can never wedge the driver (default 600 s, env-tunable; set
    SPARK_GRAFT_BENCH_WAIT_CAP=0 to disable). Returns seconds waited —
    recorded as ``waited_s`` in both output lines."""
    try:
        cap = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_CAP", "600"))
    except ValueError:
        cap = 600.0
    t0 = time.monotonic()
    while time.monotonic() - t0 < cap:
        load = _load1()
        if load < 1.0:
            break
        print(
            f"quiet-wait: loadavg {load:.2f} >= 1.0, "
            f"{time.monotonic() - t0:.0f}s/{cap:.0f}s waited",
            file=sys.stderr,
        )
        time.sleep(min(10.0, max(1.0, cap - (time.monotonic() - t0))))
    return round(time.monotonic() - t0, 1)


def _measure_attempt(spark, queries, sf_dir, sf_val, warm: bool) -> dict:
    """One full bench pass: quiet-wait gate, (optional) warm-up, 3-sample
    medians for every bench query, DuckDB oracle grounding, budget check
    with isolated retests, contamination stamp. Returns the complete
    record dict for this attempt."""
    # Quiet-launch gate, then the pre-flight load check (r10 VERDICT item
    # 4): an elevated 1-min loadavg at launch means the timings below
    # measure contention, not code. After the gate this should only fire
    # when the wait cap expired on a persistently-loud host.
    waited_s = _quiet_wait()
    load1 = _load1()
    if load1 > 1.0:
        print(
            f"WARNING: 1-min loadavg {load1:.2f} > 1.0 at bench launch — "
            f"(quiet-wait cap expired after {waited_s:.0f}s) — "
            "timings may be contaminated by background load; re-measure "
            "violations individually on a quiet machine before believing "
            "them",
            file=sys.stderr,
        )

    # JVM/codegen warm-up on the smallest fixture so headline timings
    # measure steady-state execution, not first-call compilation (first
    # attempt only — the retry attempts inherit a warm JVM).
    warm_dir = "/root/testdata/sf0.001"

    def run(fn, d):
        fn(spark, d).write.mode("overwrite").format("noop").save()
        release_caches()  # don't let one query's scoped caches skew the next

    if warm and os.path.isdir(warm_dir):
        for fn in queries.values():
            run(fn, warm_dir)

    timings: dict[str, float] = {}
    for name, fn in sorted(queries.items()):
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(fn, sf_dir)
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)

    oracle_s: dict[str, float] = {}
    oracle_ratio: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") != "0":
        import duckdb

        from etl_drone_sense_spark.plans.registry import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        for t_name in (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        ):
            p = f"{sf_dir}/{t_name}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t_name} AS SELECT * FROM '{src}'")
        for name in sorted(queries):
            if name not in oracles:
                continue
            t0 = time.perf_counter()
            con.execute(oracles[name]).fetchall()  # materialize like noop
            oracle_s[name] = round(time.perf_counter() - t0, 3)
            if oracle_s[name] > 0:
                oracle_ratio[name] = round(timings[name] / oracle_s[name], 2)

    violations = {
        name: {"sec": t, "budget": BUDGETS_S[name]}
        for name, t in timings.items()
        if name in BUDGETS_S and t > BUDGETS_S[name] and sf_val == 0.1
    }
    for name, v in sorted(violations.items()):
        print(
            f"BUDGET EXCEEDED: {name} took {v['sec']:.3f}s"
            f" (budget {v['budget']:.2f}s at sf0.1)",
            file=sys.stderr,
        )

    # Contamination self-description (r12 VERDICT item 4): sample loadavg
    # at launch AND at end, and when any budget is breached, re-measure
    # each violating query INDIVIDUALLY right here (fresh 3-sample
    # median, loadavg stamped per retest) so the artifact itself records
    # whether the violation survives isolation. loadavg_at_end is
    # recorded for forensics but does NOT feed the verdict — right after
    # our own local[32] run it is always elevated by our own worker
    # threads; the mid-run interference fingerprint is instead
    # "violations that vanish under isolated retest".
    load1_end = _load1()
    contaminated = load1 > 1.0
    if violations:
        for name in sorted(violations):
            v = violations[name]
            # A retest that itself runs into background load proves
            # nothing in either direction (r16: run-2 attempt 3 retested
            # four violations at loadavg 5–8.5 and every one went UP) —
            # quiet-gate each retest with a short bounded wait and
            # record the loadavg it actually ran at.
            t_gate = time.monotonic()
            while time.monotonic() - t_gate < 120.0 and _load1() >= 1.0:
                time.sleep(5.0)
            v["retest_loadavg"] = _load1()
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                run(queries[name], sf_dir)
                samples.append(time.perf_counter() - t0)
            v["retest_s"] = round(statistics.median(samples), 3)
            v["retest_within_budget"] = v["retest_s"] <= v["budget"]
            if v["retest_within_budget"]:
                print(
                    f"RETEST OK: {name} isolated median {v['retest_s']:.3f}s"
                    f" within budget {v['budget']:.2f}s — main-loop breach"
                    " was contention, not code",
                    file=sys.stderr,
                )
        # A breach that vanishes under isolated re-measurement IS the
        # contamination fingerprint even when both loadavg samples were
        # clean (the interference window closed before we re-sampled).
        # A breach whose retest ran LOUD anyway (gate cap expired) is
        # INDETERMINATE — stamp contaminated rather than let a loud
        # retest masquerade as a confirmed real violation.
        if any(v["retest_within_budget"] for v in violations.values()):
            contaminated = True
        if any(
            not v["retest_within_budget"] and v["retest_loadavg"] > 1.0
            for v in violations.values()
        ):
            contaminated = True

    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "budget_violations": violations,
        "contaminated": contaminated,
        "waited_s": waited_s,
        "loadavg_at_launch": load1,
        "loadavg_at_end": load1_end,
        "oracle_s": oracle_s,
        "oracle_ratio": oracle_ratio,
    }


def _host_label(spark) -> dict:
    """The core count the record was measured with (``cpus``, from the
    session's ``local[N]`` master; ``local[*]`` counts every core), the
    host's ``nproc`` and the pyspark version: a timing means nothing
    without the host it ran on."""
    import re

    import pyspark

    master = spark.sparkContext.master
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\d+)?\])?", master)
    cpus = None
    if m:
        n = m.group(1) or "1"
        cpus = os.cpu_count() if n == "*" else int(n)
    return {"cpus": cpus, "nproc": os.cpu_count(), "pyspark": pyspark.__version__}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(app_name="etl-drone-sense-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = bench_queries()

    # Retry-until-clean (r15 VERDICT item 2 of the refinement list): the
    # round's headline evidence must live in the JSON artifact, not in
    # prose about a cleaner rerun. If an attempt comes out contaminated
    # (loud launch after the wait cap, or violations that vanish under
    # isolated retest), re-run the whole measurement — bounded attempts,
    # each behind its own quiet-wait gate — and record the attempt
    # trail. The artifact is the first clean attempt, or the last one
    # with its contamination stamp intact if none came clean.
    try:
        attempts_max = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))
    except ValueError:
        attempts_max = 3
    attempts_max = max(1, attempts_max)
    history: list[dict] = []
    record: dict = {}
    for attempt in range(1, attempts_max + 1):
        record = _measure_attempt(
            spark, queries, sf_dir, sf_val, warm=(attempt == 1)
        )
        history.append(
            {
                "attempt": attempt,
                "value": record["value"],
                "contaminated": record["contaminated"],
                "loadavg_at_launch": record["loadavg_at_launch"],
                "n_violations": len(record["budget_violations"]),
            }
        )
        if not record["contaminated"]:
            break
        if attempt < attempts_max:
            print(
                f"bench attempt {attempt}/{attempts_max} contaminated — "
                "retrying behind a fresh quiet-wait gate",
                file=sys.stderr,
            )
    record["attempt_history"] = history
    record.update(_host_label(spark))

    print(json.dumps(record))
    # The driver records only the TAIL of stdout (exactly the last 2000
    # chars) and parses the LAST JSON line into BENCH_r{N}.json's
    # ``parsed`` field. The COMPLETE record (3-decimal timings, oracle
    # grounding, violation detail, attempt trail) is persisted to a
    # committed repo file; the trailing compact line carries the gates
    # AND — r17, restoring the per-query contract the r16 VERDICT item 2
    # flagged (PERF has been blind since r13: n_common=0, empty scaling
    # per_query) — the per-query seconds at 2-decimal precision with
    # compact separators: 63 queries ≈ 1.92 KB, inside the 2000-char
    # window. A length guard degrades gracefully (1-decimal, then the
    # old queries-less line) if the bench surface ever outgrows it.
    full_out = os.environ.get("SPARK_GRAFT_BENCH_FULL_OUT", "BENCH_FULL.json")
    if full_out:
        full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), full_out)
        with open(full_path, "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1)
            f.write("\n")

    def compact_line(ndigits: int | None) -> str:
        payload = {
            "metric": "headline_total",
            "value": record["value"],
            "unit": "sec",
            "sf": sf_val,
            "contaminated": record["contaminated"],
            "attempts": len(history),
            "n_queries": len(record["queries"]),
            "n_violations": len(record["budget_violations"]),
            "violations": sorted(record["budget_violations"]),
            "full_record": full_out or None,
        }
        if ndigits is not None:
            payload["queries"] = {
                k: round(v, ndigits) for k, v in record["queries"].items()
            }
        return json.dumps(payload, separators=(",", ":"))

    line = compact_line(2)
    if len(line) > 1990:
        line = compact_line(1)
    if len(line) > 1990:
        print(
            "WARNING: per-query dict no longer fits the driver's "
            "2000-char stdout tail — emitting the queries-less line",
            file=sys.stderr,
        )
        line = compact_line(None)
    print(line)


if __name__ == "__main__":
    sys.exit(main())
