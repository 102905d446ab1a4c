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

Budgets: a query's budget is ``max(1.8 t, t + 0.6 s)``, where ``t`` is its
median in the newest committed driver record ``BENCH_r*.json`` taken at
this run's core count (``cpus``, from the session master) and SF, with
``rc`` 0, per-query seconds and no contamination stamp. Without such a
record the run is the baseline: no budgets, no violations. The full
record names the artifact it was judged against in ``budget_record``.

Environment: ``SPARK_GRAFT_SF_DIR`` (fixture dir) and
``SPARK_GRAFT_BENCH_FULL_OUT`` (full-record path, relative to this file;
empty disables it).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time

from etl_drone_sense_spark.caching import release_caches
from etl_drone_sense_spark.plans.registry import bench_queries
from etl_drone_sense_spark.session import get_spark

REPO = os.path.dirname(os.path.abspath(__file__))
WAIT_CAP_S = 600.0  # quiet-wait cap before each attempt
RETEST_WAIT_CAP_S = 120.0  # quiet-wait cap before each isolated retest
ATTEMPTS = 3


def budgets(names, cpus, sf, root: str = REPO) -> tuple[dict[str, float], str | None]:
    """Per-query budgets ``max(1.8 t, t + 0.6)`` (the floor keeps
    sub-second queries off scheduler noise), ``t`` being each name's
    median in the newest round's driver record ``BENCH_r*.json`` under
    ``root`` taken at this ``cpus`` and ``sf`` with ``rc`` 0, per-query
    seconds and no contamination stamp. Returns the budgets and that
    record's file name, or ``({}, None)``: the run is the baseline."""
    best: tuple[int, str | None, dict] = (-1, None, {})
    for path in sorted(glob.glob(os.path.join(root, "BENCH_r*.json"))):
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
        parsed = rec.get("parsed") or {}
        if (
            rec.get("rc") == 0 and rec.get("cpus") == cpus and rec.get("sf") == sf
            and parsed.get("queries") and parsed.get("contaminated") is not True
            and rec.get("n", 0) > best[0]
        ):
            best = (rec.get("n", 0), os.path.basename(path), parsed["queries"])
    _, record, times = best
    return {
        name: round(max(1.8 * t, t + 0.6), 2)
        for name, t in times.items() if name in names
    }, record


def warm_dir(sf_dir: str) -> str:
    """The smallest ``sf*`` sibling of ``sf_dir`` (``sf_dir`` itself when
    it has none): the JVM/codegen warm-up runs there so timed runs
    measure steady-state execution, not first-call compilation."""
    root = os.path.dirname(sf_dir.rstrip("/"))
    sibs = [
        d for d in os.listdir(root or ".")
        if d.startswith("sf") and os.path.isdir(os.path.join(root, d))
    ]
    smallest = min(
        sibs,
        key=lambda d: float(d[2:]) if d[2:].replace(".", "").isdigit() else 1e9,
        default=None,
    )
    return os.path.join(root, smallest) if smallest else sf_dir


def run_noop(spark, fn, sf_dir: str) -> float:
    """Run query ``fn`` at ``sf_dir`` to completion through the ``noop``
    sink, then release its scoped caches so they don't skew the next
    query; returns the wall seconds of both."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    release_caches()
    return time.perf_counter() - t0


def _median3(spark, fn, sf_dir: str) -> float:
    return round(statistics.median(run_noop(spark, fn, sf_dir) for _ in range(3)), 3)


def _load1() -> float:
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def _quiet_wait(cap: float = WAIT_CAP_S) -> float:
    """Bounded quiet-launch gate (r13 VERDICT item 3): three consecutive
    driver bench artifacts launched into background load (r11-r13, launch
    loadavg up to 12.58) because the driver sequences the bench right
    after the full correctness sweep. Poll the 1-min loadavg and return
    once it drops under 1.0, or after ``cap`` seconds so a busy host can
    never wedge the driver. Returns seconds waited (``waited_s``)."""
    t0 = time.monotonic()
    while (waited := time.monotonic() - t0) < cap and (load := _load1()) >= 1.0:
        print(
            f"quiet-wait: loadavg {load:.2f} >= 1.0, {waited:.0f}s/{cap:.0f}s waited",
            file=sys.stderr,
        )
        time.sleep(min(10.0, max(1.0, cap - waited)))
    return round(time.monotonic() - t0, 1)


def _measure_attempt(spark, queries, sf_dir, budget, warm: bool) -> dict:
    """One full bench pass: quiet-wait gate, (optional) warm-up, 3-sample
    medians for every bench query, DuckDB oracle grounding, budget check
    with isolated retests, contamination stamp. Returns the record dict
    for this attempt."""
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

    # First attempt only — the retry attempts inherit a warm JVM.
    if warm:
        warm_at = warm_dir(sf_dir)
        for fn in queries.values():
            run_noop(spark, fn, warm_at)

    timings = {
        name: _median3(spark, fn, sf_dir) for name, fn in sorted(queries.items())
    }

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
    oracle_s: dict[str, float] = {}
    oracle_ratio: dict[str, float] = {}
    for name in sorted(n for n in queries if n in oracles):
        t0 = time.perf_counter()
        con.execute(oracles[name]).fetchall()  # materialize like noop
        oracle_s[name] = round(time.perf_counter() - t0, 3)
        if oracle_s[name] > 0:
            oracle_ratio[name] = round(timings[name] / oracle_s[name], 2)

    violations = {
        name: {"sec": t, "budget": budget[name]}
        for name, t in timings.items()
        if t > budget.get(name, float("inf"))
    }
    for name, v in sorted(violations.items()):
        print(
            f"BUDGET EXCEEDED: {name} took {v['sec']:.3f}s"
            f" (budget {v['budget']:.2f}s)",
            file=sys.stderr,
        )

    # Contamination self-description (r12 VERDICT item 4): sample loadavg
    # at launch AND at end, and re-measure each violating query
    # INDIVIDUALLY right here, behind its own short quiet-wait (r16: four
    # retests run into loadavg 5–8.5 all went UP), with the loadavg it
    # actually ran at. loadavg_at_end is forensics only — right after our
    # own run it is always elevated by our own worker threads. A breach
    # that vanishes under isolated retest IS the contamination
    # fingerprint; one whose retest ran loud anyway is indeterminate, so
    # it is stamped contaminated too rather than passed off as real.
    load1_end = _load1()
    contaminated = load1 > 1.0
    for name, v in sorted(violations.items()):
        _quiet_wait(RETEST_WAIT_CAP_S)
        v["retest_loadavg"] = _load1()
        v["retest_s"] = _median3(spark, queries[name], sf_dir)
        v["retest_within_budget"] = v["retest_s"] <= v["budget"]
        if v["retest_within_budget"]:
            print(
                f"RETEST OK: {name} isolated median {v['retest_s']:.3f}s"
                f" within budget {v['budget']:.2f}s — main-loop breach"
                " was contention, not code",
                file=sys.stderr,
            )
        if v["retest_within_budget"] or v["retest_loadavg"] > 1.0:
            contaminated = True

    return {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
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
    host = _host_label(spark)
    budget, budget_record = budgets(queries, host["cpus"], sf_val)

    # Retry-until-clean (r15 VERDICT item 2 of the refinement list): the
    # round's headline evidence must live in the JSON artifact, not in
    # prose about a cleaner rerun. A contaminated attempt (loud launch
    # after the wait cap, or violations that vanish under isolated retest)
    # re-runs the whole measurement behind its own quiet-wait gate. The
    # artifact is the first clean attempt, or the last one with its
    # contamination stamp intact if none came clean.
    history: list[dict] = []
    for attempt in range(1, ATTEMPTS + 1):
        record = _measure_attempt(
            spark, queries, sf_dir, budget, warm=(attempt == 1)
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
        if attempt < ATTEMPTS:
            print(
                f"bench attempt {attempt}/{ATTEMPTS} contaminated — "
                "retrying behind a fresh quiet-wait gate",
                file=sys.stderr,
            )
    record.update(
        sf=sf_val, attempt_history=history, budget_record=budget_record, **host
    )

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
        full_path = os.path.join(REPO, full_out)
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
