"""The repo benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each workload is a closed loop with one
caller, this process, over ``local[nproc]`` task threads:

* ``etl_ingest``: back-to-back ``pipeline.handler`` ticks, each over the
  next positions of a fleet of ``FLEET`` drones, posting to an offline
  transport;
* ``batch_queries``: passes over ``suite.MEASURED``, one bench query per
  layer, each run to completion through the ``noop`` sink, in a
  seed-shuffled order, on fixtures generated at scale factor ``SF``.

``--trace 0`` prints the end-to-end metrics named in ``BENCHMARK.json``;
the line before it, ``{"record": ...}``, stamps the run and carries the
wall-clock figures. ``--trace 1`` turns on Spark's event log, traces half
of the timed ops (job groups and spans) and prints the per-layer
metrics; ``trace_overhead`` divides the median wall time of its traced ops
by that of its untraced ones. Every run checks its outputs outside the
timed region: the warm-up pass collects each query and compares it with
its DuckDB oracle; every tick's posts are compared with the generated ids.
A mismatch counts as a failed op and makes the exit code non-zero.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import pickle
import platform
import random
import shutil
import statistics
import sys
import time
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", ".data")
OUT = os.path.join(ROOT, "perfbench", ".out")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402

SF = 0.001
FLEET = 10_000
BATCH_SIZE = 500
# Untimed ticks, charged to set-up: the first ticks run the JVM's
# first-call paths.
WARM_TICKS = 3
# Timed ops per run, however fast the host. A batch pass takes 5-8 s; a
# third pass did not narrow the spread across runs, which the host's swings
# set, and cost a tenth more run time. A traced run makes at least
# TRACED_MIN_OPS, half of them traced (see Run.traced).
MIN_TICKS = 4
MIN_PASSES = 2
TRACED_MIN_OPS = 4
WORKLOADS = ("etl_ingest", "batch_queries")
# On a shared host, wall-clock times swing by up to 2x across minutes while
# the hypervisor steals CPU from the guest. The CPU seconds of the process
# tree exclude stolen time and swing less, so the bounded time metrics are
# CPU seconds: ``setup_s``, of the whole tree from process start to the
# first timed op; ``pass_cpu_s``, per pass or tick, without the JVM's JIT
# compiler threads. Their work per op falls by half over the first ten ops
# and swings with host timing (see procs.tree_cpu_s). The wall-clock
# figures ride in the record.
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
BATCH_FIELDS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "jvm_cpu_s": "s",
    "python_worker_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
}
ETL_METRICS = {
    "sources.readers.fetch_s": "s",
    "sources.readers.records": "count",
    "operators.feature_transform.plan_s": "s",
    "sources.sinks.post_s": "s",
    "sources.sinks.batches": "count",
    "sources.sinks.body_mb": "MB",
    "sources.sinks.tasks": "count",
    "sources.sinks.python_worker_s": "s",
    "sources.sinks.posted_per_generated": "ratio",
    "pipeline.handler.self_s": "s",
}
RUN_METRICS = {
    "session.start_s": "s",
    "plans.registry.load_s": "s",
    "spark.task_retries": "count",
    "trace_overhead": "ratio",
}
# The names pipeline.handler looks up, wrapped in a span of their layer
# during a traced tick.
ETL_CALLS = {
    "fetch_drone_records": "sources.readers",
    "drone_features": "operators.feature_transform",
    "rest_post_batches": "sources.sinks",
}
# ETL span name -> the per-layer metric its duration feeds.
ETL_SPANS = {
    "sources.readers": "sources.readers.fetch_s",
    "operators.feature_transform": "operators.feature_transform.plan_s",
    "sources.sinks": "sources.sinks.post_s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.suite import LAYERS

    batch = {f"{layer}.{field}": unit for layer in LAYERS for field, unit in BATCH_FIELDS.items()}
    return {**batch, **ETL_METRICS, **RUN_METRICS}


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, or None
    when there are fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return {"pct": 100 * (n - 10) / n, "value": sorted(samples)[n - 11], "n": n}


class Run:
    """State of one benchmark process: counts, checks, per-layer figures and
    the record that stamps the result."""

    def __init__(self, args, out_dir: str):
        self.args = args
        self.out = out_dir
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        # Per timed op: wall seconds and CPU seconds without the JIT.
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.layer: dict[str, float] = {}
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "traced": bool(args.trace),
            "loadavg_start": procs.loadavg(),
        }

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)

    def setup_done(self) -> float:
        """Marks the end of set-up; returns the clock the timed ops start at."""
        self.setup_s = procs.tree_cpu_s()
        self.record["setup_wall_s"] = procs.process_age_s()
        return time.perf_counter()

    @contextlib.contextmanager
    def timed_op(self):
        """Times the block as the next timed op."""
        c0 = procs.tree_cpu_s(jit=False)
        t0 = time.perf_counter()
        yield
        self.wall.append(time.perf_counter() - t0)
        self.cpu.append(procs.tree_cpu_s(jit=False) - c0)

    def traced(self, i: int) -> bool:
        """Whether timed op ``i`` is traced. A traced run repeats untraced,
        traced, traced, untraced, so that ``trace_overhead`` compares
        neighbouring ops and a steady drift over the run cancels out."""
        return self.tracer is not None and i % 4 in (1, 2)

    def min_ops(self, untraced: int) -> int:
        return max(untraced, TRACED_MIN_OPS) if self.tracer else untraced

    def span(self, name: str, op: str, on: bool):
        return self.tracer.span(name, op) if on else contextlib.nullcontext()

    def start_session(self):
        from etl_drone_sense_spark.session import get_spark
        from perfbench.spans import event_log_conf

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.out, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update(event_log_conf(os.path.join(self.out, "eventlog")))
        cpus = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        spark = get_spark(master=f"local[{cpus}]", extra_conf=conf)
        self.layer["session.start_s"] = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        import pyspark

        self.record.update(
            nproc=cpus,
            cpus=spark.sparkContext.defaultParallelism,
            pyspark=pyspark.__version__,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            python=platform.python_version(),
        )
        return spark


def run_etl(run: Run, spark, seconds: float) -> dict:
    """Warm-up ticks, then timed ticks for ``seconds`` (at least ``MIN_TICKS``)."""
    from etl_drone_sense_spark import pipeline
    from perfbench import etl

    os.environ.setdefault("ETL_API", "http://etl.invalid")
    os.environ.setdefault("ETL_LAYER", "perfbench")
    fleet = etl.Fleet(run.args.seed, FLEET)
    want_digest = etl.id_digest(d["id"] for d in fleet.base)
    posted: list[tuple] = []

    def tick(k: int, traced: bool, timed) -> None:
        payload = fleet.tick(k)
        acc = spark.sparkContext.accumulator((0, 0, 0, 0, 0), etl.TallyParam())
        transport = etl.CountingTransport(acc)
        op = f"t{k}"
        with contextlib.ExitStack() as stack:
            if traced:  # one span per layer around the calls handler makes
                for attr, layer in ETL_CALLS.items():
                    wrapped = run.tracer.wrap(getattr(pipeline, attr), layer, op)
                    stack.enter_context(mock.patch.object(pipeline, attr, wrapped))
            with timed, run.span("pipeline.handler", op, traced):
                n = pipeline.handler(
                    spark=spark, payload=payload, transport=transport, batch_size=BATCH_SIZE
                )["features"]
        features, batches, largest, body, digest = acc.value
        run.attempted += 1
        if (n, features, digest) != (FLEET, FLEET, want_digest) or largest > BATCH_SIZE:
            run.fail(
                f"tick {k}: handler returned {n}; posted {features} features in "
                f"{batches} bodies (largest {largest}); ids match: {digest == want_digest}"
            )
        posted.append((features, batches, body))

    for k in range(WARM_TICKS):
        tick(k, False, contextlib.nullcontext())
    posted.clear()
    lat = run.wall
    ready = run.setup_done()
    while len(lat) < run.min_ops(MIN_TICKS) or time.perf_counter() - ready < seconds:
        tick(WARM_TICKS + len(lat), run.traced(len(lat)), run.timed_op())
    n = len(lat)
    plain = [i for i in range(n) if not run.traced(i)]
    run.record.update(
        fleet=FLEET,
        ticks=lat,
        latency_p50_s=statistics.median(lat[i] for i in plain),
        latency_tail=tail([lat[i] for i in plain]),
        features_per_s=sum(posted[i][0] for i in plain) / sum(lat[i] for i in plain),
    )
    run.layer.update(
        {
            "sources.readers.records": FLEET,
            "sources.sinks.batches": sum(p[1] for p in posted) / n,
            "sources.sinks.body_mb": sum(p[2] for p in posted) / n / 2**20,
            "sources.sinks.posted_per_generated": sum(p[0] for p in posted) / (FLEET * n),
        }
    )
    return op_figures(run)


def op_figures(run: Run) -> dict:
    """Medians of the untraced and the traced timed ops."""
    n = len(run.wall)
    plain = [i for i in range(n) if not run.traced(i)]
    traced = [i for i in range(n) if run.traced(i)]
    run.record["op_cpu_s"] = run.cpu
    return {
        "pass_s": statistics.median(run.wall[i] for i in plain),
        "pass_cpu_s": statistics.median(run.cpu[i] for i in plain),
        "traced_pass_s": statistics.median(run.wall[i] for i in traced) if traced else None,
        "traced_ops": len(traced),
    }


def run_batch(run: Run, spark, seconds: float) -> dict:
    """A checked warm-up pass and an untimed one, then timed passes for
    ``seconds`` (at least ``MIN_PASSES``)."""
    from etl_drone_sense_spark.caching import release_caches
    from etl_drone_sense_spark.plans import registry
    from perfbench import fixtures, suite
    from tests.compare import assert_frames_match

    t = time.perf_counter()
    registry.bench_queries()
    run.layer["plans.registry.load_s"] = time.perf_counter() - t
    names = list(suite.MEASURED)
    sf_dir, fixture_key = fixtures.ensure_fixtures(DATA, SF)
    oracle = load_oracles(registry, names, sf_dir, fixture_key)
    run.record.update(sf=SF, fixture=fixture_key)

    def source(name: str, op: str) -> str:
        """The fixture directory the timed op ``op`` of query ``name`` reads:
        for a ``suite.FRESH_SOURCE`` layer, a fresh hard-linked copy."""
        if suite.layer_of(registry.get(name)) not in suite.FRESH_SOURCE:
            return sf_dir
        copy = os.path.join(run.out, "sources", op)
        os.makedirs(copy)
        for table in fixtures.TABLES:
            file = f"{table}.parquet"
            os.link(os.path.join(sf_dir, file), os.path.join(copy, file))
        return copy

    def noop(name: str, src: str, op: str, traced: bool) -> tuple[float, float] | None:
        """Runs one query to completion; its wall and CPU seconds (without
        the JIT), or None if it raised. A traced op is a span of the query's
        layer."""
        spec = registry.get(name)
        run.attempted += 1
        c0 = procs.tree_cpu_s(jit=False)
        t0 = time.perf_counter()
        try:
            with run.span(suite.layer_of(spec), op, traced):
                spec.fn(spark, src).write.mode("overwrite").format("noop").save()
                release_caches()
        except Exception as e:  # noqa: BLE001 - a raising query is a failed op
            run.fail(f"{name} raised {type(e).__name__}: {str(e)[:300]}")
            return None
        return time.perf_counter() - t0, procs.tree_cpu_s(jit=False) - c0

    first_call: dict[str, float] = {}
    for name in names:  # warm-up at the measured scale doubles as the check
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            got = registry.get(name).fn(spark, sf_dir).toPandas()
            release_caches()
            assert_frames_match(got, oracle[name], name)
        except AssertionError as e:
            run.fail(f"{name}: oracle mismatch: {str(e)[:300]}")
        except Exception as e:  # noqa: BLE001 - a raising query is a failed op
            run.fail(f"{name}: raised {type(e).__name__}: {str(e)[:300]}")
        first_call[name] = time.perf_counter() - t0
    # One untimed pass down the timed path: the noop writes and the JIT
    # compiling them would otherwise land in the first timed pass.
    for name in names:
        noop(name, source(name, f"w.{name}"), f"w.{name}", traced=False)

    rng = random.Random(run.args.seed)
    samples: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    passes = run.wall
    ready = run.setup_done()
    while len(passes) < run.min_ops(MIN_PASSES) or time.perf_counter() - ready < seconds:
        traced = run.traced(len(passes))
        order = [(n, f"p{len(passes)}.{n}") for n in rng.sample(names, len(names))]
        srcs = {n: source(n, op) for n, op in order}
        with run.timed_op():
            for name, op in order:
                got = noop(name, srcs[name], op, traced)
                if got is not None and not traced:
                    samples[name].append(got)

    medians = {n: statistics.median(w for w, _ in v) for n, v in samples.items() if v}
    cpu_medians = {n: statistics.median(c for _, c in v) for n, v in samples.items() if v}
    run.record.update(
        first_call_s=first_call,
        passes=passes,
        query_median_s=medians,
        query_cpu_median_s=cpu_medians,
        query_geomean_s=geomean(medians.values()),
    )
    return op_figures(run)


def load_oracles(registry, names, sf_dir: str, fixture_key: str) -> dict:
    """DuckDB oracle results, computed once per fixture generator, oracle SQL
    and DuckDB version, and cached as pickles that only this program writes."""
    import duckdb

    from perfbench.fixtures import TABLES

    cache = os.path.join(DATA, "oracle", fixture_key)
    os.makedirs(cache, exist_ok=True)
    out = {}
    con = None
    try:
        for name in names:
            sql = registry.get(name).oracle
            key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()[:16]
            path = os.path.join(cache, f"{name}-{key}.pkl")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb.connect()
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
                with open(path + ".tmp", "wb") as f:
                    pickle.dump(con.execute(sql).fetchdf(), f)
                os.replace(path + ".tmp", path)
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
    finally:
        if con is not None:
            con.close()
    return out


def fold_layers(run: Run, workload: str, ops: int) -> None:
    """Per-layer figures, per traced pass or tick, from spans and event log."""
    from perfbench.spans import covered, fold_event_log

    groups = fold_event_log(os.path.join(run.out, "eventlog"))
    sums: dict[str, float] = {}
    retries = 0

    def add(key: str, v: float) -> None:
        sums[key] = sums.get(key, 0.0) + v

    for i, s in enumerate(run.tracer.spans):
        g = groups.get(f"{workload}/{s.op}/{s.name}")
        retries += g.retries if g else 0
        dur = s.end - s.start
        if s.name == "pipeline.handler":
            add("pipeline.handler.self_s", run.tracer.self_time(i))
        elif s.name in ETL_SPANS:
            add(ETL_SPANS[s.name], dur)
            if s.name == "sources.sinks" and g:
                add("sources.sinks.tasks", g.tasks)
                add("sources.sinks.python_worker_s", g.python_worker_s)
        else:  # a batch layer
            add(f"{s.name}.wall_s", dur)
            add(f"{s.name}.driver_s", dur - covered(g.job_intervals if g else [], s.start, s.end))
            for f in list(BATCH_FIELDS)[2:]:
                add(f"{s.name}.{f}", getattr(g, f) if g else 0)
    run.layer.update({k: v / ops for k, v in sums.items()})
    run.layer["spark.task_retries"] = retries


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out = os.path.join(OUT, args.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    # The package's scratch directories and the Python workers stay in the checkout.
    os.environ["TMPDIR"] = os.path.join(out, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    # The JIT compiler threads live as long as the JVM, so procs.tree_cpu_s
    # can leave their CPU out; the code they compile is the same.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={out}/tmp -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    import etl_drone_sense_spark  # noqa: F401  (fails here outside a checkout)
    from perfbench.spans import Tracer

    rss = procs.TreeRss()
    rss.start()
    run = Run(args, out)
    spark = run.start_session()
    if args.trace:
        run.tracer = Tracer(spark.sparkContext, args.workload)
    body = run_etl if args.workload == "etl_ingest" else run_batch
    try:
        figures = body(run, spark, args.seconds)
    finally:
        peak_mb = rss.stop()
        procs.stop_spark(spark)
    run.record.update(
        pass_s=figures["pass_s"],
        loadavg_end=procs.loadavg(),
        attempted=run.attempted,
        failed=run.failed,
        failed_ratio=run.failed / run.attempted,
    )

    if args.trace:
        run.tracer.write(os.path.join(out, "spans.json"))
        fold_layers(run, args.workload, figures["traced_ops"])
        run.layer["trace_overhead"] = figures["traced_pass_s"] / figures["pass_s"]
        # The layers' seconds per op reconcile with the traced op (ratio near
        # 1) and with the untraced op (ratio near trace_overhead).
        parts = [k for k in run.layer if k.endswith(".wall_s")] or list(ETL_SPANS.values())
        layer_sum = sum(run.layer.get(k, 0.0) for k in parts)
        run.record.update(
            traced_pass_s=figures["traced_pass_s"],
            layers_over_traced=layer_sum / figures["traced_pass_s"],
            layers_over_untraced=layer_sum / figures["pass_s"],
            trace_overhead=run.layer["trace_overhead"],
        )
        metrics = {k: (run.layer.get(k, 0.0), u) for k, u in per_layer_units().items()}
    else:
        values = {
            "setup_s": run.setup_s,
            "pass_cpu_s": figures["pass_cpu_s"],
            "peak_rss_mb": peak_mb,
        }
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    print(json.dumps({"record": run.record}))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
