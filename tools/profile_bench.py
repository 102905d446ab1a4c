"""Per-query profiling harness: timings and plan dumps.

Usage:  python tools/profile_bench.py [--plans-dir plans/r16] [--suffix before]
                                      [--samples 3] [name ...]

For each named query (any registered query; default: all bench queries):
  * writes `.explain("formatted")` at $SPARK_GRAFT_SF_DIR to
    <plans-dir>/<name>_<suffix>.txt,
  * warms it once on the smallest sibling SF (JVM/codegen),
  * times `samples` noop-sink runs at $SPARK_GRAFT_SF_DIR (median reported),
    counting for each the classes Janino compiled, the ms it took and the
    CPU seconds of the Python workers.

Prints one JSON line per timed query:
{"name": ..., "median_s": ..., "samples": [...], "compiles": [...],
"compile_ms": [...], "python_cpu_s": [...]}. A warm sample compiles 0
classes; a query that compiles on every sample generates new source per
call, or its working set no longer fits the session's codegen cache.
`python_cpu_s` is read from /proc: the CPU of the processes below the
JVM, which are the Python worker daemon and the workers it forks (reaped
ones included), so it is 0 for a query that starts no Python worker.
`--samples 0` only dumps plans: no warm-up, no runs, no JSON line. E.g. a
before/after pair for one query:
  python tools/profile_bench.py --plans-dir plans/r17 --suffix before \
      --samples 0 multimodal_decode_adpcm
The explain dump is captured from the UNEXECUTED plan (AdaptiveSparkPlan
initial form) — the same artifact tests/test_plans.py asserts against.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_noop, warm_dir  # noqa: E402
from etl_drone_sense_spark.caching import release_caches  # noqa: E402
from etl_drone_sense_spark.plans.registry import (  # noqa: E402
    all_queries,
    bench_queries,
)
from etl_drone_sense_spark.session import codegen_totals, get_spark  # noqa: E402
from perfbench.procs import descendants  # noqa: E402


def python_cpu_s(spark) -> float:
    """CPU seconds used so far by the processes below the session's JVM
    (the Python worker daemon and its workers), with their reaped
    children's."""
    ticks = 0
    for pid in descendants(spark.sparkContext._gateway.proc.pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:  # exited since it was listed
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def timed_sample(spark, fn, sf_dir: str) -> tuple[float, int, float, float]:
    """(wall s, classes compiled, compile ms, Python CPU s) of one noop-sink
    run."""
    c0, ms0 = codegen_totals(spark)
    py0 = python_cpu_s(spark)
    wall = run_noop(spark, fn, sf_dir)
    c1, ms1 = codegen_totals(spark)
    return wall, c1 - c0, ms1 - ms0, python_cpu_s(spark) - py0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--plans-dir", default=None,
                    help="directory for explain dumps (omit = no dumps)")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf_dir):
        print(
            f"bench dir {sf_dir!r} missing — set SPARK_GRAFT_SF_DIR to a "
            "fixture directory (e.g. .../sf0.1)",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name="etl-drone-sense-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    names = args.names or sorted(bench_queries())
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    for name in names:
        fn = queries[name]
        if args.plans_dir:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            release_caches()
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"),
                "w", encoding="utf-8",
            ) as f:
                f.write(buf.getvalue())
        if not args.samples:
            continue
        if not args.no_warm:
            run_noop(spark, fn, warm_dir(sf_dir))
        runs = [timed_sample(spark, fn, sf_dir) for _ in range(args.samples)]
        samples = [round(wall, 3) for wall, _, _, _ in runs]
        print(json.dumps({
            "name": name,
            "median_s": round(statistics.median(samples), 3),
            "samples": samples,
            "compiles": [n for _, n, _, _ in runs],
            "compile_ms": [round(ms, 1) for _, _, ms, _ in runs],
            "python_cpu_s": [round(py, 2) for _, _, _, py in runs],
        }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
