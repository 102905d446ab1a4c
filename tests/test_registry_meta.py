"""Registry self-consistency, the query order of the entry contract and
bench.py's budget rule: the contract degrades silently when these drift
(budgets read from the wrong host's record, an undeclared rows-only
entry, a retired name back in the registry, a query order that stops
rotating), so pin them."""

from __future__ import annotations

import json

import __spark_entry__ as E
from etl_drone_sense_spark.plans import registry as RG

RG.all_queries()  # populate

# The ONLY queries allowed to ship without a DuckDB oracle, with the
# documented reason (SURVEY §2.D). sim_kmeans_ivf_topk left this set in
# r5 (bounded-quality oracle); stream_tumbling_counts left it in r6 (the
# bounded two-batch complete-mode replay made it SQL-expressible). The
# set is now EMPTY: every registered query carries a full hash oracle.
DECLARED_ROWS_ONLY: set[str] = set()


def test_rows_only_set_is_exactly_the_declared_one():
    actual = {n for n, s in RG.REGISTRY.items() if s.oracle is None}
    assert actual == DECLARED_ROWS_ONLY


def _bench_record(root, fname: str, n: int, queries: dict, cpus: int = 4,
                  sf: float = 0.1, rc: int = 0, contaminated: bool = False):
    (root / fname).write_text(json.dumps({
        "n": n, "rc": rc, "cpus": cpus, "sf": sf,
        "parsed": {"queries": queries, "contaminated": contaminated},
    }))


def test_budgets_follow_the_newest_clean_record_at_this_cpus_and_sf(tmp_path):
    """A budget is max(1.8 t, t + 0.6) over the newest round's record at
    the run's cpus and sf; a loud, failed, empty or other-host record is
    never a baseline, and without a matching record there are none."""
    import bench

    names = {"a", "b", "c", "missing"}

    def budgets():
        return bench.budgets(names, 4, 0.1, str(tmp_path))

    assert budgets() == ({}, None)
    _bench_record(tmp_path, "BENCH_r01.json", 1, {"a": 9.0, "b": 9.0})
    # r10 sorts before r9 by name: only the round number may decide.
    _bench_record(tmp_path, "BENCH_r9.json", 9, {"a": 5.0, "b": 5.0})
    _bench_record(tmp_path, "BENCH_r10.json", 10,
                  {"a": 0.5, "b": 2.0, "c": 0.75, "retired": 1.0})
    # Newer rounds, each disqualified by one field.
    _bench_record(tmp_path, "BENCH_r11.json", 11, {"a": 0.1}, cpus=32)
    _bench_record(tmp_path, "BENCH_r12.json", 12, {"a": 0.1}, sf=0.01)
    _bench_record(tmp_path, "BENCH_r13.json", 13, {"a": 0.1}, rc=1)
    _bench_record(tmp_path, "BENCH_r14.json", 14, {"a": 0.1}, contaminated=True)
    _bench_record(tmp_path, "BENCH_r15.json", 15, {})
    # t + 0.6 below the 0.75 s crossover, 1.8 t above it, equal on it.
    assert budgets() == ({"a": 1.1, "b": 3.6, "c": 1.35}, "BENCH_r10.json")


def test_committed_bench_records_budget_every_bench_query():
    """The committed driver records as they stand: r17 at 32 and 8 cores
    budgets all 63 bench queries; no record was taken at 4 cores, so a
    4-core run is its own baseline."""
    import bench

    names = {n for n, s in RG.REGISTRY.items() if s.bench}
    at32, record32 = bench.budgets(names, 32, 0.1)
    assert record32 == "BENCH_r17.json"
    assert len(names) == 63 and set(at32) == names
    assert bench.budgets(names, 8, 0.1)[1] == "BENCH_r17_c8.json"
    assert bench.budgets(names, 4, 0.1) == ({}, None)


def test_retired_names_stay_retired():
    """A retired name must not quietly re-enter the registry (the whole
    point of retirement was removing the sf1-incapable default path)."""
    assert "dedup_simhash" not in RG.REGISTRY


def _row(ok: bool | None = True, rows: int = 10, err: str | None = None) -> dict:
    return {"rows_match": ok, "schema_match": ok, "hash_match": ok,
            "spark_rows": rows, "oracle_rows": rows, "err": err}


def test_query_order_counts_only_green_nonvacuous_rows(tmp_path):
    """Only a green row that returned data is evidence: a red row, a
    0-vs-0 match, a rows-only (no oracle) row and an errored row leave a
    name's round where it was, and a name with no evidence leads. A new
    artifact moves its names to the tail, with registration order kept
    inside each round."""
    names = dict.fromkeys(["a", "b", "c", "d", "e", "f"])

    def order() -> list[str]:
        return list(E._stalest_first(names, str(tmp_path)))

    def write(rnd: int, rows: dict) -> None:
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))

    assert order() == list(names)
    write(1, {"a": _row(), "b": _row(), "c": _row(), "d": _row(),
              "e": _row(), "f": _row(rows=0), "gone": _row()})
    write(2, {"a": _row(ok=False), "b": _row(rows=0),
              "c": _row(ok=None, err="no_oracle"), "d": _row(err="boom"),
              "e": _row()})
    (tmp_path / "CORRECTNESS_r03.json.bak").write_text("not json")
    assert E.evidence_rounds(names, str(tmp_path)) == {
        "a": 1, "b": 1, "c": 1, "d": 1, "e": 2, "f": 0}
    assert order() == ["f", "a", "b", "c", "d", "e"]

    write(3, {"a": _row(), "c": _row()})
    assert order() == ["f", "b", "d", "e", "a", "c"]


def test_query_order_is_stalest_first_over_committed_artifacts():
    order = list(E.queries())
    assert sorted(order) == sorted(RG.REGISTRY)
    assert list(E.oracle_sql()) == order  # every query carries an oracle
    rounds = E.evidence_rounds(order)
    pos = {n: i for i, n in enumerate(RG.REGISTRY)}
    keys = [(rounds[n], pos[n]) for n in order]
    assert keys == sorted(keys)


def test_plans_leave_replay_plumbing_to_streaming_pipeline():
    """Replay order, foreachBatch drains and session-conf scoping are
    decided in one module, streaming/pipeline.py (land_in_order, replay,
    scoped_conf); a plans module that hand-rolls one of them again forks
    that decision."""
    import pathlib

    banned = ("foreachBatch(", "utime(", "spark.conf.set(", "spark.conf.unset(")
    plans = pathlib.Path(RG.__file__).parent
    hits = [
        f"{p.name}:{n}: {tok}"
        for p in sorted(plans.glob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        for tok in banned
        if tok in line
    ]
    assert not hits, hits


def test_only_the_landing_shell_subclasses_the_datasource_api():
    """sources/datasource.py is the one place that subclasses PySpark's
    DataSource API; a format module that builds its own reader or stream
    reader again forks the offset protocol and the split planning. The
    stream path yields what the batch path yields, so no row-tuple twin of
    the Arrow IPC batch reader comes back either."""
    import pathlib
    import re

    base = r"DataSource|DataSourceReader|DataSourceStreamReader|InputPartition"
    subclass = re.compile(rf"^\s*class \w+\((?:[\w.]+,\s*)*(?:{base})\)")
    pkg = pathlib.Path(RG.__file__).parent.parent
    files = sorted(pkg.rglob("*.py"))
    hits = {
        str(p.relative_to(pkg))
        for p in files
        if any(subclass.match(line) for line in p.read_text().splitlines())
    }
    assert hits == {"sources/datasource.py"}
    assert not [p.name for p in files if "iter_arrow_rows" in p.read_text()]
