"""The benchmark's own checks; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ctypes
import json
import os
import threading
import time

from etl_drone_sense_spark.plans import registry
from perfbench import etl, fixtures, procs, run, spans, suite


def test_every_bench_query_has_a_layer():
    layers = {name: suite.layer_of(registry.get(name)) for name in registry.bench_queries()}
    assert set(layers.values()) == set(suite.LAYERS), "every layer holds a bench query"
    assert len(layers) == len(registry.bench_queries())


def test_measured_sample_is_one_bench_query_per_layer():
    bench = registry.bench_queries()
    assert all(name in bench for name in suite.MEASURED)
    assert [suite.layer_of(registry.get(n)) for n in suite.MEASURED] == list(suite.LAYERS)


def test_benchmark_json_names_what_the_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    assert all(len(m["name"]) <= 64 for m in spec["per_layer"])


def test_fixtures_are_deterministic_and_scaled():
    a, b = fixtures.make_tables(0.001), fixtures.make_tables(0.001)
    assert list(a) == list(fixtures.TABLES)
    assert all(a[t].equals(b[t]) for t in fixtures.TABLES)
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500
    texts = a["documents"].column("text").to_pylist()
    assert any(t.endswith(" dup") and t[: -len(" dup")] in texts for t in texts)


def test_fleet_is_seeded_and_covers_every_sensor_branch():
    f = etl.Fleet(seed=3, n=64)
    assert f.tick(5) == etl.Fleet(seed=3, n=64).tick(5)
    assert f.tick(5) != f.tick(6)
    recs = f.tick(1)
    assert len({r["id"] for r in recs}) == 64
    rtsp = [[s["rtsp_url"] is not None for s in r["sensors"]] for r in recs]
    assert [] in rtsp and [False, True] in rtsp and [True, True, True] in rtsp
    assert any(s["video_url"] is None and s["rtsp_url"] for r in recs for s in r["sensors"])
    assert any(r["spoiLat"] == 0 or r["spoiLng"] == 0 for r in recs)
    assert any(r["spoiLat"] == r["latitude"] and r["spoiLng"] == r["longitude"] for r in recs)
    assert any(r["longitude"] == 179.95 and r["spoiLng"] == -179.95 for r in recs)


def test_tally_detects_lost_and_repeated_ids():
    param = etl.TallyParam()
    body = lambda ids: json.dumps({"features": [{"id": i} for i in ids]})  # noqa: E731
    whole = param.addInPlace(etl.tally(body(["a", "b"])), etl.tally(body(["c"])))
    assert whole[:3] == (3, 2, 2)
    assert whole[4] == etl.id_digest(["a", "b", "c"])
    assert etl.id_digest(["a", "b", "b"]) != etl.id_digest(["a", "b", "c"])


def test_self_time_subtracts_the_union_of_children():
    t = spans.Tracer()
    t.spans = [
        spans.Span("parent", 0.0, 10.0, None, "op"),
        spans.Span("a", 1.0, 4.0, 0, "op"),
        spans.Span("b", 3.0, 5.0, 0, "op"),
    ]
    assert t.self_time(0) == 6.0
    assert spans.covered([(8.0, 12.0)], 0.0, 10.0) == 2.0


def test_wrap_records_a_span_per_call():
    t = spans.Tracer()
    double = t.wrap(lambda x: 2 * x, "layer", "op")
    assert double(3) == 6
    assert [(s.name, s.op, s.parent) for s in t.spans] == [("layer", "op", None)]


def test_fixture_directory_is_keyed_by_generator_and_scale():
    assert fixtures.generator_key(0.001) == fixtures.generator_key(0.001)
    assert fixtures.generator_key(0.001) != fixtures.generator_key(0.01)


def test_tree_cpu_can_leave_out_jit_compiler_threads():
    burnt, done = threading.Event(), threading.Event()

    def compiler_like():
        # Named as /proc shows a JVM's C2 compiler thread (PR_SET_NAME).
        ctypes.CDLL(None).prctl(15, b"C2 CompilerThre", 0, 0, 0)
        t = time.thread_time()
        while time.thread_time() - t < 0.3:
            pass
        burnt.set()
        done.wait()

    thread = threading.Thread(target=compiler_like)
    thread.start()
    burnt.wait()
    try:
        gap = procs.tree_cpu_s() - procs.tree_cpu_s(jit=False)
    finally:
        done.set()
        thread.join()
    assert 0.2 <= gap <= 0.5


def test_event_log_folds_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w/op/layer"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Attempt": 1},
         "Task Metrics": {"Executor Run Time": 3000, "Executor CPU Time": 1e9,
                          "JVM GC Time": 100, "Disk Bytes Spilled": 2**20,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    g = spans.fold_event_log(str(tmp_path))["w/op/layer"]
    assert (g.jobs, g.stages, g.tasks, g.retries) == (1, 1, 1, 1)
    assert (g.python_worker_s, g.gc_s, g.shuffle_write_mb, g.spill_mb) == (2.0, 0.1, 2.0, 1.0)
    assert g.job_intervals == [(1.0, 4.0)]
