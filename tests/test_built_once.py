"""sources/readers.built_once: the one build-once store for fixture-derived
tables and landing dirs. No Spark session: the fixture is a plain file
(the key only stats it) and ``build`` counts its calls.

Contract pinned here:
* one build per (prefix, sf_dir, fixture footer stat);
* a hard-linked copy of the fixture at a new sf_dir builds again (the
  benchmark's fresh-source ops must commit inside the timed op);
* a rewrite builds again and evicts the superseded entry;
* a build that raises stores nothing;
* concurrent first calls build once.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from etl_drone_sense_spark.sources import readers as R


def _fixture(sf_dir, body: bytes = b"v1") -> None:
    os.makedirs(sf_dir, exist_ok=True)
    with open(os.path.join(sf_dir, "t.parquet"), "wb") as f:
        f.write(body)


def _counting_build(calls: list):
    def build(work: str) -> str:
        assert os.path.isdir(work) and os.path.basename(work).startswith("sg_t_")
        calls.append(work)
        return work

    return build


def _entries(prefix: str, sf_dir: str) -> list:
    return [k for k in R._BUILT if k[:2] == (prefix, sf_dir)]


def test_same_key_builds_once(tmp_path):
    sf = str(tmp_path / "sf")
    _fixture(sf)
    calls: list = []
    first = R.built_once(sf, "t", "sg_t_", _counting_build(calls))
    second = R.built_once(sf, "t", "sg_t_", _counting_build(calls))
    assert first == second == calls[0]
    assert len(calls) == 1


def test_hard_linked_copy_at_new_sf_dir_builds_again(tmp_path):
    sf, copy = str(tmp_path / "sf"), str(tmp_path / "copy")
    _fixture(sf)
    os.makedirs(copy)
    os.link(os.path.join(sf, "t.parquet"), os.path.join(copy, "t.parquet"))
    calls: list = []
    a = R.built_once(sf, "t", "sg_t_", _counting_build(calls))
    b = R.built_once(copy, "t", "sg_t_", _counting_build(calls))
    assert a != b and len(calls) == 2
    # the copy's entry does not evict the original's
    assert len(_entries("sg_t_", sf)) == len(_entries("sg_t_", copy)) == 1


def test_rewrite_builds_again_and_evicts_stale_entry(tmp_path):
    sf = str(tmp_path / "sf")
    _fixture(sf, b"v1")
    calls: list = []
    old = R.built_once(sf, "t", "sg_t_", _counting_build(calls))
    _fixture(sf, b"generation two")  # new size: new fingerprint
    new = R.built_once(sf, "t", "sg_t_", _counting_build(calls))
    assert old != new and len(calls) == 2
    (key,) = _entries("sg_t_", sf)
    assert R._BUILT[key] == new
    # a different site on the same sf_dir is a separate entry
    R.built_once(sf, "t", "sg_t_other_", lambda work: work)
    assert len(_entries("sg_t_", sf)) == 1
    assert len(_entries("sg_t_other_", sf)) == 1


def test_raising_build_stores_nothing(tmp_path):
    sf = str(tmp_path / "sf")
    _fixture(sf)

    def broken(work: str) -> str:
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        R.built_once(sf, "t", "sg_t_", broken)
    assert _entries("sg_t_", sf) == []
    calls: list = []
    R.built_once(sf, "t", "sg_t_", _counting_build(calls))
    assert len(calls) == 1


def test_concurrent_first_calls_build_once(tmp_path):
    sf = str(tmp_path / "sf")
    _fixture(sf)
    calls: list = []
    n = 8
    barrier = threading.Barrier(n)
    results: list = []

    def build(work: str) -> str:
        calls.append(work)
        time.sleep(0.05)  # widen the check-then-build window
        return work

    def worker() -> None:
        barrier.wait(timeout=10)
        results.append(R.built_once(sf, "t", "sg_t_", build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert len(results) == n
    assert len(calls) == 1
    assert set(results) == {calls[0]}


def test_scratch_root_is_removed_at_exit_by_its_creator_only(tmp_path):
    """Build dirs live under one per-process scratch root that goes at
    interpreter exit. A forked child inherits the exit handler but must
    not remove its parent's root."""
    import subprocess

    sf, tmp = str(tmp_path / "sf"), tmp_path / "tmp"
    _fixture(sf)
    tmp.mkdir()
    code = (
        "import os, sys\n"
        "from etl_drone_sense_spark.sources import readers as R\n"
        "work = R.built_once(sys.argv[1], 't', 'sg_t_', lambda w: w)\n"
        "open(os.path.join(work, 'f'), 'w').close()\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    sys.exit(0)\n"
        "os.waitpid(pid, 0)\n"
        "print(os.path.dirname(work), os.path.isfile(os.path.join(work, 'f')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, sf],
        env={**os.environ, "TMPDIR": str(tmp)},
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    root, survived_child = out[0], out[1]
    assert os.path.dirname(root) == str(tmp)
    assert os.path.basename(root).startswith("sg_")
    assert survived_child == "True"
    assert os.listdir(tmp) == []
