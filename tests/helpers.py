"""Shared test helpers.

Sink tests need no capture helper: ``rest_post_batches`` calls ``post``
on the driver, in order, so a plain ``list.append`` sees every body.
"""

from __future__ import annotations

import itertools

_GROUPS = itertools.count()


def jobs_run(spark, call):
    """``(call(), jobs)``: the Spark jobs ``call`` ran, counted through a
    job group of its own (private sessions share the SparkContext and
    the thread's job group, so their jobs count too)."""
    sc = spark.sparkContext
    group = f"test-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def skip_unless_frozen_artifacts_fresh():
    """Skip (with a retrain instruction) when the frozen codebooks were
    trained on a DIFFERENT fixture generation than the one on disk — the
    driver regenerates /root/testdata between rounds, and recall
    assertions are meaningless on data the codebooks never saw. Oracle
    parity is unaffected (both engines share the literals)."""
    import pytest

    from etl_drone_sense_spark.plans import _frozen_meta as M
    from etl_drone_sense_spark.sources.readers import fixture_fingerprint

    current = fixture_fingerprint(f"{M.TRAINED_ON_SF_DIR}/embeddings.parquet")
    if current != M.TRAINED_ON_FINGERPRINT:
        pytest.skip(
            "frozen codebooks were trained on a different fixture "
            "generation — run `python tools/freeze_artifacts.py` first"
        )
