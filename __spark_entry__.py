"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship reference-parity pipeline;
``queries()`` / ``oracle_sql()`` expose the full operator registry
(etl_drone_sense_spark.plans) for the DuckDB differential gate.

Both yield the stalest correctness evidence first: names with no green row in
any committed ``CORRECTNESS_rNN.json`` lead, then ascending newest green
round, registration order within a round.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from etl_drone_sense_spark.plans import all_oracles, all_queries

_HERE = os.path.dirname(os.path.abspath(__file__))
_MATCHES = ("rows_match", "schema_match", "hash_match")


def evidence_rounds(names: Iterable[str], root: str = _HERE) -> dict[str, int]:
    """name -> newest round NN whose ``CORRECTNESS_rNN.json`` in ``root``
    holds a green, non-vacuous row for it (0 = none). Green means rows,
    schema and hash all matched with no error; non-vacuous means the
    query returned rows (a 0-vs-0 match proves nothing)."""
    newest = dict.fromkeys(names, 0)
    for fname in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        with open(os.path.join(root, fname)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            green = (
                all(row.get(k) is True for k in _MATCHES)
                and row.get("err") is None
                and (row.get("spark_rows") or 0) > 0
            )
            if green and name in newest:
                newest[name] = max(newest[name], int(m.group(1)))
    return newest


def _stalest_first(by_name: dict, root: str = _HERE) -> dict:
    rounds = evidence_rounds(by_name, root)
    return dict(sorted(by_name.items(), key=lambda kv: rounds[kv[0]]))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference drone→Feature
    transform (SURVEY §2 Part A) over synthesized telemetry."""
    from etl_drone_sense_spark.plans.drone import drone_features_flat

    return drone_features_flat(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _stalest_first(all_queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    return _stalest_first(all_oracles())
