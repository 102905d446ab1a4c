"""Vector column expressions over ``array<float>`` embeddings.

Pure Catalyst expressions (``zip_with`` + ``aggregate``): the dot product
and norms stay JVM-side and codegen'd, so brute-force similarity scans are
memory-bandwidth-bound, not Python-bound. Math is done in double precision
(floats are up-cast before multiply) to match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    # Same sequential left-fold order as the Spark ``aggregate`` above.
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def unit(a: Column) -> Column:
    """L2-normalized copy of the vector (unit length)."""
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def quantize_i8(u: Column) -> Column:
    """Symmetric int8 quantization of a unit vector: floor(x*127 + 0.5).

    floor(+0.5) instead of round(): identical halfway behavior in every
    engine (round() half-handling differs across engines/signs)."""
    return F.transform(u, lambda x: F.floor(x * 127 + F.lit(0.5)).cast("int"))


# ---------------------------------------------------------------------------
# Fixed-point quantization (exact cross-engine integer arithmetic)
# ---------------------------------------------------------------------------

# 2^24: scaling a float32-origin double by a power of two is EXACT (only
# the exponent changes), so q = floor(x * 2^24 + 0.5) is bit-identical in
# every IEEE-754 engine regardless of how the surrounding expression is
# evaluated. Integer sums are then order-independent — the property the
# float fold could never give (see hyperplane_lsh_pairs).
FIXED_SCALE = 1 << 24


def quantize_fixed(a: Column) -> Column:
    """int64 fixed-point copy of the vector: q_i = floor(x_i * 2^24 + 0.5).

    floor(+0.5) instead of round() for identical halfway behavior across
    engines (same rationale as quantize_i8)."""
    return F.transform(
        a, lambda x: F.floor(x.cast("double") * FIXED_SCALE + F.lit(0.5)).cast("long")
    )


def quantize_fixed_sql(a: str) -> str:
    return (
        f"list_transform({a}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {FIXED_SCALE} + 0.5) AS BIGINT))"
    )


def dot_int_sql(a: str, b: str) -> str:
    """Integer dot product — exact, order-independent (unlike dot_sql,
    whose float fold order is part of its contract)."""
    return f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


def l2sq_int(a: Column, b: Column) -> Column:
    """Integer squared-L2 distance over fixed-point vectors — exact and
    order-independent, the ANN comparison metric (r14, sim_graph_topk).
    Components quantized at 2^24 on unit-scale data keep every squared
    term under 2^50 and a 64-dim sum under 2^56 — inside int64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def l2sq_int_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (sign sketches)
# ---------------------------------------------------------------------------


def hyperplanes(dim: int, nbits: int, seed: str = "hp") -> list[list[int]]:
    """Deterministic ±1 hyperplanes (md5-parity pseudo-random, driver-side).

    Rademacher (±1) entries approximate Gaussian planes for sign-LSH while
    rendering as exact integer literals in BOTH engines — no RNG state, no
    float-literal drift. P(sign differs between two vectors) = angle/π, so
    banded bucket equality concentrates near-duplicates."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:2], 16) % 2
            == 0
            else -1
            for i in range(dim)
        ]
        for j in range(nbits)
    ]


def hyperplane_bit_fixed_sql(qvec: str, plane_expr: str) -> str:
    """Sign bit over a quantize_fixed_sql vector — integer arithmetic, so
    the result is evaluation-order-independent and matches any engine's
    (including numpy's) computation of the same sum exactly."""
    return f"CASE WHEN {dot_int_sql(qvec, plane_expr)} >= 0 THEN '1' ELSE '0' END"


def plane_lit_sql(plane: list[int]) -> str:
    return "[" + ", ".join(str(w) for w in plane) + "]"
