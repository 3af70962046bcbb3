"""Array literals built as ONE parsed SQL expression instead of per-element
py4j calls.

PySpark's ``F.lit(list)`` (and any hand-rolled ``F.array(*[F.lit(x) ...])``)
issues one JVM round trip per element: a 10×64 nested centroid literal costs
~0.7 s of driver-side py4j chatter, and every Lloyd round / ANN query that
bakes trained state into its plan pays it again (measured round 15; a 64-term
``when``-chain costs ~1.2 s to *build* the same way). Rendering the identical
literal as SQL text and parsing it with ONE ``F.expr`` call is ~100× cheaper
and produces the same Literal nodes.

Exactness: every finite double is rendered as its Python ``repr`` (the
shortest round-tripping decimal form — same contract as Java's
``Double.toString``) with the ``D`` suffix; Spark's parser reads it back via
``Double.parseDouble``, which by the round-trip guarantee lands on the
bit-identical double (verified on subnormals, ±0.0, 2^53, exponent forms).
Non-finite values fall back to ``F.lit`` — no query here produces them, but
the helper must never silently mis-render one.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _double_sql(x) -> str:
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"non-finite double {v!r} has no SQL literal form")
    return repr(v) + "D"


def _array_sql(elems, elem_type: str) -> str:
    """``array(e1, ...)``; an empty list renders as a typed empty literal,
    since a bare ``array()`` would carry no element type."""
    elems = list(elems)
    if not elems:
        return f"CAST(array() AS ARRAY<{elem_type}>)"
    return "array(" + ",".join(elems) + ")"


def double_array_sql(vals) -> str:
    """``array(1.0D, ...)`` — the SQL text of an array<double> literal."""
    return _array_sql((_double_sql(x) for x in vals), "DOUBLE")


def lit_double_array(vals) -> Column:
    """array<double> literal via one parsed expression; bit-identical to
    ``F.lit([float(x) for x in vals])`` (repr round-trip)."""
    try:
        return F.expr(double_array_sql(vals))
    except ValueError:  # non-finite element: exactness over speed
        return F.lit([float(x) for x in vals])


def lit_double_matrix(vecs) -> Column:
    """array<array<double>> literal (e.g. a k×dim centroid table) via one
    parsed expression."""
    try:
        return F.expr(_array_sql(
            (double_array_sql(v) for v in vecs), "ARRAY<DOUBLE>"))
    except ValueError:
        return F.lit([[float(x) for x in v] for v in vecs])


def lit_long_array(vals) -> Column:
    """array<bigint> literal via one parsed expression."""
    return F.expr(_array_sql(
        (f"CAST({int(x)} AS BIGINT)" for x in vals), "BIGINT"))


def lit_int_array(vals) -> Column:
    """array<int> literal via one parsed expression."""
    return F.expr(_array_sql(
        (f"CAST({int(x)} AS INT)" for x in vals), "INT"))


def lit_index_array(vals) -> Column:
    """Integer-array literal with ``F.lit(list)``'s type inference (INT when
    every value fits in int32, else BIGINT) — drop-in for id/index literal
    arrays whose consumers cast per element anyway."""
    ints = [int(x) for x in vals]
    if all(-(2 ** 31) <= x < 2 ** 31 for x in ints):
        return lit_int_array(ints)
    return lit_long_array(ints)
