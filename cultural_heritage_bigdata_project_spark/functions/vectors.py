"""Vector column expressions — all JVM-side, no Python in the hot path.

The reference computes cosine similarity in Qdrant (primary) or
sklearn on driver-collected vectors (fallback — ML-model/
qdrant-deduplicator/deduplicate_from_qdrant.py:128-154). Here the
vector is an ``array<float>`` column and similarity is a codegen'd
expression pipeline (``zip_with`` + ``aggregate``), so kNN and
threshold joins stay inside whole-stage codegen and distribute with
the data (SURVEY.md §4.2.1).

All math is done in double after an explicit cast so results are
bit-comparable with the DuckDB oracle's sequential double fold.

Each formula is written once, as Spark SQL text over SQL operands (a
column name or any SQL expression, e.g. `array_literal` of a query).
A serve builds its whole scoring subtree as one string and hands it to
``F.expr`` — one py4j round trip, where the same tree built from
``F.*`` calls costs a few round trips per node and per literal element
(a 64-d query literal alone was ~320 commands). The ``Column``
functions below are the same text behind one ``F.expr``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_literal(x) -> str:
    """SQL text that parses to the literal ``F.lit(x)`` builds, same
    type and same value: an int is INT when it fits 32 bits and BIGINT
    otherwise (py4j's boxing), a float is an exact DOUBLE (``repr`` is
    the shortest round-trip decimal; -0.0, subnormals, NaN and ±inf
    included), a str a quoted STRING with ``\\`` and ``'`` escaped."""
    if isinstance(x, str):
        return "'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, int):
        return str(x) if -(2**31) <= x < 2**31 else f"{x}L"
    x = float(x)
    if math.isnan(x) or math.isinf(x):
        # a string cast is nullable; coalesce keeps the literal NOT NULL
        # like F.lit's (folded to the plain literal by the optimizer)
        name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
        return f"coalesce(CAST('{name}' AS DOUBLE), 0.0D)"
    return f"{x!r}D"


def array_literal(values) -> str:
    """SQL text of ``F.array(*[F.lit(x) for x in values])``: the same
    element type (Spark's coercion of the element literals) and the
    same values, in one string instead of one py4j call per element."""
    return f"array({', '.join(sql_literal(x) for x in values)})"


def isin_sql(col: str, values) -> str:
    """``col IN (values)`` as SQL text (``Column.isin`` builds the same
    predicate with one py4j call per value); ``false`` when empty."""
    if not values:
        return "false"
    return f"{col} IN ({', '.join(sql_literal(v) for v in values)})"


def dot_product_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ as a left-fold (same order as the oracle's)."""
    return (
        f"aggregate(zip_with(CAST({a} AS array<double>), "
        f"CAST({b} AS array<double>), (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def l2_norm_sql(a: str) -> str:
    return f"sqrt({dot_product_sql(a, a)})"


def cosine_sql(a: str, b: str, b_norm: float | None = None) -> str:
    """``dot(a, b) / (norm(a) * norm(b))``. ``b_norm`` is ``b``'s norm
    computed driver-side (`py_l2_norm`) when ``b`` is a query literal:
    identical arithmetic and operand order, one interpreted aggregate
    per row fewer."""
    nb = l2_norm_sql(b) if b_norm is None else sql_literal(float(b_norm))
    return f"{dot_product_sql(a, b)} / ({l2_norm_sql(a)} * {nb})"


def query_cosine(vec_col: str, query, digits: int = 6) -> str:
    """``round(cosine(vec_col, query), digits)`` against a Python query
    vector: the query as a DOUBLE array literal with its norm folded
    driver-side — the exact re-rank every kNN serve ends with."""
    q = [float(x) for x in query]
    return f"round({cosine_sql(vec_col, array_literal(q), py_l2_norm(q))}, {digits})"


def hamming_sql(words: str, qwords: str) -> str:
    """Σ popcount(wᵢ XOR qᵢ) over two packed sign-bit word arrays
    (``array<long>``, `similarity._bq_words_sql`): the BQ codec's
    shortlist surrogate, one XOR + popcount per 63 dims."""
    return (
        f"aggregate(zip_with({words}, {qwords}, "
        "(a, b) -> CAST(bit_count(a ^ b) AS BIGINT)), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x)"
    )


def dot_product(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ of two array operands (column names or SQL text)."""
    return F.expr(dot_product_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(l2_norm_sql(a))


def py_l2_norm(vec) -> float:
    """Driver-side ``l2_norm`` of a Python vector — bit-identical to
    the column expression (the same left fold ``acc + x*x`` in IEEE
    double, then a correctly-rounded sqrt; Python floats ARE doubles).

    Exists because Catalyst does NOT constant-fold higher-order
    functions: ``l2_norm(<literal array>)`` re-runs the interpreted
    aggregate on EVERY row (verified on the optimized plan), so a
    single-query cosine scan paid 3 interpreted aggregates per row
    where dot + the row's own norm suffice. Pass the result as the
    query-norm literal (optimization round 12, guide §4.1)."""
    acc = 0.0
    for x in vec:
        xd = float(x)
        acc += xd * xd
    return math.sqrt(acc)

