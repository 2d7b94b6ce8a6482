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
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot_product(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-fold (same order as the oracle's)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


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
    import math

    acc = 0.0
    for x in vec:
        xd = float(x)
        acc += xd * xd
    return math.sqrt(acc)


def cosine_similarity_qnorm(v: Column, qlit: Column, q_norm: float) -> Column:
    """``cosine_similarity(v, qlit)`` with the query's norm precomputed
    driver-side (``py_l2_norm``) — identical arithmetic and operand
    order (``dot / (norm(v) * norm(q))``), one interpreted aggregate
    per row instead of three."""
    return dot_product(v, qlit) / (l2_norm(v) * F.lit(float(q_norm)))


def _hamming_distance(words: Column, qwords: Column) -> Column:
    """Σ popcount(wᵢ XOR qᵢ) over two packed sign-bit word arrays
    (``array<long>``, `similarity._bq_words_expr`): the BQ codec's
    shortlist surrogate, one XOR + popcount per 63 dims."""
    return F.aggregate(
        F.zip_with(
            words, qwords, lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def normalize(a: Column) -> Column:
    """Unit-normalize; with normalized vectors cosine == dot, and
    Euclidean LSH bucketing approximates cosine neighborhoods."""
    n = l2_norm(a)
    return F.transform(_as_double(a), lambda x: x / n)
