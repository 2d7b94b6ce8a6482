"""Window / sort / top-k operators (SURVEY.md §2.5).

The reference's serving layer needs distinct-on (A8/W5), ordered
keyset pagination (W1), seeded-random pagination (W2) and top-k (W4).
Ranking windows shuffle once on the partition key; global top-k plans
as TakeOrderedAndProject (no full sort at scale).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .localrel import local_df


def distinct_on(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """A8/W5: pick one row per key, first under an explicit order
    (Postgres ``DISTINCT ON``; app.py:146)."""
    w = W.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order_by: str, k: int
) -> DataFrame:
    """Top-k rows per group via ranking window. ``order_by`` is SQL
    ``ORDER BY`` text (``"score DESC, id"``): the window is one SQL
    expression, built in one py4j round trip."""
    rn = f"row_number() OVER (PARTITION BY {', '.join(keys)} ORDER BY {order_by})"
    return df.withColumn("__rn", F.expr(rn)).filter(f"__rn <= {int(k)}").drop("__rn")


def keyset_page(df: DataFrame, key: str, last_key, page_size: int) -> DataFrame:
    """W1: ordered keyset pagination (extracting_embeddings.py:126-133).

    Plans as Filter + TakeOrderedAndProject: the filter pushes to the
    scan and only ``page_size`` rows ever reach the driver — the
    scale-correct cursor, unlike OFFSET pagination.
    """
    out = df
    if last_key is not None:
        out = out.filter(F.col(key) > F.lit(last_key))
    return out.orderBy(F.col(key).asc()).limit(page_size)


def seeded_random_page(
    df: DataFrame,
    seed: int,
    page: int,
    page_size: int,
    key_cols: Sequence[str] | None = None,
) -> DataFrame:
    """W2: stable-under-seed pseudo-random ordering with OFFSET-style
    paging (app.py:119-149). Spec is "stable given a fixed seed", not a
    value match with Postgres ``setseed`` (SURVEY.md §7 hard-list #4).

    The shuffle key is ``md5(seed \\x1f key-columns)`` — derived from
    DATA, not from ``F.rand(seed)``, which is seeded per-partition and
    therefore only stable if the input's partition layout never changes
    (a different core count or file split would silently reorder
    pages). A data-derived key is partition-independent, reproducible
    across engines (md5 is everywhere), and still uniform per seed.
    """
    cols = list(key_cols) if key_cols else list(df.columns)
    okey = F.md5(
        F.concat_ws(
            "\x1f", F.lit(str(seed)), *[F.col(c).cast("string") for c in cols]
        )
    )
    w = W.orderBy(okey, *[F.col(c) for c in cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") > page * page_size) & (F.col("__rn") <= (page + 1) * page_size)
        )
        .drop("__rn")
    )


def group_top_k(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    k_groups: int,
    group_size: int,
) -> DataFrame:
    """Search-groups windowing (the Qdrant ``search_groups`` tail,
    shared by the ANN and BM25 index serves): over an already-scored
    candidate frame, keep the best ``group_size`` rows per group and
    the best ``k_groups`` groups RANKED BY THEIR TOP HIT (score desc,
    then the hit's id — Qdrant orders groups by best-member score).
    Adds ``group_rank`` / ``rank_in_group``; deterministic whenever
    the input scores are (id tie-break everywhere).

    Scale: callers pass a top-``fetch_k`` shortlist, so both windows
    run over shortlist-sized input — the group diversification never
    touches corpus-scale data. SINGLE-PASS (round 10): the old shape
    joined a separately-ranked "best" frame back on, which re-evaluated
    the caller's whole input subtree (for the index serves: a second
    probe AND a second group-map scan); now the best hit per group
    rides every row via an unbounded window frame and ``group_rank``
    is a dense_rank over it — the input evaluates exactly once, no
    join. Ties where two groups share an identical best (score, id)
    pair — possible only when one hit id maps to multiple groups —
    now rank deterministically (group key tie-break) instead of the
    old row_number coin flip."""
    w_in = W.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    w_g = w_in.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_best = W.orderBy(
        F.col("__best_score").desc(),
        F.col("__best_id").asc(),
        F.col(group_col).asc(),
    )
    return (
        df.withColumn("rank_in_group", F.row_number().over(w_in))
        .withColumn("__best_score", F.first(score_col).over(w_g))
        .withColumn("__best_id", F.first(id_col).over(w_g))
        .withColumn("group_rank", F.dense_rank().over(w_best))
        .filter(
            (F.col("rank_in_group") <= int(group_size))
            & (F.col("group_rank") <= int(k_groups))
        )
        .drop("__best_score", "__best_id")
        .orderBy("group_rank", "rank_in_group")
    )


def tag_pinned_shortlist(
    spark,
    flat: DataFrame,
    groups: DataFrame,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Shared grouped-serve tagging shape (round 11, factored out of
    the ANN / text / hybrid grouped pages): evaluate the ≤fetch_k
    serve ONCE and pin it as a local relation, push its ids into the
    corpus-scale (id, group) map read as an IN filter (parquet
    row-group prunable — O(shortlist) map bytes per page, runtime-
    gated in tests/test_plans.py), broadcast the pinned shortlist as
    the build side, and dedup the tagged rows (a multi-group map may
    tag a hit twice). An EMPTY serve reads zero map bytes (the
    pushed-IN guard short-circuits to a false predicate instead of
    degenerating into a full map scan against an empty broadcast)."""
    rows = flat.collect()  # bounded by construction: <= fetch_k rows
    pinned = local_df(spark, rows, flat.schema)
    ids = [r[id_col] for r in rows]
    src = groups.select(id_col, group_col)
    src = (
        src.filter(F.col(id_col).isin(ids))
        if ids
        else src.filter(F.lit(False))
    )
    return src.join(F.broadcast(pinned), on=id_col).distinct()
