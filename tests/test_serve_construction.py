"""Construction budget of the dashboard serves, and the SQL-literal
helper their plans are built with.

A serve's driver-side cost is its py4j round trips: every ``F.*`` call,
``Column`` method and literal element is at least one command (a
``Column`` method also records its Python call site, ~10 commands).
The serves build each per-request subtree as one SQL string
(`functions.vectors`), so a kNN serve costs tens of commands instead of
~1,600. The gate counts the commands the calling thread sends while a
serve's plan is constructed (the action is not counted) on the sf0.001
fixture; the ceilings are the measured counts plus headroom."""

from __future__ import annotations

import math
import threading

import pytest
from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import (
    ann_index,
    collection,
    similarity,
    text_index,
)
from cultural_heritage_bigdata_project_spark.operators.localrel import local_df
from cultural_heritage_bigdata_project_spark.sources.tables import load_table

from .conftest import SF_DIR

TERMS = ["merge", "spark", "window"]

# py4j commands per construction. Measured on the fixture (first serve
# of each kind on fresh indexes, so every plan memo misses): knn 97,
# recommend 276 (its example fetch is an action), bm25 110, filtered
# bm25 106, hybrid 168, collection 97, batch hybrid of 2 queries 373
# (two bounded collects). The per-element F.lit builds this replaced
# cost 1,683 / 1,963 / 752 / 749 / 1,891 / 1,555 / 2,985.
CEILINGS = {
    "knn": 150,
    "recommend": 400,
    "bm25": 170,
    "bm25_filtered": 170,
    "hybrid": 260,
    "collection": 150,
    "batch_hybrid": 560,
}


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serve_construction"))
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    ann_index.build_ann_index(spark, emb, f"{d}/ann", payload_cols=["label"])
    text_index.build_text_index(spark, docs, f"{d}/tix", payload_cols=["lang"])
    collection.collection_create(
        spark,
        emb.select("vec_id", F.slice("embedding", 1, 32).alias("image_emb"), "label"),
        f"{d}/coll",
        spaces={"image": {"vec_col": "image_emb"}},
        payload_cols=["label"],
    )
    q = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    allowed = docs.select("doc_id").filter("doc_id % 3 = 0")
    qs = local_df(
        spark,
        [(f"q{i}", TERMS, q) for i in range(2)],
        "q_id string, terms array<string>, embedding array<double>",
    )
    return {
        "knn": lambda: ann_index.ann_index_top_k(spark, f"{d}/ann", q, k=10),
        "recommend": lambda: ann_index.ann_index_recommend(
            spark, f"{d}/ann", [1, 2, 4], [5], k=10
        ),
        "bm25": lambda: text_index.text_index_search(
            spark, f"{d}/tix", TERMS, top_k=10
        ),
        "bm25_filtered": lambda: text_index.text_index_search(
            spark, f"{d}/tix", TERMS, top_k=10, allowed_ids=allowed
        ),
        "hybrid": lambda: similarity.hybrid_rrf_search_indexed(
            spark, f"{d}/tix", f"{d}/ann", TERMS, q, k=10
        ),
        "collection": lambda: collection.collection_search(
            spark, f"{d}/coll", "image", q[:32], k=10
        ),
        "batch_hybrid": lambda: similarity.hybrid_rrf_search_all(
            spark, f"{d}/tix", f"{d}/ann", qs, k=10
        ),
    }


def test_serve_construction_py4j_budget(spark, served):
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    me = threading.get_ident()
    sent = [0]

    def counted(*a, **k):
        # the py4j finalizer thread's object releases are not this
        # construction's round trips
        if threading.get_ident() == me:
            sent[0] += 1
        return orig(*a, **k)

    counts = {}
    client.send_command = counted
    try:
        for kind, build in served.items():
            sent[0] = 0
            df = build()
            counts[kind] = sent[0]
            assert df.count() > 0, kind
    finally:
        client.send_command = orig
    over = {k: (n, CEILINGS[k]) for k, n in counts.items() if n > CEILINGS[k]}
    assert not over, f"construction py4j commands over budget: {over} (all: {counts})"


def test_array_literal_matches_f_array(spark):
    """The SQL text equals ``F.array(*[F.lit(x)])``: same Spark type and
    every value (compared as doubles' bit patterns and exact ints)."""
    from cultural_heritage_bigdata_project_spark.functions.vectors import (
        array_literal,
        isin_sql,
        sql_literal,
    )

    cases = [
        [-0.0, 5e-324, 1.7976931348623157e308, math.nan, math.inf, -math.inf, 0.1],
        [-(2**31), 2**31 - 1, 0, 7],
        [-(2**31) - 1, 2**31, 1],
        [1, 2.5],
    ]
    for vals in cases:
        want = spark.range(1).select(F.array(*[F.lit(x) for x in vals]).alias("a"))
        got = spark.range(1).select(F.expr(array_literal(vals)).alias("a"))
        assert got.schema == want.schema, (vals, got.schema, want.schema)
        w, g = want.first()["a"], got.first()["a"]
        assert [type(x) for x in g] == [type(x) for x in w]
        assert [
            x.hex() if isinstance(x, float) else x for x in g
        ] == [x.hex() if isinstance(x, float) else x for x in w], vals
    # strings and IN lists: quotes and backslashes survive the parser
    s = ["it's", "back\\slash", "\\u0041", "plain"]
    row = spark.range(1).select(
        F.expr(f"array({', '.join(sql_literal(x) for x in s)})").alias("a"),
        F.expr(isin_sql(sql_literal("it's"), s)).alias("hit"),
        F.expr(isin_sql("id", [])).alias("none"),
    ).first()
    assert row["a"] == s and row["hit"] is True and row["none"] is False
