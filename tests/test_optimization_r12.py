"""Round-12 optimization invariants.

Each optimization that changed an operator's internals gets a focused
equivalence/safety test here (optimization round contract):

- ``pre_partitioned=True`` on the dedup pair generators removes an
  exchange, never a row: pair sets must be identical either way.
- ``ngram_contamination`` moved the training-side distinct AFTER the
  benchmark join: per-doc shared-gram counts must equal the old
  distinct-before-join shape.
- ``txn.read_version``'s pinned-version PLAN memo caches prepared
  statements, never rows: a root deleted and rebuilt in place under
  the SAME version name must serve the NEW data (the manifest-stat
  key), and mutating a table must never serve a stale fold.
- ``_query_list``'s driver-side pyarrow read must be element-identical
  to the Spark path it replaced.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import dedup, text, txn

from .conftest import SF_DIR


def _shingled(spark):
    from cultural_heritage_bigdata_project_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF_DIR, "documents")
        .repartition(8)
        .select("doc_id", F.split(F.trim(F.lower("text")), " +").alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc_id", dedup.shingles_expr("t", 3).alias("sh"))
    )
    return docs


def _pairs_set(df):
    return {tuple(r) for r in df.select("a_id", "b_id", "jaccard").collect()}


def test_minhash_pre_partitioned_identical_pairs(spark, monkeypatch):
    # the subject is the distributed plan's skipped entry exchange; the
    # fixture would otherwise fit the driver route, which has none
    monkeypatch.setattr(dedup, "MINHASH_DRIVER_MAX_DOCS", 0)
    docs = _shingled(spark)
    base = dedup.minhash_lsh_pairs(
        docs, "doc_id", "sh", threshold=0.6, hash_family="md5-portable"
    )
    pre = dedup.minhash_lsh_pairs(
        docs,
        "doc_id",
        "sh",
        threshold=0.6,
        hash_family="md5-portable",
        pre_partitioned=True,
    )
    assert _pairs_set(base) == _pairs_set(pre)


def test_jaccard_pre_partitioned_identical_pairs(spark):
    docs = _shingled(spark)
    base = dedup.jaccard_pairs(docs, "doc_id", "sh", threshold=0.5)
    pre = dedup.jaccard_pairs(
        docs, "doc_id", "sh", threshold=0.5, pre_partitioned=True
    )
    assert _pairs_set(base) == _pairs_set(pre)


def test_minhash_index_pre_partitioned_identical_rows(spark):
    docs = _shingled(spark)
    cols = ["doc_id", "sig", "band", "bkey"]
    base = dedup.minhash_index(docs, "doc_id", "sh")
    pre = dedup.minhash_index(docs, "doc_id", "sh", pre_partitioned=True)
    b = {(r[0], tuple(r[1]), r[2], r[3]) for r in base.select(*cols).collect()}
    p = {(r[0], tuple(r[1]), r[2], r[3]) for r in pre.select(*cols).collect()}
    assert b == p


def test_contamination_distinct_after_join_equivalent(spark):
    from cultural_heritage_bigdata_project_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    train = docs.filter(F.col("doc_id") % 89 != 0)
    bench = docs.filter(F.col("doc_id") % 89 == 0)
    new = {
        tuple(r)
        for r in text.ngram_contamination(train, bench, n=6).collect()
    }

    # the pre-round-12 shape: distinct BEFORE the join
    def grams(d):
        toks = F.split(F.trim(F.lower(F.col("text"))), " ")
        return (
            d.select(F.col("doc_id").alias("__id"), toks.alias("t"))
            .filter(F.size("t") >= 6)
            .select(
                "__id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t) - 5),"
                        " i -> concat_ws(' ', slice(t, i, 6)))"
                    )
                ).alias("gram"),
            )
        )

    tr = grams(train).distinct()
    bg = grams(bench).select("gram").distinct()
    old = {
        tuple(r)
        for r in tr.join(bg, on="gram")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .collect()
    }
    assert new == old


def test_read_plan_memo_never_serves_a_stale_rebuild(spark, tmp_path):
    """The memo key carries the manifest's (mtime_ns, size): deleting a
    root and rebuilding it IN PLACE under the same version name must
    re-list files — a stale InMemoryFileIndex would read the old file
    lengths (wrong rows or a read error)."""
    root = str(tmp_path / "memo_tbl")

    def build(vals):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, txn.SEGMENTS_DIR))
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "k long, v string"
        ).withColumn("__sg_seq", F.lit(0).cast("long"))
        seg = "upsert_v0"
        df.coalesce(1).write.parquet(txn.segment_path(root, seg))
        vname = "data_v0"
        os.makedirs(os.path.join(root, vname))
        txn.write_manifest(
            root,
            vname,
            {
                "": {
                    "base": None,
                    "segments": [seg],
                    "changes": [seg],
                    "reconstruct": {
                        "kind": "latest_by_key",
                        "keys": ["k"],
                        "order_desc": ["k"],
                        "seq_col": "__sg_seq",
                    },
                }
            },
        )
        txn.publish_version(root, vname, keep_last=3)

    build(["a", "b"])
    first = sorted(
        tuple(r) for r in txn.read_version(spark, root).collect()
    )
    assert first == [(0, "a"), (1, "b")]
    # memo hit on the unchanged version must be the same plan object
    d1 = txn.read_version(spark, root)
    d2 = txn.read_version(spark, root)
    assert d1 is d2
    # in-place rebuild, same version name, different (longer) contents
    build(["xxxxxxxxxxxxxxxx", "y", "z"])
    second = sorted(
        tuple(r) for r in txn.read_version(spark, root).collect()
    )
    assert second == [(0, "xxxxxxxxxxxxxxxx"), (1, "y"), (2, "z")]


def test_read_plan_memo_invalidated_by_commit(spark, tmp_path):
    """A mutation publishes a NEW version, so serving reads (which
    resolve CURRENT then hit the memo under the new name) must see it."""
    from cultural_heritage_bigdata_project_spark.streaming import (
        pipelines as streaming,
    )

    root = str(tmp_path / "memo_upd")
    # order_desc must be a genuinely increasing column: ordering by the
    # merge key itself ties with the incumbent and reconstruct_latest's
    # documented tie-break (earliest segment wins) would keep the OLD row,
    # which tests the fold contract, not the memo invalidation.
    df1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, v string, ord long"
    )
    streaming.batch_upsert_commit(
        spark, df1, keys=["k"], order_desc=["ord"], target_dir=root
    )
    assert sorted(
        tuple(r)
        for r in txn.read_version(spark, root).select("k", "v").collect()
    ) == [(1, "a"), (2, "b")]
    df2 = spark.createDataFrame(
        [(2, "B2", 2), (3, "c", 2)], "k long, v string, ord long"
    )
    streaming.batch_upsert_commit(
        spark, df2, keys=["k"], order_desc=["ord"], target_dir=root
    )
    assert sorted(
        tuple(r)
        for r in txn.read_version(spark, root).select("k", "v").collect()
    ) == [(1, "a"), (2, "B2"), (3, "c")]


def test_query_list_pyarrow_matches_spark_path(spark):
    from cultural_heritage_bigdata_project_spark.plans import queries_vector as qv

    got = qv._query_list(spark, SF_DIR, 0)
    row = (
        qv._emb(spark, SF_DIR)
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    assert got == [float(x) for x in row[0]]
