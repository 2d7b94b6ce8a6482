"""Round-13 optimization invariants.

Each optimization that changed an operator's internals gets a focused
equivalence/safety test here (optimization round contract):

- ``spark.sql.unionOutputPartitioning=false`` (session.py): Spark 4.1's
  partitioning-aware union executed the bucketed merge-on-read fold —
  a union of n_buckets coalesce(1)+window branches — as ONE serial
  task. The session conf restores the parallel design: the fold must
  execute with one partition per bucket branch, and rows must be
  unchanged.
- ``hash_embed_knn``'s driver-side doc-0 embedding must be
  element-identical to the distributed mapInPandas path it replaced
  (same ``hash_projection_embedder`` closure, same parquet bytes).
- the LRU plan memo (txn) must evict oldest-first, never wholesale.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import txn

from .conftest import SF_DIR


def _bucketed_root(spark, tmp_path, n_buckets=4):
    """A tiny manifest-bearing bucketed table with 2 segments so the
    latest-by-key fold is non-trivial."""
    root = str(tmp_path / "bucketed_tbl")
    os.makedirs(os.path.join(root, txn.SEGMENTS_DIR))
    spec = {
        "kind": "latest_by_key",
        "keys": ["k"],
        "order_desc": ["ord"],
        "seq_col": "__sg_seq",
        "buckets": n_buckets,
    }
    for seg_i, (vals, ord_v) in enumerate(
        [([(i, f"v{i}") for i in range(40)], 1), ([(2, "V2"), (7, "V7")], 2)]
    ):
        df = (
            spark.createDataFrame(vals, "k long, v string")
            .withColumn("ord", F.lit(ord_v).cast("long"))
            .withColumn("__sg_seq", F.lit(seg_i).cast("long"))
            .withColumn(
                txn.BUCKET_COL,
                F.pmod(F.xxhash64(F.col("k").cast("string")), F.lit(n_buckets)).cast(
                    "int"
                ),
            )
        )
        seg = f"up_{seg_i}"
        df.write.partitionBy(txn.BUCKET_COL).parquet(txn.segment_path(root, seg))
    return root, spec


def test_bucketed_fold_executes_one_partition_per_bucket(spark, tmp_path):
    root, spec = _bucketed_root(spark, tmp_path, n_buckets=4)
    paths = [txn.segment_path(root, f"up_{i}") for i in range(2)]
    folded = txn.bucketed_reconstruct(spark, paths, spec)
    # the whole point of the bucket-branch union: parallelism == number
    # of non-empty bucket branches (4 here), NOT 1 (the Spark 4.1
    # partitioning-aware-union collapse this round's session conf fixes)
    n_parts = folded.rdd.getNumPartitions()
    assert n_parts >= 2, (
        f"bucketed fold collapsed to {n_parts} partition(s) — the "
        "union-of-buckets fold is executing serially"
    )
    rows = {(r["k"], r["v"]) for r in folded.select("k", "v").collect()}
    expect = {(i, f"v{i}") for i in range(40) if i not in (2, 7)} | {
        (2, "V2"),
        (7, "V7"),
    }
    assert rows == expect


def test_hash_embed_driver_vec_matches_distributed(spark):
    from cultural_heritage_bigdata_project_spark.operators import multimodal
    from cultural_heritage_bigdata_project_spark.plans.queries_vector import (
        _hash_embed_query_vec,
    )
    from cultural_heritage_bigdata_project_spark.sources.tables import load_table

    got = _hash_embed_query_vec(spark, SF_DIR, 0, 64)
    assert got is not None
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    row = (
        docs.mapInPandas(
            multimodal.hash_projection_embedder(dim=64),
            "doc_id long, embedding array<double>",
        )
        .filter(F.col("doc_id") == 0)
        .select("embedding")
        .first()
    )
    assert got == [float(x) for x in row[0]]


def test_plan_memo_lru_evicts_oldest_not_everything():
    memo = txn._READ_PLAN_MEMO
    saved = dict(memo)
    try:
        memo.clear()
        for i in range(txn._READ_PLAN_MEMO_MAX):
            txn._memo_put(("k", i), i)
        # hit the oldest entry so it becomes most-recently-used
        assert txn._memo_get(("k", 0)) == 0
        txn._memo_put(("k", "new"), "new")
        assert ("k", 0) in memo, "LRU hit should have protected the entry"
        assert ("k", 1) not in memo, "oldest un-hit entry should be evicted"
        assert len(memo) == txn._READ_PLAN_MEMO_MAX
    finally:
        memo.clear()
        memo.update(saved)


# ---------------------------------------------------------------------------
# round-13 serving optimizations (r12-VERDICT item 3): bounded-IN
# single-reader fold + query-keyed plan memos. Every test pins result
# equality against the general path and staleness across commits.


def _manifest_table(spark, tmp_path, name="skf_tbl"):
    """Non-bucketed latest_by_key manifest table: 2 upsert epochs + a
    tombstone, keys 0..19."""
    root = str(tmp_path / name)
    spec = {
        "kind": "latest_by_key",
        "keys": ["k"],
        "order_desc": ["ts"],
        "seq_col": "__sg_seq",
        "delete_col": "__is_del",
    }

    def sink_epoch(epoch, rows):
        df = spark.createDataFrame(
            rows, "k long, ts long, v string, __is_del boolean"
        ).withColumn("__sg_seq", F.lit(epoch).cast("long"))
        seg = f"up_v{epoch}"
        df.write.parquet(txn.segment_path(root, seg))
        cur = txn.current_version_dir(root)
        prev = (
            txn.read_manifest(root, os.path.basename(cur))[""]["segments"]
            if cur
            else []
        )
        vname = f"data_v{epoch}"
        os.makedirs(os.path.join(root, vname))
        txn.write_manifest(
            root,
            vname,
            {"": {"base": None, "segments": [*prev, seg], "changes": [seg],
                  "reconstruct": spec, "collapsed": False}},
        )
        txn.publish_version(root, vname, keep_last=10, grace_seconds=3600)

    sink_epoch(0, [(k, 10 + k, f"a{k}", False) for k in range(20)])
    sink_epoch(
        1,
        [(2, 100, "b2", False), (7, 101, "b7", False), (5, 102, "b5", True)],
    )
    return root


def _fold_rows(df):
    return sorted((r["k"], r["ts"], r["v"]) for r in df.collect())


def test_small_key_fold_matches_general_fold(spark, tmp_path):
    """`txn.small_key_fold` (single-reader bounded-IN fold) returns
    exactly `read_version(...).filter(k IN ids)` — upserts superseded,
    tombstones absent, unknown ids absent — and its plan carries no
    Exchange (nothing leaves reusable shuffle output behind)."""
    root = _manifest_table(spark, tmp_path)
    version = os.path.basename(txn.current_version_dir(root))
    ids = [0, 2, 5, 7, 99]  # plain, 2 superseded, 1 deleted, 1 absent
    fast = txn.small_key_fold(spark, root, version, "", ids)
    assert fast is not None
    general = txn.read_version(spark, root).filter(F.col("k").isin(ids))
    assert _fold_rows(fast) == _fold_rows(general)
    assert "Exchange" not in fast._jdf.queryExecution().executedPlan().toString()

    # collapsed path: after major compaction the component is one row
    # per key and the fold must degrade to scan+filter, same rows
    txn.compact_component(spark, root)
    v2 = os.path.basename(txn.current_version_dir(root))
    assert txn.read_manifest(root, v2)[""].get("collapsed")
    fast2 = txn.small_key_fold(spark, root, v2, "", ids)
    assert fast2 is not None
    general2 = txn.read_version(spark, root).filter(F.col("k").isin(ids))
    assert _fold_rows(fast2) == _fold_rows(general2)

    # inapplicable shapes fall back to None, never to a wrong answer
    assert txn.small_key_fold(spark, root, v2, "", list(range(3000))) is None
    assert txn.small_key_fold(spark, root, v2, "nope", ids) is None


def test_retrieve_payload_small_lookup_parity_and_staleness(spark, tmp_path):
    """`text_index_retrieve_payload`'s bounded-IN single-reader path:
    same rows as the general doclen fold filter, including pending
    set_payload overlays, and a commit between two lookups is always
    visible (the plan memo keys on the new version's manifest)."""
    from cultural_heritage_bigdata_project_spark.operators import text_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma", "en" if i % 2 else "fr")
         for i in range(30)],
        "doc_id long, text string, lang string",
    )
    root = str(tmp_path / "tix")
    text_index.build_text_index(
        spark, docs, root, n_buckets=4, payload_cols=["lang"]
    )
    ids = [1, 4, 7, 25, 999]

    def general():
        ver = text_index.text_index_current_version(root)
        live = text_index._doclen_with_payload(spark, root, version=ver)
        return live.filter(F.col("doc_id").isin(ids)).select("doc_id", "lang")

    def got():
        return text_index.text_index_retrieve_payload(
            spark, root, ids, payload_out=["lang"]
        )

    base = sorted(map(tuple, general().collect()))
    assert sorted(map(tuple, got().collect())) == base

    # payload flip through set_payload: the overlay must merge into the
    # bounded lookup exactly as into the general fold
    upd = spark.createDataFrame([(4, "zz")], "doc_id long, lang string")
    text_index.text_index_set_payload(spark, upd, root)
    after = sorted(map(tuple, general().collect()))
    assert after != base
    assert sorted(map(tuple, got().collect())) == after

    # full doc upsert resets payload wholesale (newer tix_epoch wins)
    up = spark.createDataFrame(
        [(4, "alpha beta redone gamma", "de")],
        "doc_id long, text string, lang string",
    )
    text_index.text_index_upsert(spark, up, root)
    final = sorted(map(tuple, general().collect()))
    assert ("4", ) not in final  # sanity: ids are longs
    assert sorted(map(tuple, got().collect())) == final
    assert dict(final)[4] == "de"


def test_ann_retrieve_small_lookup_parity_and_staleness(spark, tmp_path):
    """`ann_index_retrieve`'s bounded-IN single-reader path: same rows
    as the general live-fold filter, including set_payload overlays
    and tombstoned points, across commits."""
    import random

    from cultural_heritage_bigdata_project_spark.operators import ann_index

    rnd = random.Random(13)
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)], f"g{i % 3}")
         for i in range(40)],
        "vec_id long, embedding array<double>, label string",
    )
    root = str(tmp_path / "annix")
    ann_index.build_ann_index(
        spark, vecs, root, n_lists=4, m=4, payload_cols=["label"]
    )
    ids = [1, 5, 9, 33, 999]

    def general():
        live = ann_index.ann_index_live(spark, root, "vec_id")
        return live.filter(F.col("vec_id").isin(ids)).select(
            "vec_id", "ann_list", "label"
        )

    def got():
        return ann_index.ann_index_retrieve(
            spark, root, ids, payload_out=["label"]
        )

    base = sorted(map(tuple, general().collect()))
    assert sorted(map(tuple, got().collect())) == base

    upd = spark.createDataFrame([(5, "flipped")], "vec_id long, label string")
    ann_index.ann_index_set_payload(spark, upd, root)
    after = sorted(map(tuple, general().collect()))
    assert after != base
    assert sorted(map(tuple, got().collect())) == after

    ann_index.ann_index_delete(spark, [9], root)
    final = sorted(map(tuple, general().collect()))
    assert 9 not in {r[0] for r in final}
    assert sorted(map(tuple, got().collect())) == final


def test_bm25_serve_memo_parity_and_staleness(spark, tmp_path):
    """`text_index_search`'s (version, terms)-keyed plan memo: repeated
    serves return identical rows, and an upsert commit between serves
    is always visible (new version → new memo key → fresh plan over
    the new manifest)."""
    from cultural_heritage_bigdata_project_spark.operators import text_index

    docs = spark.createDataFrame(
        [(i, f"common filler doc{i} " + ("needle " if i < 3 else "hay "))
         for i in range(30)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "tix2")
    text_index.build_text_index(spark, docs, root, n_buckets=4)

    def serve():
        return sorted(
            map(tuple, text_index.text_index_search(
                spark, root, ["needle"], top_k=10
            ).collect())
        )

    first = serve()
    assert serve() == first  # memo hit, identical rows
    ids = {r[0] for r in first}
    assert ids == {0, 1, 2}

    up = spark.createDataFrame(
        [(50, "brand new needle doc")], "doc_id long, text string"
    )
    text_index.text_index_upsert(spark, up, root)
    second = serve()
    assert {r[0] for r in second} == {0, 1, 2, 50}


def test_canonical_components_distributed_loop_parity(spark, monkeypatch):
    """Round-13 canonical_components rework (edges checkpointed once
    before symmetrizing; scale-adaptive loop repartition): the
    distributed fixpoint loop (forced with a 0 edge bound) and the
    driver union-find return identical labels over a graph with chains,
    a clique, and edge-less singletons."""
    from cultural_heritage_bigdata_project_spark.operators import dedup

    edges = spark.createDataFrame(
        # chain 0-1-2-3, clique {10,11,12}, pair {20,21}
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 10, 11, 12, 20, 21, 30, 31]],
        "vec_id long",
    )
    drv = sorted(
        map(tuple, dedup.canonical_components(edges, nodes, "vec_id").collect())
    )
    monkeypatch.setattr(dedup, "COMPONENTS_DRIVER_MAX_EDGES", 0)
    dist = sorted(
        map(tuple, dedup.canonical_components(edges, nodes, "vec_id").collect())
    )
    assert drv == dist
    expect = {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10,
              20: 20, 21: 20, 30: 30, 31: 31}
    assert dict(drv) == expect
