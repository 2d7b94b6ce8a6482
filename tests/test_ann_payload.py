"""Payload-on-point for the persisted ANN index (Qdrant's payload
model): columns stored IN the index rows, filtered at serve time with
a plain predicate — no side table, no join — applied BEFORE the
shortlist so k fills from the filtered candidates."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import ann_index
from cultural_heritage_bigdata_project_spark.sources.tables import load_table

from .conftest import SF_DIR


def _base(spark):
    return load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)


def _q(spark):
    return [
        float(x)
        for x in load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    ]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("annpl") / "idx")
    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    ann_index.build_ann_index(spark, base, root, payload_cols=["label"])
    return root, base


def test_payload_filter_equals_allowed_ids_filter(spark, built):
    root, base = built
    q = _q(spark)
    assert ann_index.ann_index_describe(spark, root)["payload_cols"] == ["label"]

    got = ann_index.ann_index_top_k(
        spark, root, q, k=5, payload_filter="label = 2"
    ).collect()
    want = ann_index.ann_index_top_k(
        spark, root, q, k=5,
        allowed_ids=base.filter(F.col("label") == 2).select("vec_id"),
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 5  # k fills from the filtered candidate set

    lbl = {r["vec_id"]: r["label"] for r in base.collect()}
    assert all(lbl[r["vec_id"]] == 2 for r in got)


def test_payload_rides_the_upsert_and_is_enforced(spark, tmp_path):
    root = str(tmp_path / "idx")
    base = _base(spark)
    ann_index.build_ann_index(spark, base, root, payload_cols=["label"])

    # a batch without the stored payload column is refused
    with pytest.raises(ValueError, match="label"):
        ann_index.ann_index_upsert(
            spark, base.select("vec_id", "embedding").limit(2), root
        )

    # an upsert that CHANGES the payload: the filter sees the new value
    moved = base.filter(F.col("vec_id") == 7).withColumn("label", F.lit(99))
    ann_index.ann_index_upsert(spark, moved, root)
    hits = ann_index.ann_index_scroll(
        spark, root, limit=1000, payload_filter="label = 99", with_payload=True
    ).collect()
    assert [r["vec_id"] for r in hits] == [7]
    assert hits[0]["label"] == 99
    old_label = base.filter(F.col("vec_id") == 7).first()["label"]
    still_old = ann_index.ann_index_scroll(
        spark, root, limit=1000, payload_filter=f"label = {old_label}"
    ).collect()
    assert 7 not in {r["vec_id"] for r in still_old}

    # count with the same predicate; survives the cheap fold
    n99 = ann_index.ann_index_count(
        spark, root, payload_filter="label = 99"
    ).first()["n_points"]
    assert n99 == 1
    ann_index.ann_index_compact(spark, root)
    assert (
        ann_index.ann_index_count(spark, root, payload_filter="label = 99")
        .first()["n_points"]
        == 1
    )


def test_grouped_by_stored_payload_column(spark, built):
    root, base = built
    q = _q(spark)
    got = ann_index.ann_index_top_k_grouped(
        spark, root, q, groups=None, group_col="label",
        k_groups=3, group_size=2, fetch_k=40,
    ).collect()
    want = ann_index.ann_index_top_k_grouped(
        spark, root, q, groups=base.select("vec_id", "label"),
        group_col="label", k_groups=3, group_size=2, fetch_k=40,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want] and got


def test_payload_predicate_pushes_into_probed_scans(spark, built):
    # the serve reads the probed segments once, with no lineage cut, so
    # the pushdown shows in the full serve's plan
    root, _ = built
    df = ann_index.ann_index_top_k(
        spark, root, _q(spark), k=5, payload_filter="label = 2"
    )
    jvm = spark._jvm
    full = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # note: the same PushedFilters list carries In(ann_list,[...]) whose
    # nested brackets defeat a [^\]]* match — anchor on the line instead
    assert re.search(r"PushedFilters: \[.*EqualTo\(label,2\)", full), full
    assert "SortMergeJoin" not in full, full


def test_payload_survives_delete_and_streaming_rebuild(spark, tmp_path):
    """Tombstones carry no payload (mergeSchema fold handles the gap),
    and the streaming maintenance rebuild must re-store the payload
    columns — a quantizer refresh that dropped them would silently
    break every payload_filter afterwards."""
    import os

    root = str(tmp_path / "idx")
    base = _base(spark)
    ann_index.build_ann_index(spark, base, root, payload_cols=["label"])
    ann_index.ann_index_delete(spark, [2], root)
    got = ann_index.ann_index_scroll(
        spark, root, limit=10_000, payload_filter="label >= 0"
    ).collect()
    live = {r["vec_id"] for r in got}
    assert 2 not in live and len(live) == base.count() - 1

    # drive the drift-triggered rebuild through the streaming loop
    inc = str(tmp_path / "inc")
    os.makedirs(inc)
    shifted = base.filter(F.col("vec_id") % 4 == 0).withColumn(
        "embedding", F.transform("embedding", lambda x: x * 10.0)
    )
    shifted.write.parquet(os.path.join(inc, "b0"))
    stream = spark.readStream.schema(shifted.schema).parquet(inc + "/*")
    ann_index.foreach_batch_ann_index_run(
        spark, stream, root, checkpoint=str(tmp_path / "ckpt"),
        rebuild_every_deltas=None, rebuild_on_drift=2.0,
    )
    desc = ann_index.ann_index_describe(spark, root)
    assert desc["n_delta_segments"] == 0  # the rebuild ran
    assert desc["payload_cols"] == ["label"]  # ...and kept the payload
    lbl2 = ann_index.ann_index_count(
        spark, root, payload_filter="label = 2"
    ).first()["n_points"]
    want = base.filter((F.col("label") == 2) & (F.col("vec_id") != 2)).count()
    assert lbl2 == want


def test_set_payload_lifecycle(spark, tmp_path):
    """Qdrant set_payload analog (round 10): flip a payload column
    without re-sending vectors; the flip is immediately visible to
    filtered serving / count / scroll, a later full upsert resets it,
    delete → resurrect ignores pre-delete labels, and compaction bakes
    the overlay in and clears it."""
    root = str(tmp_path / "idx")
    base = _base(spark).withColumn("status", F.lit("pending"))
    ann_index.build_ann_index(
        spark, base, root, payload_cols=["label", "status"]
    )
    q = _q(spark)
    ids = [r["vec_id"] for r in base.orderBy("vec_id").limit(3).collect()]

    pre = ann_index.ann_index_top_k(
        spark, root, q, k=5, payload_filter="status = 'validated'"
    ).collect()
    assert pre == []

    upd = spark.createDataFrame(
        [(int(i), "validated") for i in ids], "vec_id long, status string"
    )
    ann_index.ann_index_set_payload(spark, upd, root)

    # filter-after-mutation composes immediately
    got = ann_index.ann_index_top_k(
        spark, root, q, k=10, n_probe=64,
        payload_filter="status = 'validated'",
    ).collect()
    assert {r["vec_id"] for r in got} == set(ids)
    n = ann_index.ann_index_count(
        spark, root, payload_filter="status = 'validated'"
    ).first()["n_points"]
    assert n == 3
    # subset-column merge: label untouched by the status flip
    lbl0 = {r["vec_id"]: r["label"] for r in base.collect()}
    live = {
        r["vec_id"]: (r["label"], r["status"])
        for r in ann_index.ann_index_live(spark, root)
        .select("vec_id", "label", "status")
        .collect()
    }
    for i in ids:
        assert live[i] == (lbl0[i], "validated")
    assert (
        ann_index.ann_index_describe(spark, root)[
            "n_payload_delta_segments"
        ]
        == 1
    )

    # set → delete → resurrect: the resurrection's own payload wins
    # (the overlay's set-epoch is older than the new upsert epoch)
    victim = ids[0]
    ann_index.ann_index_delete(spark, [victim], root)
    assert (
        ann_index.ann_index_count(
            spark, root, payload_filter="status = 'validated'"
        ).first()["n_points"]
        == 2
    )
    ann_index.ann_index_upsert(
        spark,
        base.filter(F.col("vec_id") == victim).withColumn(
            "status", F.lit("pending")
        ),
        root,
    )
    live2 = {
        r["vec_id"]: r["status"]
        for r in ann_index.ann_index_live(spark, root)
        .select("vec_id", "status")
        .collect()
    }
    assert live2[victim] == "pending"
    assert live2[ids[1]] == "validated"

    # compaction bakes the overlay into rows and clears it; the
    # filtered serve answers identically from the baked layout
    before = ann_index.ann_index_top_k(
        spark, root, q, k=10, n_probe=64,
        payload_filter="status = 'validated'",
    ).collect()
    ann_index.ann_index_compact(spark, root)
    d = ann_index.ann_index_describe(spark, root)
    assert d["n_payload_delta_segments"] == 0
    after = ann_index.ann_index_top_k(
        spark, root, q, k=10, n_probe=64,
        payload_filter="status = 'validated'",
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]


def test_set_payload_rejects_bad_inputs(spark, tmp_path):
    root = str(tmp_path / "idx")
    base = _base(spark)
    ann_index.build_ann_index(spark, base, root, payload_cols=["label"])
    with pytest.raises(ValueError, match="unknown payload"):
        ann_index.ann_index_set_payload(
            spark,
            spark.createDataFrame([(1, "x")], "vec_id long, nope string"),
            root,
        )
    with pytest.raises(ValueError, match="at least one"):
        ann_index.ann_index_set_payload(
            spark, spark.createDataFrame([(1,)], "vec_id long"), root
        )
    bare = str(tmp_path / "bare")
    ann_index.build_ann_index(spark, base, bare)
    with pytest.raises(ValueError, match="no payload columns"):
        ann_index.ann_index_set_payload(
            spark,
            spark.createDataFrame([(1, 2)], "vec_id long, label int"),
            bare,
        )


def test_update_vectors_preserves_payload(spark, tmp_path):
    """Qdrant update_vectors analog (round 10, set_payload's mirror):
    re-embed points WITHOUT re-sending payload — stored payload (with
    any pending set_payload overlay merged) rides onto the new
    vectors; unknown ids raise; payload-less indexes fall through to
    plain upsert."""
    root = str(tmp_path / "idx")
    base = _base(spark).withColumn("status", F.lit("pending"))
    ann_index.build_ann_index(
        spark, base, root, payload_cols=["label", "status"]
    )
    ids = [r["vec_id"] for r in base.orderBy("vec_id").limit(2).collect()]
    # a pending re-label that the re-embed must NOT roll back
    ann_index.ann_index_set_payload(
        spark,
        spark.createDataFrame(
            [(int(ids[0]), "validated")], "vec_id long, status string"
        ),
        root,
    )
    upd = base.filter(F.col("vec_id").isin([int(i) for i in ids])).select(
        "vec_id", F.reverse(F.col("embedding")).alias("embedding")
    )
    ann_index.ann_index_update_vectors(spark, upd, root)
    live = {
        r["vec_id"]: (r["status"], [float(x) for x in r["embedding"]])
        for r in ann_index.ann_index_live(spark, root)
        .filter(F.col("vec_id").isin([int(i) for i in ids]))
        .select("vec_id", "status", "embedding")
        .collect()
    }
    orig = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in base.filter(
            F.col("vec_id").isin([int(i) for i in ids])
        ).collect()
    }
    assert live[ids[0]][0] == "validated"  # overlay survived the re-embed
    assert live[ids[1]][0] == "pending"
    for i in ids:
        assert live[i][1] == list(reversed(orig[i]))  # vector updated
    with pytest.raises(KeyError, match="not an insert"):
        ann_index.ann_index_update_vectors(
            spark,
            spark.createDataFrame(
                [(999_999, [0.0] * len(orig[ids[0]]))],
                "vec_id long, embedding array<double>",
            ),
            root,
        )


def test_batch_serve_payload_filter_and_out(spark, built):
    """Round 10: the batch serve accepts the stored-payload facet
    filter and with-payload output like the single-query path — the
    predicate applies before the shortlist (equals the allowed_ids
    side-table shape per query), and payload_out rides the probed
    rows with no extra reads."""
    root, base = built
    qs = base.filter(F.col("vec_id").isin([3, 4])).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    got = ann_index.ann_index_top_k_all(
        spark, root, qs, k=5, n_probe=16, shortlist=10_000,
        payload_filter="label = 2", payload_out=["label"],
    ).collect()
    want = ann_index.ann_index_top_k_all(
        spark, root, qs, k=5, n_probe=16, shortlist=10_000,
        allowed_ids=base.filter(F.col("label") == 2).select("vec_id"),
    ).collect()
    assert [
        (r["q_id"], r["vec_id"], r["hamming"], r["cosine_sim"]) for r in got
    ] == [tuple(r) for r in want]
    assert got and all(r["label"] == 2 for r in got)
