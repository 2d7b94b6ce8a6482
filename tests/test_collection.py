"""Named-vector collection parity (operators/collection.py): several
vector spaces on one point with ONE shared payload — the reference's
actual Qdrant collection shape (extracting_embeddings.py:60-84 stores
``image`` + ``combined`` named vectors with a shared status payload;
the dedup job searches one space, the dashboard the other, and a
single set_payload flips both). The engine composes one persisted ANN
index per space under an atomically pin-published pair manifest."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import (
    ann_index,
    collection,
    txn,
)
from cultural_heritage_bigdata_project_spark.sources.tables import load_table

from .conftest import SF_DIR


def _points(spark):
    """Dual-vector points from the embeddings fixture: ``image`` is the
    first 32 dims, ``combined`` the full 64 — two genuinely different
    geometries, as the reference's 512-d image vs 1024-d fused CLIP."""
    e = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    return e.select(
        "vec_id",
        F.slice(F.col("embedding"), 1, 32).alias("image_emb"),
        F.col("embedding").alias("combined_emb"),
        F.col("label"),
        F.lit("pending").alias("status"),
    )


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mv") / "coll")
    pts = _points(spark)
    collection.collection_create(
        spark,
        pts,
        root,
        spaces={
            "image": {"vec_col": "image_emb"},
            "combined": {"vec_col": "combined_emb"},
        },
        payload_cols=["label", "status"],
    )
    return root, pts


def _q(spark, dims):
    row = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    )
    return [float(x) for x in row[:dims]]


def test_each_space_serves_its_own_geometry(spark, coll):
    root, pts = coll
    # exhaustive probe AND shortlist: the serve reduces to exact cosine
    img = collection.collection_search(
        spark, root, "image", _q(spark, 32), k=5, n_probe=16,
        shortlist=10_000,
    ).collect()
    cmb = collection.collection_search(
        spark, root, "combined", _q(spark, 64), k=5, n_probe=16,
        shortlist=10_000,
    ).collect()
    assert len(img) == 5 and len(cmb) == 5
    # exhaustive probe = exact: each space's ranks equal brute force
    # over ITS OWN vector column
    from cultural_heritage_bigdata_project_spark.operators import similarity

    want_img = similarity.knn_brute_force(
        pts.select("vec_id", F.col("image_emb").alias("embedding")),
        F.array(*[F.lit(x) for x in _q(spark, 32)]).cast("array<double>"),
        k=5,
    ).collect()
    assert [r["vec_id"] for r in img] == [r["vec_id"] for r in want_img]
    # ...and the two spaces genuinely rank differently
    assert [r["vec_id"] for r in img] != [r["vec_id"] for r in cmb]


def test_shared_set_payload_flips_both_spaces_atomically(spark, coll):
    root, pts = coll
    flips = pts.filter(F.col("vec_id") % 10 == 1).select(
        "vec_id", F.lit("validated").alias("status")
    )
    pins_before = collection.collection_pins(root)
    collection.collection_set_payload(spark, flips, root)

    # filtered serves on BOTH spaces see the shared flip
    for space, dims in (("image", 32), ("combined", 64)):
        hits = collection.collection_search(
            spark, root, space, _q(spark, dims), k=50, n_probe=16,
            payload_filter="status = 'validated'",
        ).collect()
        assert hits and all(r["vec_id"] % 10 == 1 for r in hits)
    # ...while a reader pinned to the OLD pair sees the flip on
    # NEITHER (atomic visibility: the pin publish is the only switch)
    for space, dims in (("image", 32), ("combined", 64)):
        old = ann_index.ann_index_top_k(
            spark,
            os.path.join(root, "spaces", space),
            _q(spark, dims),
            k=50,
            n_probe=16,
            payload_filter="status = 'validated'",
            version=pins_before[space],
        ).collect()
        assert old == []


def test_retrieve_shared_payload_and_both_vectors(spark, coll):
    root, pts = coll
    # order-independent: (re-)apply the %10==1 flip this test asserts
    # on (idempotent — same values; the atomicity test above applies
    # the same rule when the module runs in order)
    collection.collection_set_payload(
        spark,
        pts.filter(F.col("vec_id") % 10 == 1).select(
            "vec_id", F.lit("validated").alias("status")
        ),
        root,
    )
    got = collection.collection_retrieve(
        spark, root, [11, 21], with_vectors=True
    ).collect()
    by_id = {r["vec_id"]: r for r in got}
    assert set(by_id) == {11, 21}
    src = {
        r["vec_id"]: r
        for r in pts.filter(F.col("vec_id").isin([11, 21])).collect()
    }
    for vid, row in by_id.items():
        assert list(row["image_emb"]) == list(src[vid]["image_emb"])
        assert list(row["combined_emb"]) == list(src[vid]["combined_emb"])
        assert row["label"] == src[vid]["label"]
        # the module-scope flip above already landed for %10==1 ids
        want = "validated" if vid % 10 == 1 else "pending"
        assert row["status"] == want


def test_upsert_and_delete_hit_every_space(spark, tmp_path):
    root = str(tmp_path / "coll")
    pts = _points(spark)
    collection.collection_create(
        spark, pts, root,
        spaces={"image": {"vec_col": "image_emb"},
                "combined": {"vec_col": "combined_emb"}},
        payload_cols=["label", "status"],
    )
    spark_ = pts.sparkSession
    new = spark_.createDataFrame(
        [(9001, [0.5] * 32, [0.25] * 64, 3, "pending")],
        "vec_id long, image_emb array<double>, combined_emb array<double>, "
        "label int, status string",
    )
    collection.collection_upsert(spark, new, root)
    got = collection.collection_retrieve(
        spark, root, [9001], with_vectors=True
    ).collect()
    assert len(got) == 1 and list(got[0]["image_emb"]) == [0.5] * 32

    collection.collection_delete(spark, [9001], root)
    assert collection.collection_retrieve(spark, root, [9001]).collect() == []
    # gone from every space's pinned fold
    pins = collection.collection_pins(root)
    for space in pins:
        live = ann_index.ann_index_live(
            spark, os.path.join(root, "spaces", space),
            version=pins[space],
        )
        assert live.filter(F.col("vec_id") == 9001).collect() == []


def test_update_vectors_one_space_keeps_payload_and_other_space(spark, tmp_path):
    """The reference's re-embed flow: refresh the image space only —
    combined untouched, shared payload preserved (readback inside the
    commit loop), one pin publish moves only the image pin."""
    root = str(tmp_path / "coll")
    pts = _points(spark)
    collection.collection_create(
        spark, pts, root,
        spaces={"image": {"vec_col": "image_emb"},
                "combined": {"vec_col": "combined_emb"}},
        payload_cols=["label", "status"],
    )
    pins0 = collection.collection_pins(root)
    upd = pts.filter(F.col("vec_id") % 9 == 4).select(
        "vec_id", F.reverse(F.col("image_emb")).alias("image_emb")
    )
    collection.collection_update_vectors(spark, upd, root, spaces=["image"])
    pins1 = collection.collection_pins(root)
    assert pins1["combined"] == pins0["combined"]
    assert pins1["image"] != pins0["image"]
    row = collection.collection_retrieve(
        spark, root, [4], with_vectors=True
    ).first()
    orig = pts.filter(F.col("vec_id") == 4).first()
    assert list(row["image_emb"]) == list(reversed(orig["image_emb"]))
    assert list(row["combined_emb"]) == list(orig["combined_emb"])
    assert row["status"] == "pending"  # payload survived the re-embed


def test_pin_publish_never_regresses_a_space(spark, tmp_path):
    """Monotonic pins: a lagging writer's pin set cannot move a space
    backward past a newer published pin."""
    root = str(tmp_path / "coll")
    pts = _points(spark)
    collection.collection_create(
        spark, pts, root,
        spaces={"image": {"vec_col": "image_emb"}},
        payload_cols=["label", "status"],
    )
    pins0 = collection.collection_pins(root)
    flips = pts.limit(3).select("vec_id", F.lit("validated").alias("status"))
    collection.collection_set_payload(spark, flips, root)
    pins1 = collection.collection_pins(root)
    assert pins1["image"] != pins0["image"]
    # a stale writer re-publishing the OLD pins loses the regression
    collection._publish_pins(
        root, pins0, collection._read_spaces(root)[1], op="stale"
    )
    assert collection.collection_pins(root) == pins1
    # history records the attempt but visibility never moved back
    ops = [h["operation"] for h in txn.describe_history(root)]
    assert ops[0] == "stale"


def test_collection_count_scroll_and_grouped_page(spark, coll):
    """The remaining Qdrant collection surface: count-points with a
    shared-payload filter, keyset scroll with shared payload, and
    search_groups(using=<space>, group_by=<shared field>) — all read
    at the published pin pair."""
    root, pts = coll
    n = pts.count()
    assert (
        collection.collection_count(spark, root).first()["n_points"] == n
    )
    n_flip = pts.filter(F.col("vec_id") % 10 == 1).count()
    got = collection.collection_count(
        spark, root, payload_filter="status = 'validated'"
    ).first()["n_points"]
    assert got == n_flip

    page = collection.collection_scroll(
        spark, root, limit=7, after_id=30, with_payload=True
    ).collect()
    assert [r["vec_id"] for r in page] == sorted(
        r["vec_id"] for r in pts.filter(F.col("vec_id") > 30).collect()
    )[:7]
    for r in page:
        want = "validated" if r["vec_id"] % 10 == 1 else "pending"
        assert r["status"] == want

    grouped = collection.collection_search_grouped(
        spark, root, "image", _q(spark, 32), "label",
        k_groups=3, group_size=2, fetch_k=20, n_probe=16,
    ).collect()
    assert grouped and len({r["label"] for r in grouped}) <= 3
    for r in grouped:
        assert 1 <= r["rank_in_group"] <= 2 and 1 <= r["group_rank"] <= 3
    with pytest.raises(KeyError):
        collection.collection_search_grouped(
            spark, root, "image", _q(spark, 32), "not_a_payload_col"
        )


def test_collection_dedup_purge_removes_point_from_every_space(spark, tmp_path):
    """The reference's dedup flow against the collection: detect on
    the image space (one batch self-serve), delete the duplicate
    POINT — all named vectors — atomically."""
    root = str(tmp_path / "coll")
    pts = _points(spark)
    # a planted duplicate: same image vector as point 7, different
    # combined vector, bigger id -> the min-id rule keeps 7
    dup = pts.filter(F.col("vec_id") == 7).select(
        F.lit(9007).cast("long").alias("vec_id"),
        F.col("image_emb"),
        F.reverse(F.col("combined_emb")).alias("combined_emb"),
        F.col("label"),
        F.col("status"),
    )
    collection.collection_create(
        spark, pts.unionByName(dup), root,
        spaces={"image": {"vec_col": "image_emb"},
                "combined": {"vec_col": "combined_emb"}},
        payload_cols=["label", "status"],
    )
    losers = collection.collection_dedup_purge(
        spark, root, space="image", threshold=0.97, n_probe=16,
        shortlist=10_000,
    ).collect()
    assert [r["vec_id"] for r in losers] == [9007]
    assert collection.collection_retrieve(spark, root, [9007]).collect() == []
    assert (
        len(collection.collection_retrieve(spark, root, [7]).collect()) == 1
    )
    # gone from BOTH spaces' pinned folds
    pins = collection.collection_pins(root)
    for space in pins:
        live = ann_index.ann_index_live(
            spark, os.path.join(root, "spaces", space), version=pins[space]
        )
        assert live.filter(F.col("vec_id") == 9007).collect() == []


def test_collection_streaming_upkeep_advances_pins_and_compacts(spark, tmp_path):
    """Continuous embedding ingest: each micro-batch upserts every
    space + publishes pins once; the second batch crosses the
    compaction threshold and the folded spaces re-pin together."""
    root = str(tmp_path / "coll")
    pts = _points(spark)
    base = pts.filter(F.col("vec_id") <= 400)
    collection.collection_create(
        spark, base, root,
        spaces={"image": {"vec_col": "image_emb"},
                "combined": {"vec_col": "combined_emb"}},
        payload_cols=["label", "status"],
    )
    pins0 = collection.collection_pins(root)
    inc_dir = str(tmp_path / "inc")
    os.makedirs(inc_dir)
    b1 = pts.filter((F.col("vec_id") > 400) & (F.col("vec_id") <= 450))
    b2 = pts.filter(F.col("vec_id") > 450)
    b1.coalesce(1).write.parquet(os.path.join(inc_dir, "b1"))
    b2.coalesce(1).write.parquet(os.path.join(inc_dir, "b2"))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)  # two real micro-batches
        .parquet(inc_dir + "/*")
    )
    collection.foreach_batch_collection_run(
        spark, stream, root, checkpoint=str(tmp_path / "ckpt"),
        compact_every_deltas=2,
    )
    pins1 = collection.collection_pins(root)
    assert pins1 != pins0
    # every point serves on both spaces at the new pins
    assert (
        collection.collection_count(spark, root).first()["n_points"]
        == pts.count()
    )
    got = collection.collection_retrieve(
        spark, root, [470], with_vectors=True
    ).collect()
    assert len(got) == 1
    # the compaction threshold (2 deltas) was crossed: folded spaces
    # carry NO delta tail at their pinned versions
    desc = collection.collection_describe(spark, root)
    for space, d in desc["spaces"].items():
        assert d["n_delta_segments"] == 0, (space, d)


def test_collection_recommend_serves_at_pin(spark, coll):
    """The recommend composition is reachable from the collection,
    served at the published pin, and agrees with its per-space
    primitive at that pin."""
    root, _pts = coll
    pins = collection.collection_pins(root)
    rec = collection.collection_recommend(
        spark, root, "combined", [11, 21], negative_ids=[31],
        k=4, n_probe=16, shortlist=10_000,
    ).collect()
    want = ann_index.ann_index_recommend(
        spark, os.path.join(root, "spaces", "combined"), [11, 21],
        negative_ids=[31], k=4, n_probe=16, shortlist=10_000,
        version=pins["combined"],
    ).collect()
    assert [r["vec_id"] for r in rec] == [r["vec_id"] for r in want]
    assert not {11, 21, 31} & {r["vec_id"] for r in rec}


def test_collection_hybrid_page_fuses_named_spaces(spark, coll):
    """Multi-space hybrid (Qdrant Query-API prefetch-per-named-vector
    + RRF): one pinned-pair resolve serves every leg; the fused page's
    rrf_score is exactly the sum of the per-leg reciprocal ranks, each
    leg bit-equal to its own single-space serve."""
    root, pts = coll
    queries = {"image": _q(spark, 32), "combined": _q(spark, 64)}
    page = collection.collection_hybrid_page(
        spark, root, queries, k=8, top_n=20, n_probe=16,
        shortlist=10_000, payload_out=["status"],
    ).collect()
    assert len(page) == 8
    # per-leg ranks replay the single-space serves
    leg_rank = {}
    for space, q in queries.items():
        hits = collection.collection_search(
            spark, root, space, q, k=20, n_probe=16, shortlist=10_000
        ).collect()
        leg_rank[space] = {
            r["vec_id"]: i + 1
            for i, r in enumerate(
                sorted(hits, key=lambda r: (-r["cosine_sim"], r["vec_id"]))
            )
        }
    for r in page:
        ri = leg_rank["image"].get(r["vec_id"], 0)
        rc = leg_rank["combined"].get(r["vec_id"], 0)
        assert r["rank_image"] == ri and r["rank_combined"] == rc
        want = (1.0 / (60.0 + ri) if ri else 0.0) + (
            1.0 / (60.0 + rc) if rc else 0.0
        )
        assert abs(r["rrf_score"] - want) < 1e-12
        assert r["status"] in ("pending", "validated")
    # page order: fused score desc, id asc — and the top id fused from
    # at least one leg (sanity: never an id neither leg returned)
    scores = [(r["rrf_score"], r["vec_id"]) for r in page]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    assert all(r["rank_image"] or r["rank_combined"] for r in page)
    with pytest.raises(KeyError):
        collection.collection_hybrid_page(
            spark, root, {"nope": _q(spark, 32)}
        )


def test_collection_snapshot_clones_pinned_pair(spark, tmp_path):
    """collection_snapshot: every space deep-clones AT ITS PIN plus
    one pin publish — a mid-mutation CURRENT (orphan commit) never
    leaks into the clone, and the clone mutates independently."""
    root = str(tmp_path / "src")
    dest = str(tmp_path / "dst")
    pts = _points(spark).filter(F.col("vec_id") <= 150)
    collection.collection_create(
        spark, pts, root,
        spaces={"image": {"vec_col": "image_emb"},
                "combined": {"vec_col": "combined_emb"}},
        payload_cols=["label", "status"],
    )
    # an orphan commit ahead of the pin (crashed writer's leftovers)
    orphan = spark.createDataFrame(
        [(9800, [0.7] * 32, 1, "pending")],
        "vec_id long, embedding array<double>, label int, status string",
    )
    ann_index.ann_index_upsert(
        spark, orphan, os.path.join(root, "spaces", "image")
    )

    collection.collection_snapshot(root, dest)
    n = pts.count()
    assert (
        collection.collection_count(spark, dest).first()["n_points"] == n
    )
    got = collection.collection_retrieve(
        spark, dest, [9800, 3], with_vectors=True
    ).collect()
    assert [r["vec_id"] for r in got] == [3]  # orphan did NOT travel
    # clone serves through its own pins...
    hits = collection.collection_search(
        spark, dest, "image", [0.7] * 32, k=3, n_probe=16,
        shortlist=10_000,
    ).collect()
    assert len(hits) == 3
    # ...and mutates independently of the source
    collection.collection_set_payload(
        spark,
        pts.limit(2).select("vec_id", F.lit("validated").alias("status")),
        dest,
    )
    src_val = collection.collection_count(
        spark, root, payload_filter="status = 'validated'"
    ).first()["n_points"]
    dst_val = collection.collection_count(
        spark, dest, payload_filter="status = 'validated'"
    ).first()["n_points"]
    assert (src_val, dst_val) == (0, 2)
    with pytest.raises(FileExistsError):
        collection.collection_snapshot(root, dest)
