"""Qdrant point-management / serving-composition parity for the
persisted ANN index: count (count-points), scroll (keyset point
listing — what the reference's dedup job drives its sweep with),
retrieve (point lookup), recommend (average_vector strategy), and
search-groups. Reference analogs: qdrant-deduplicator/
deduplicate_from_qdrant.py:31-83 (scroll + count bookkeeping),
streamlit/app/app.py:208-264 (serving flows)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import ann_index, txn
from cultural_heritage_bigdata_project_spark.sources.tables import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("annpt") / "idx")
    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    ann_index.build_ann_index(spark, base, root)
    return root, base


def _live_ids(spark, root):
    return sorted(
        r["vec_id"]
        for r in ann_index.ann_index_live(spark, root).select("vec_id").collect()
    )


def test_count_tracks_deletes_and_resurrections(spark, tmp_path):
    root = str(tmp_path / "idx")
    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    n = base.count()
    ann_index.build_ann_index(spark, base, root)
    assert ann_index.ann_index_count(spark, root).first()["n_points"] == n

    ann_index.ann_index_delete(spark, [1, 2], root)
    assert ann_index.ann_index_count(spark, root).first()["n_points"] == n - 2

    # a later upsert resurrects one of the deleted keys
    back = base.filter(F.col("vec_id") == 1)
    ann_index.ann_index_upsert(spark, back, root)
    assert ann_index.ann_index_count(spark, root).first()["n_points"] == n - 1

    # payload-filtered count (the count_filter shape): only allowed live ids
    allowed = base.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    want = {r["vec_id"] for r in allowed.collect()} & set(_live_ids(spark, root))
    got = (
        ann_index.ann_index_count(spark, root, allowed_ids=allowed)
        .first()["n_points"]
    )
    assert got == len(want)


def test_scroll_pages_cover_live_set_exactly_once(spark, tmp_path):
    root = str(tmp_path / "idx")
    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    ann_index.build_ann_index(spark, base, root)
    ann_index.ann_index_delete(spark, [3, 9], root)

    live = _live_ids(spark, root)
    pages, after = [], None
    while True:
        page = [
            r["vec_id"]
            for r in ann_index.ann_index_scroll(
                spark, root, limit=7, after_id=after
            ).collect()
        ]
        if not page:
            break
        assert page == sorted(page) and len(page) <= 7
        pages.extend(page)
        after = page[-1]  # Qdrant's next_page_offset = the page's max id
    assert pages == live  # every live point exactly once, in id order
    assert 3 not in pages and 9 not in pages  # tombstones never scroll

    # filtered scroll + with_vectors (the reference's scroll(..., with_vectors))
    allowed = base.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    rows = ann_index.ann_index_scroll(
        spark, root, limit=1000, allowed_ids=allowed, with_vectors=True
    ).collect()
    assert [r["vec_id"] for r in rows] == [
        i for i in live if i % 2 == 0
    ]
    assert all(len(r["embedding"]) > 0 for r in rows)


def test_fetch_vectors_point_lookup_and_missing_id(spark, built):
    root, base = built
    got = ann_index.ann_index_fetch_vectors(spark, root, [5, 7])
    want = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in base.filter(F.col("vec_id").isin([5, 7])).collect()
    }
    assert got == want
    with pytest.raises(KeyError):
        ann_index.ann_index_fetch_vectors(spark, root, [5, 10**9])


def _codes_component(root):
    cur = os.path.basename(txn.current_version_dir(root))
    return txn.read_manifest(root, cur)[ann_index.CODES_COMPONENT]


def test_collapsed_flag_lifecycle(spark, tmp_path):
    """A build writes one row per key, so its codes component is
    ``collapsed`` and the live read is a plain scan. An upsert or a
    delete appends a delta and clears the flag: every point read then
    returns one row per id, the newest one. Compaction folds the tail
    and sets the flag again."""
    root = str(tmp_path / "idx")
    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    n = base.count()

    def count():
        return ann_index.ann_index_count(spark, root).first()["n_points"]

    def rows_of(i):
        """id ``i``'s rows from fetch, retrieve and scroll."""
        fetched = ann_index.ann_index_fetch_vectors(spark, root, [i])
        got = {"fetch": [fetched[i]]}
        got["retrieve"] = [
            [float(x) for x in r["embedding"]]
            for r in ann_index.ann_index_retrieve(
                spark, root, [i], with_vectors=True
            ).collect()
        ]
        got["scroll"] = [
            [float(x) for x in r["embedding"]]
            for r in ann_index.ann_index_scroll(
                spark, root, limit=n, with_vectors=True
            ).collect()
            if r["vec_id"] == i
        ]
        return got

    ann_index.build_ann_index(spark, base, root)
    assert _codes_component(root)["collapsed"] is True
    live = ann_index.ann_index_live(spark, root)
    live.collect()
    plan = live._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan, plan

    moved = base.filter(F.col("vec_id") == 5).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    new = [float(x) for x in moved.first()["embedding"]]
    ann_index.ann_index_upsert(spark, moved, root)
    assert not _codes_component(root).get("collapsed")
    assert rows_of(5) == {"fetch": [new], "retrieve": [new], "scroll": [new]}
    assert count() == n

    ann_index.ann_index_delete(spark, [5], root)
    assert not _codes_component(root).get("collapsed")
    with pytest.raises(KeyError):
        ann_index.ann_index_fetch_vectors(spark, root, [5])
    assert ann_index.ann_index_retrieve(spark, root, [5]).count() == 0
    assert 5 not in _live_ids(spark, root)
    assert count() == n - 1

    ann_index.ann_index_compact(spark, root)
    assert _codes_component(root)["collapsed"] is True
    assert 5 not in _live_ids(spark, root)
    assert count() == n - 1


def test_recommend_is_average_vector_serve_with_exclusion(spark, built):
    root, _ = built
    pos, neg = [7, 11, 13], [5]
    fetched = ann_index.ann_index_fetch_vectors(spark, root, pos + neg)
    q = ann_index.recommend_query_vector(
        {i: fetched[i] for i in pos}, {i: fetched[i] for i in neg}
    )
    want = ann_index.ann_index_top_k(
        spark, root, q, k=10, exclude_ids=pos + neg
    ).collect()
    got = ann_index.ann_index_recommend(
        spark, root, positive_ids=pos, negative_ids=neg, k=10
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    returned = {r["vec_id"] for r in got}
    assert returned.isdisjoint(pos + neg)  # seeds never recommended
    assert len(got) == 10

    # positives only: plain average, still excluded
    got_p = ann_index.ann_index_recommend(spark, root, positive_ids=pos, k=5)
    assert {r["vec_id"] for r in got_p.collect()}.isdisjoint(pos)

    with pytest.raises(ValueError):
        ann_index.ann_index_recommend(spark, root, positive_ids=[])
    with pytest.raises(KeyError):
        ann_index.ann_index_recommend(spark, root, positive_ids=[10**9])


def test_recommend_query_vector_formula():
    # P + (P - N), sequential ascending-id accumulation
    p = ann_index.recommend_query_vector({1: [1.0, 3.0], 2: [3.0, 5.0]})
    assert p == [2.0, 4.0]
    q = ann_index.recommend_query_vector(
        {1: [1.0, 3.0], 2: [3.0, 5.0]}, {9: [1.0, 1.0]}
    )
    assert q == [3.0, 7.0]


def test_recommend_follows_index_state_not_corpus(spark, tmp_path):
    """An upserted re-embedding changes what the example id means —
    recommend must read the STORED vector, not the original corpus."""
    root = str(tmp_path / "idx")
    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    ann_index.build_ann_index(spark, base, root)
    upd = base.filter(F.col("vec_id") == 7).withColumn(
        "embedding", F.reverse(F.col("embedding"))
    )
    ann_index.ann_index_upsert(spark, upd, root)
    stored = ann_index.ann_index_fetch_vectors(spark, root, [7])[7]
    orig = [
        float(x)
        for x in base.filter(F.col("vec_id") == 7).first()["embedding"]
    ]
    assert stored == list(reversed(orig)) and stored != orig
    got = ann_index.ann_index_recommend(
        spark, root, positive_ids=[7], k=5
    ).collect()
    want = ann_index.ann_index_top_k(
        spark, root, stored, k=5, exclude_ids=[7]
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_grouped_topk_qdrant_semantics(spark, built):
    root, base = built
    q = [
        float(x)
        for x in load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    ]
    groups = base.select("vec_id", "label")
    got = ann_index.ann_index_top_k_grouped(
        spark, root, q, groups, "label", k_groups=3, group_size=2, fetch_k=40
    ).collect()

    # recompute expectations from the flat serve
    flat = ann_index.ann_index_top_k(spark, root, q, k=40).collect()
    lbl = {r["vec_id"]: r["label"] for r in groups.collect()}
    per_group: dict[int, list] = {}
    for r in sorted(flat, key=lambda r: (-r["cosine_sim"], r["vec_id"])):
        per_group.setdefault(lbl[r["vec_id"]], []).append(r)
    best = sorted(
        ((v[0]["cosine_sim"], v[0]["vec_id"], g) for g, v in per_group.items()),
        key=lambda t: (-t[0], t[1]),
    )[:3]
    want = []
    for rank, (_, _, g) in enumerate(best, start=1):
        for i, r in enumerate(per_group[g][:2], start=1):
            want.append((g, rank, i, r["vec_id"], r["cosine_sim"]))
    assert [tuple(r) for r in got] == want

    # groups ranked by BEST hit; inside a group ranks are 1..<=group_size
    ranks = {}
    for g, grank, rin, _, _ in (tuple(r) for r in got):
        ranks.setdefault((g, grank), []).append(rin)
    for (_, _), rins in ranks.items():
        assert rins == list(range(1, len(rins) + 1)) and len(rins) <= 2


def test_alias_blue_green_reindex(spark, tmp_path):
    """Qdrant update-collection-aliases flow: serve via an alias, build
    a replacement index, repoint atomically — readers see old or new,
    never a mix."""
    from cultural_heritage_bigdata_project_spark.operators import txn

    aliases = str(tmp_path / "aliases")
    blue = str(tmp_path / "blue")
    green = str(tmp_path / "green")
    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    ann_index.build_ann_index(spark, base, blue)
    txn.set_alias(aliases, "prod", blue)

    q = [
        float(x)
        for x in load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    ]
    served_blue = ann_index.ann_index_top_k(
        spark, txn.resolve_alias(aliases, "prod"), q, k=5
    ).collect()
    assert len(served_blue) == 5

    # reindex: fewer lists => different physical layout, same corpus
    ann_index.build_ann_index(spark, base, green, n_lists=8)
    txn.set_alias(aliases, "prod", green)  # the atomic swap
    assert txn.resolve_alias(aliases, "prod") == green
    served_green = ann_index.ann_index_top_k(
        spark, txn.resolve_alias(aliases, "prod"), q, k=5, n_probe=8
    ).collect()
    assert len(served_green) == 5

    assert txn.list_aliases(aliases) == {"prod": green}
    txn.drop_alias(aliases, "prod")
    txn.drop_alias(aliases, "prod")  # idempotent
    with pytest.raises(KeyError):
        txn.resolve_alias(aliases, "prod")
    with pytest.raises(ValueError):
        txn.set_alias(aliases, "", blue)


def test_point_lifecycle_random_walk_matches_model(spark, tmp_path):
    """Model-based check of the point-management surface: a seeded
    random walk of upsert / delete / resurrect ops against a plain
    dict model, with count + scroll + fetch compared after every
    commit. Catches fold/tombstone interactions no single-scenario
    test enumerates (delete-then-upsert-then-delete chains, repeated
    deletes, upserts that re-embed)."""
    import random

    base = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") != 0)
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in base.collect()
    }
    ids = sorted(vecs)

    root = str(tmp_path / "idx")
    ann_index.build_ann_index(spark, base, root)
    model = dict(vecs)  # id -> currently stored vector

    rng = random.Random(20260816)
    for step in range(8):
        op = rng.choice(["upsert", "delete", "delete", "upsert"])
        chosen = rng.sample(ids, rng.randint(1, 4))
        if op == "delete":
            ann_index.ann_index_delete(spark, chosen, root)
            for i in chosen:
                model.pop(i, None)
        else:
            flip = rng.random() < 0.5
            batch = base.filter(F.col("vec_id").isin(chosen))
            if flip:
                batch = batch.withColumn(
                    "embedding", F.reverse(F.col("embedding"))
                )
            ann_index.ann_index_upsert(spark, batch, root)
            for i in chosen:
                model[i] = list(reversed(vecs[i])) if flip else vecs[i]
        if step == 5:
            # fold mid-walk: reclamation must not change the live set
            ann_index.ann_index_compact(spark, root)

        got_n = ann_index.ann_index_count(spark, root).first()["n_points"]
        assert got_n == len(model), f"step {step}: count {got_n} != {len(model)}"
        page = [
            r["vec_id"]
            for r in ann_index.ann_index_scroll(spark, root, limit=10_000).collect()
        ]
        assert page == sorted(model), f"step {step}: scroll diverged"
        if model:
            probe = rng.choice(sorted(model))
            fetched = ann_index.ann_index_fetch_vectors(spark, root, [probe])
            assert fetched[probe] == model[probe], f"step {step}: stored vector wrong"


def test_payload_lifecycle_random_walk_matches_model(spark, tmp_path):
    """Round 10: the lifecycle walk extended across the FULL mutation
    matrix — upsert (vector+payload), update_vectors (vector only,
    payload preserved), set_payload (payload only, vector preserved),
    delete, compact — against a dict model of (vector, status, label).
    Scroll-with-payload, filtered count, and point fetch are compared
    after every commit; this is the interaction surface (overlay vs
    fold epochs vs tombstones vs baking) no scenario test enumerates."""
    import random

    base = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") != 0)
        .withColumn("status", F.lit("pending"))
    )
    vecs = {
        r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"])
        for r in base.collect()
    }
    ids = sorted(vecs)
    root = str(tmp_path / "idx")
    ann_index.build_ann_index(
        spark, base, root, payload_cols=["label", "status"]
    )
    # model: id -> (vector, label, status)
    model = {i: (v, lbl, "pending") for i, (v, lbl) in vecs.items()}

    rng = random.Random(20260817)
    statuses = ["pending", "validated", "flagged"]
    for step in range(10):
        op = rng.choice(
            ["upsert", "delete", "set_payload", "set_payload",
             "update_vectors"]
        )
        chosen = rng.sample(ids, rng.randint(1, 4))
        if op == "delete":
            ann_index.ann_index_delete(spark, chosen, root)
            for i in chosen:
                model.pop(i, None)
        elif op == "set_payload":
            live_chosen = [i for i in chosen if i in model]
            st = rng.choice(statuses)
            if live_chosen:
                # subset-column update half the time
                if rng.random() < 0.5:
                    upd = spark.createDataFrame(
                        [(int(i), st) for i in live_chosen],
                        "vec_id long, status string",
                    )
                    for i in live_chosen:
                        v, lbl, _ = model[i]
                        model[i] = (v, lbl, st)
                else:
                    newlbl = rng.randint(0, 9)
                    upd = spark.createDataFrame(
                        [(int(i), st, newlbl) for i in live_chosen],
                        "vec_id long, status string, label int",
                    )
                    for i in live_chosen:
                        v, _, _ = model[i]
                        model[i] = (v, newlbl, st)
                ann_index.ann_index_set_payload(spark, upd, root)
            # ids deleted from the model: Qdrant semantics — a
            # set_payload on a missing point is a silent no-op, so
            # also send one occasionally and expect nothing
        elif op == "update_vectors":
            live_chosen = [i for i in chosen if i in model]
            if not live_chosen:
                continue
            batch = base.filter(
                F.col("vec_id").isin([int(i) for i in live_chosen])
            ).select(
                "vec_id", F.reverse(F.col("embedding")).alias("embedding")
            )
            ann_index.ann_index_update_vectors(spark, batch, root)
            for i in live_chosen:
                _, lbl, st = model[i]
                model[i] = (list(reversed(vecs[i][0])), lbl, st)
        else:  # full upsert: resets vector AND payload
            st = rng.choice(statuses)
            batch = (
                base.filter(F.col("vec_id").isin([int(i) for i in chosen]))
                .withColumn("status", F.lit(st))
            )
            ann_index.ann_index_upsert(spark, batch, root)
            for i in chosen:
                model[i] = (vecs[i][0], vecs[i][1], st)
        if step == 6:
            ann_index.ann_index_compact(spark, root)
            assert (
                ann_index.ann_index_describe(spark, root)[
                    "n_payload_delta_segments"
                ]
                == 0
            )

        got = {
            r["vec_id"]: (r["label"], r["status"])
            for r in ann_index.ann_index_scroll(
                spark, root, limit=10_000, with_payload=True
            ).collect()
        }
        want = {i: (lbl, st) for i, (_, lbl, st) in model.items()}
        assert got == want, f"step {step} ({op}): payload state diverged"
        n_val = ann_index.ann_index_count(
            spark, root, payload_filter="status = 'validated'"
        ).first()["n_points"]
        assert n_val == sum(
            1 for _, _, st in model.values() if st == "validated"
        ), f"step {step}: filtered count diverged"
        if model:
            probe = rng.choice(sorted(model))
            fetched = ann_index.ann_index_fetch_vectors(spark, root, [probe])
            assert fetched[probe] == model[probe][0], (
                f"step {step}: stored vector wrong"
            )


def test_list_segments_are_id_sorted_for_keyset_pruning(spark, built):
    """Round 10: build (and compact — covered by re-checking after one)
    writes every list segment's files ID-SORTED, so a keyset scroll
    page's pushed vec_id predicate prunes row groups — the physical
    property that makes a deep page's scanned bytes ~O(remaining)
    even though segments are clustered by ann_list, not id (the
    honest file-listing cost is in the scroll docstring)."""
    import pyarrow.parquet as pq

    from cultural_heritage_bigdata_project_spark.operators import txn

    def assert_sorted(root):
        cur = txn.current_version_dir(root)
        ann = txn.read_manifest(root, os.path.basename(cur))[
            ann_index.CODES_COMPONENT
        ]["ann"]
        checked = 0
        for seg in ann["list_segments"].values():
            sdir = txn.segment_path(root, seg)
            for dirpath, _d, files in os.walk(sdir):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    md = pq.ParquetFile(os.path.join(dirpath, fn)).metadata
                    idx = md.schema.to_arrow_schema().get_field_index("vec_id")
                    prev_max = None
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(idx).statistics
                        assert st is not None and st.has_min_max
                        if prev_max is not None:
                            assert st.min >= prev_max, (seg, fn, g)
                        prev_max = st.max
                    checked += 1
        assert checked > 0

    root, base = built
    assert_sorted(root)
    # an upsert + compact re-homes the tail; files must stay id-sorted
    scratch = str(root) + "_sorted"
    ann_index.build_ann_index(spark, base, scratch)
    ann_index.ann_index_upsert(spark, base.limit(20), scratch)
    ann_index.ann_index_compact(spark, scratch)
    assert_sorted(scratch)


def test_batch_pq_codec_matches_single_query_serve(spark, built):
    """ann_index_top_k_all(codec='pq') is per-query bit-equal to
    ann_index_top_k's default PQ serve — same probe lists, same
    integer ADC shortlist (the riding per-query table is computed with
    the single path's sequential float order), same exact re-rank."""
    root, base = built
    qs = base.filter(F.col("vec_id").isin([0, 3, 9])).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    batch = ann_index.ann_index_top_k_all(
        spark, root, qs, k=5, n_probe=4, shortlist=50, codec="pq"
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["q_id"], []).append(r)
    for row in qs.collect():
        want = ann_index.ann_index_top_k(
            spark, root, [float(x) for x in row["embedding"]],
            k=5, n_probe=4, shortlist=50,
        ).collect()
        got = by_q[row["q_id"]]
        assert [(r["vec_id"], r["adc_micro"]) for r in got] == [
            (r["vec_id"], r["adc_micro"]) for r in want
        ]
        for a, b in zip(got, want):
            assert a["cosine_sim"] == b["cosine_sim"]
