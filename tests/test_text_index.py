"""Persisted inverted text index (operators/text_index.py): build/probe
score parity with the corpus-scan bm25_search (bit-equal — the shared
`bm25_rank_hits` tail plus exact manifest corpus stats), O(changes)
upserts with doc-supersede semantics (terms leaving a doc disappear),
metadata-only bucket pruning, and exact (n_docs, sum_dl) maintenance.

Reference analog: the reference's lexical serving lives in Postgres
(curated_to_postgres.py staging swap) — queries never rescan the lake;
this gives the engine the same serve-without-rescan property natively."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import text, text_index, txn
from cultural_heritage_bigdata_project_spark.sources.tables import load_table

from .conftest import SF_DIR

TERMS = ["merge", "spark", "window"]


def _docs(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "text")


def _rows(df):
    return [(r["doc_id"], r["bm25"], r["n_terms_hit"]) for r in df.collect()]


def test_index_search_equals_corpus_scan(spark, tmp_path):
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root)
    got = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    want = _rows(text.bm25_search(docs, TERMS, top_k=10))
    assert got == want  # bit-equal scores, same order


def test_probe_reads_only_probed_buckets(spark, tmp_path, monkeypatch):
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root, n_buckets=16)
    seen: list[list[str]] = []
    real = txn._read_segment_union

    def spy(s, paths):
        seen.append(list(paths))
        return real(s, paths)

    monkeypatch.setattr(txn, "_read_segment_union", spy)
    text_index.text_index_search(spark, root, TERMS, top_k=10).collect()
    probe = [p for p in seen if any("/tix_" in x for x in p)]
    assert probe, "probe did not go through the segment union"
    want_buckets = {text_index._bucket_py(t, 16) for t in TERMS}
    assert len(probe[-1]) == len(want_buckets)  # probed buckets only


def test_upsert_new_and_updated_docs_exact(spark, tmp_path):
    """The post-upsert index must serve the corpus-scan answer over the
    UPDATED corpus: new docs appear, updated docs' old postings vanish
    (doc-supersede — including terms that LEFT the doc), and the
    manifest (n_docs, sum_dl) stays exact."""
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    text_index.build_text_index(spark, base, root)

    new_docs = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" merge merge"))
    )
    # updated docs REPLACE their text entirely: every old term leaves
    updated = docs.filter(
        (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 3)
    ).withColumn("text", F.lit("window window spark"))
    text_index.text_index_upsert(spark, new_docs.unionByName(updated), root)

    state = (
        docs.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 != 3))
        .unionByName(new_docs)
        .unionByName(updated)
    )
    got = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    want = _rows(text.bm25_search(state, TERMS, top_k=10))
    assert got == want
    # exact corpus stats in the manifest
    cur = txn.current_version_dir(root)
    tix = txn.read_manifest(root, os.path.basename(cur))[
        text_index.POSTINGS_COMPONENT
    ]["tix"]
    n_docs = state.count()
    toks = F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
    sum_dl = state.select(F.sum(toks).alias("s")).first()["s"]
    assert tix["n_docs"] == n_docs
    assert tix["sum_dl"] == sum_dl
    # doclen component folds to one row per doc
    dl = txn.read_version(spark, root, subdir=text_index.DOCLEN_COMPONENT)
    assert dl.count() == n_docs
    # a term that left an updated doc is gone from the served postings:
    # the updated docs now contain ONLY window/window/spark tokens
    upd_ids = {r["doc_id"] for r in updated.select("doc_id").collect()}
    hit_rows = text_index.text_index_search(
        spark, root, ["merge"], top_k=10_000
    ).collect()
    assert not ({r["doc_id"] for r in hit_rows} & upd_ids)


def test_rebuild_folds_deltas(spark, tmp_path):
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs.filter(F.col("doc_id") < 400), root)
    text_index.text_index_upsert(
        spark, docs.filter(F.col("doc_id") >= 400), root
    )
    text_index.build_text_index(spark, docs, root)  # rebuild folds
    cur = txn.current_version_dir(root)
    tix = txn.read_manifest(root, os.path.basename(cur))[
        text_index.POSTINGS_COMPONENT
    ]["tix"]
    assert tix["delta_segments"] == []
    got = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    want = _rows(text.bm25_search(docs, TERMS, top_k=10))
    assert got == want


def test_double_update_keeps_newest_posting_set(spark, tmp_path):
    """Two upserts of the SAME doc: the delta-tail fold must keep only
    the newest posting set (max epoch), not union both."""
    spark_df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, spark_df, root, n_buckets=4)
    u1 = spark.createDataFrame([(1, "epsilon zeta")], "doc_id long, text string")
    u2 = spark.createDataFrame([(1, "eta theta")], "doc_id long, text string")
    text_index.text_index_upsert(spark, u1, root)
    text_index.text_index_upsert(spark, u2, root)
    state = spark.createDataFrame(
        [(1, "eta theta"), (2, "gamma delta")], "doc_id long, text string"
    )
    for terms in (["eta"], ["epsilon"], ["alpha"], ["gamma", "eta"]):
        got = _rows(text_index.text_index_search(spark, root, terms, top_k=10))
        want = _rows(text.bm25_search(state, terms, top_k=10))
        assert got == want, terms


def test_index_errors_clearly(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        text_index.text_index_search(spark, str(tmp_path / "nope"), TERMS)
    with pytest.raises(FileNotFoundError, match="build_text_index"):
        text_index.text_index_upsert(
            spark,
            spark.createDataFrame([(1, "a")], "doc_id long, text string"),
            str(tmp_path / "nope2"),
        )


def test_history_shows_index_operations(spark, tmp_path):
    docs = _docs(spark).limit(50)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root, keep_last=5)
    text_index.text_index_upsert(
        spark,
        spark.createDataFrame([(9001, "merge window")], "doc_id long, text string"),
        root,
        keep_last=5,
    )
    ops = [h["operation"] for h in txn.describe_history(root)]
    assert ops == ["text_index_upsert", "text_index_build"]


def test_stoplist_prunes_hot_terms_without_touching_other_scores(spark, tmp_path):
    """stop_terms drops the named terms' postings (bucket-skew relief);
    dl stays the TRUE length, so other terms' scores are unchanged vs
    the unstopped corpus scan; a stopped term just has no postings."""
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root, stop_terms=["merge"])
    got = _rows(text_index.text_index_search(spark, root, ["spark", "window"], top_k=10))
    want = _rows(text.bm25_search(docs, ["spark", "window"], top_k=10))
    assert got == want
    assert text_index.text_index_search(spark, root, ["merge"], top_k=10).count() == 0
    cur = txn.current_version_dir(root)
    tix = txn.read_manifest(root, os.path.basename(cur))[
        text_index.POSTINGS_COMPONENT
    ]["tix"]
    assert tix["stop_terms"] == ["merge"]
    # corpus stats still count every doc at TRUE length
    n = docs.count()
    assert tix["n_docs"] == n
    dl = txn.read_version(spark, root, subdir=text_index.DOCLEN_COMPONENT)
    assert dl.count() == n


def test_all_stopped_update_still_supersedes(spark, tmp_path):
    """A doc updated to content that is ENTIRELY stop terms produces no
    delta postings — its base postings must still vanish (the doclen
    delta is the supersede key), and corpus stats track the new length."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta alpha")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "tix")
    text_index.build_text_index(
        spark, docs, root, n_buckets=4, stop_terms=["the"]
    )
    upd = spark.createDataFrame([(1, "the the")], "doc_id long, text string")
    text_index.text_index_upsert(spark, upd, root)
    # doc 1's old terms are gone from serving
    hits = text_index.text_index_search(spark, root, ["alpha"], top_k=10).collect()
    assert [r["doc_id"] for r in hits] == [2]
    assert (
        text_index.text_index_search(spark, root, ["beta"], top_k=10).count() == 0
    )
    # stats: doc 1 now has length 2 (true length incl. stopped tokens)
    cur = txn.current_version_dir(root)
    tix = txn.read_manifest(root, os.path.basename(cur))[
        text_index.POSTINGS_COMPONENT
    ]["tix"]
    assert tix["n_docs"] == 2
    assert tix["sum_dl"] == 2 + 2  # "the the" + "delta alpha"
    # and the served score for doc 2 equals the scan over the merged state
    state = spark.createDataFrame(
        [(1, "the the"), (2, "delta alpha")], "doc_id long, text string"
    )
    got = _rows(text_index.text_index_search(spark, root, ["alpha"], top_k=10))
    want = _rows(text.bm25_search(state, ["alpha"], top_k=10))
    assert got == want


def test_batch_serving_matches_per_query(spark, tmp_path):
    """text_index_search_all: one job serves every query; each query's
    rows equal its single-query serve bit-for-bit (same expression
    tree, same metadata stats), including over a post-upsert tail."""
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs.filter(F.col("doc_id") % 4 != 0), root)
    text_index.text_index_upsert(
        spark, docs.filter(F.col("doc_id") % 4 == 0), root
    )
    queries = spark.createDataFrame(
        [
            (0, ["merge", "spark", "window"]),
            (1, ["join", "table"]),
            (2, ["spark"]),
            (3, ["nosuchterm"]),
        ],
        "q_id long, terms array<string>",
    )
    out = text_index.text_index_search_all(spark, root, queries, top_k=5)
    by_q: dict = {}
    for r in out.collect():
        by_q.setdefault(r["q_id"], []).append(
            (r["doc_id"], r["bm25"], r["n_terms_hit"])
        )
    assert 3 not in by_q  # no hits for the unseen term
    for q_id, terms in [(0, ["merge", "spark", "window"]), (1, ["join", "table"]), (2, ["spark"])]:
        want = _rows(text_index.text_index_search(spark, root, terms, top_k=5))
        assert by_q.get(q_id, []) == want, q_id
    # empty query batch: typed empty result
    empty = queries.filter(F.col("q_id") < 0)
    res = text_index.text_index_search_all(spark, root, empty, top_k=5)
    assert res.count() == 0
    assert res.columns == ["q_id", "doc_id", "bm25", "n_terms_hit"]


def test_doclen_compaction_degrades_gracefully(spark, tmp_path):
    """A generic compact of the DOCLEN component rewrites its read list;
    GC then removes the dl-delta files the postings' tix block still
    names. Serving must fall back to the folded-doclen supersede rule
    and stay CORRECT (unpruned) until a rebuild."""
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    text_index.build_text_index(spark, base, root)
    upd = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" merge"))
    )
    text_index.text_index_upsert(spark, upd, root)
    state = base.unionByName(upd)
    want = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))

    txn.compact_component(spark, root, component=text_index.DOCLEN_COMPONENT)
    # the compacted DOCLEN no longer lists the dl deltas; once the
    # pre-compaction versions age out of retention, GC removes the
    # files while the postings' tix block still names them — simulate
    # that aged-out state directly
    import shutil

    cur = txn.current_version_dir(root)
    tix = txn.read_manifest(root, os.path.basename(cur))[
        text_index.POSTINGS_COMPONENT
    ]["tix"]
    assert tix["dl_delta_segments"], "fixture lost its dl-delta references"
    for s in tix["dl_delta_segments"]:
        shutil.rmtree(txn.segment_path(root, s), ignore_errors=True)
    got = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    assert got == want
    scan = _rows(text.bm25_search(state, TERMS, top_k=10))
    assert got == scan


def test_compaction_folds_delta_tail(spark, tmp_path, monkeypatch):
    """text_index_compact folds tixd_*/tixdld_* into per-bucket base
    segments + one doclen segment WITHOUT a corpus rebuild: the delta
    lists empty, stats stay exact, serving stays bit-equal to the scan,
    and the probe is back to the pruned shape (only probed-bucket files
    listed — the round-8 flagship's restored invariant)."""
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    text_index.build_text_index(spark, base, root, n_buckets=16)
    new_docs = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" merge"))
    )
    updated = docs.filter(
        (F.col("doc_id") % 4 != 0) & (F.col("doc_id") % 9 == 2)
    ).withColumn("text", F.lit("window spark"))
    text_index.text_index_upsert(spark, new_docs, root)
    text_index.text_index_upsert(spark, updated, root)
    state = (
        docs.filter((F.col("doc_id") % 4 != 0) & (F.col("doc_id") % 9 != 2))
        .unionByName(new_docs)
        .unionByName(updated)
    )
    pre_tix = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert pre_tix["delta_segments"] and pre_tix["dl_delta_segments"]

    assert text_index.text_index_compact(spark, root) is not None
    tix = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert tix["delta_segments"] == [] and tix["dl_delta_segments"] == []
    assert tix["n_docs"] == pre_tix["n_docs"]
    assert tix["sum_dl"] == pre_tix["sum_dl"]

    # serving parity after compaction (updated docs' old terms gone)
    got = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    want = _rows(text.bm25_search(state, TERMS, top_k=10))
    assert got == want

    # pruned probe shape restored: only the probed buckets' files
    seen: list[list[str]] = []
    real = txn._read_segment_union

    def spy(s, paths):
        seen.append(list(paths))
        return real(s, paths)

    monkeypatch.setattr(txn, "_read_segment_union", spy)
    # an empty plan memo: the serve above cached this exact probe plan,
    # and a memo hit would build no segment union to observe
    monkeypatch.setattr(txn, "_READ_PLAN_MEMO", {})
    text_index.text_index_search(spark, root, TERMS, top_k=10).collect()
    probe = [p for p in seen if any("/tix_" in x for x in p)]
    assert probe, "probe did not go through the segment union"
    want_buckets = {text_index._bucket_py(t, 16) for t in TERMS}
    assert len(probe[-1]) == len(want_buckets)
    assert not any("tixd_" in x or "tixdld_" in x for x in probe[-1])

    # idempotent: nothing left to fold
    assert text_index.text_index_compact(spark, root) is None


def test_upsert_after_compaction_serves_exactly(spark, tmp_path):
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs.filter(F.col("doc_id") < 200), root)
    mid = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350))
    text_index.text_index_upsert(spark, mid, root)
    text_index.text_index_compact(spark, root)
    late = docs.filter(F.col("doc_id") >= 350)
    text_index.text_index_upsert(spark, late, root)
    state = docs
    got = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    want = _rows(text.bm25_search(state, TERMS, top_k=10))
    assert got == want


def test_upsert_stats_correction_prunes_to_batch_buckets(spark, tmp_path, monkeypatch):
    """The exact-stats correction must probe ONLY the batch keys'
    doclen buckets (round-8 VERDICT item: the one step that used to
    read beyond the batch)."""
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root, n_buckets=16)
    batch = docs.filter(F.col("doc_id").isin([3, 700])).withColumn(
        "text", F.lit("merge window")
    )
    calls: list = []
    real = txn.bucketed_reconstruct

    def spy(s, paths, spec, **kw):
        calls.append((list(paths), kw.get("only_bucket")))
        return real(s, paths, spec, **kw)

    monkeypatch.setattr(txn, "bucketed_reconstruct", spy)
    text_index.text_index_upsert(spark, batch, root)
    dl_calls = [c for c in calls if any("tixdl" in p for p in c[0])]
    assert dl_calls, "correction did not go through bucketed_reconstruct"
    probed = dl_calls[-1][1]
    assert probed is not None and 0 < len(probed) <= 2  # two keys max
    want = {
        int(r["b"])
        for r in batch.select(
            txn.bucket_expr(["doc_id"], 16).alias("b")
        ).distinct().collect()
    }
    assert set(probed) == want
    # and the stats stayed exact
    tix = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    state = docs.filter(~F.col("doc_id").isin([3, 700])).unionByName(batch)
    assert tix["n_docs"] == state.count()
    toks = F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
    assert tix["sum_dl"] == state.select(F.sum(toks)).first()[0]


def test_corpus_absent_terms_probe_zero_files(spark, tmp_path, monkeypatch):
    """Every query term hashing to a bucket with no base segment (and
    no delta tail) must return EMPTY without listing any segment —
    round-8 ADVICE: the old path fell back to a full unpruned scan."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root, n_buckets=64)
    used = {text_index._bucket_py(t, 64) for t in ["alpha", "beta", "gamma"]}
    probe_term = next(
        t
        for t in (f"zzz{i}" for i in range(1000))
        if text_index._bucket_py(t, 64) not in used
    )
    seen: list[list[str]] = []
    real = txn._read_segment_union

    def spy(s, paths):
        seen.append(list(paths))
        return real(s, paths)

    monkeypatch.setattr(txn, "_read_segment_union", spy)
    out = text_index.text_index_search(spark, root, [probe_term], top_k=5)
    assert out.count() == 0
    assert out.columns == ["doc_id", "bm25", "n_terms_hit"]
    assert not any(
        any("/tix" in x for x in paths) for paths in seen
    ), "corpus-absent term listed index segments"
    # a delete-only tail (doclen tombstones, no posting delta) adds no
    # postings either: still an empty answer, not an error
    text_index.text_index_delete(spark, [2], root)
    out = text_index.text_index_search(spark, root, [probe_term], top_k=5)
    assert out.count() == 0


def test_null_and_empty_text_docs_keep_stats_and_parity(spark, tmp_path):
    """Docs with NULL text produce no postings but MUST count in n_docs
    (round-8 ADVICE: the two build modes disagreed). Both build modes
    now derive doclen from the docs, so index == scan on null-bearing
    corpora, stopped or not."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "beta beta"), (4, "")],
        "doc_id long, text string",
    )
    for stop in (None, ["gamma"]):
        root = str(tmp_path / f"tix_{bool(stop)}")
        text_index.build_text_index(spark, docs, root, n_buckets=4, stop_terms=stop)
        tix = txn.read_manifest(
            root, os.path.basename(txn.current_version_dir(root))
        )[text_index.POSTINGS_COMPONENT]["tix"]
        assert tix["n_docs"] == 4, stop  # NULL-text doc counted
        got = _rows(text_index.text_index_search(spark, root, ["beta"], top_k=5))
        want = _rows(text.bm25_search(docs, ["beta"], top_k=5))
        assert got == want, stop


def test_search_raises_on_empty_corpus(spark, tmp_path):
    empty = spark.createDataFrame([], "doc_id long, text string")
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, empty, root, n_buckets=4)
    # clear error, not silently-NULL scores (round-8 ADVICE): the empty
    # build has no posting segments at all, so the probe refuses first
    with pytest.raises((FileNotFoundError, ValueError), match="no (documents|segments)"):
        text_index.text_index_search(spark, root, ["alpha"], top_k=5)


def test_filtered_search_matches_filtered_scan(spark, tmp_path):
    """allowed_ids filters BEFORE ranking on both paths: top-k fills
    from the filtered set, df is computed over it, corpus stats stay
    whole-corpus — index and scan bit-equal under the same filter."""
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root)
    allowed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    got = _rows(
        text_index.text_index_search(
            spark, root, TERMS, top_k=10, allowed_ids=allowed
        )
    )
    want = _rows(text.bm25_search(docs, TERMS, top_k=10, allowed_ids=allowed))
    assert got == want
    assert got, "filtered search returned nothing"
    assert all(r[0] % 3 == 0 for r in got)
    # filtered top-k is top-k OF THE FILTERED SET, not a post-filter:
    # it returns k rows whenever the filtered set has k scoring docs
    unfiltered = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    assert {r[0] for r in got} - {r[0] for r in unfiltered}, (
        "filtered results never dip below the unfiltered top-k — "
        "fixture too weak to prove filter-before-rank"
    )
    # batch path shares the same semantics
    queries = spark.createDataFrame(
        [(0, TERMS)], "q_id long, terms array<string>"
    )
    batch = text_index.text_index_search_all(
        spark, root, queries, top_k=10, allowed_ids=allowed
    )
    got_b = [
        (r["doc_id"], r["bm25"], r["n_terms_hit"])
        for r in batch.orderBy(F.col("bm25").desc(), F.col("doc_id")).collect()
    ]
    assert got_b == got


def test_empty_and_all_stopped_upsert_batches_stay_servable(spark, tmp_path):
    """An EMPTY upsert batch (and an all-stopped one, which writes no
    posting files) must never publish unreadable segment references —
    a partitioned write of an empty frame leaves only _SUCCESS behind."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root, n_buckets=4, stop_terms=["the"])
    empty = docs.filter(F.col("doc_id") < 0)
    text_index.text_index_upsert(spark, empty, root)
    stopped = spark.createDataFrame([(1, "the the the")], "doc_id long, text string")
    text_index.text_index_upsert(spark, stopped, root)
    state = spark.createDataFrame(
        [(1, "the the the"), (2, "beta gamma")], "doc_id long, text string"
    )
    got = _rows(text_index.text_index_search(spark, root, ["beta"], top_k=5))
    want = _rows(text.bm25_search(state, ["beta"], top_k=5))
    assert got == want
    tix = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert tix["n_docs"] == 2 and tix["sum_dl"] == 5
    # the compactor folds the all-stopped supersede correctly too
    text_index.text_index_compact(spark, root)
    got2 = _rows(text_index.text_index_search(spark, root, ["alpha", "beta"], top_k=5))
    want2 = _rows(text.bm25_search(state, ["alpha", "beta"], top_k=5))
    assert got2 == want2


def test_compaction_restores_pruning_from_degraded_state(spark, tmp_path, monkeypatch):
    """After a generic doclen compaction + GC of the dl-delta files
    (the degraded O(docs)-serving state), text_index_compact is the
    RESTORE tool: it folds via the doclen-latest epochs — no rebuild,
    no corpus read — and probes return to the pruned shape."""
    import shutil as _sh

    docs = _docs(spark)
    root = str(tmp_path / "tix")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    text_index.build_text_index(spark, base, root, n_buckets=16)
    upd = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" merge"))
    )
    text_index.text_index_upsert(spark, upd, root)
    state = base.unionByName(upd)
    want = _rows(text.bm25_search(state, TERMS, top_k=10))

    txn.compact_component(spark, root, component=text_index.DOCLEN_COMPONENT)
    tix = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    for s in tix["dl_delta_segments"]:  # simulate aged-out GC
        _sh.rmtree(txn.segment_path(root, s), ignore_errors=True)

    assert text_index.text_index_compact(spark, root) is not None
    tix2 = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert tix2["delta_segments"] == [] and tix2["dl_delta_segments"] == []
    got = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    assert got == want

    seen: list[list[str]] = []
    real = txn._read_segment_union

    def spy(s, paths):
        seen.append(list(paths))
        return real(s, paths)

    monkeypatch.setattr(txn, "_read_segment_union", spy)
    # an empty plan memo: the serve above cached this exact probe plan,
    # and a memo hit would build no segment union to observe
    monkeypatch.setattr(txn, "_READ_PLAN_MEMO", {})
    text_index.text_index_search(spark, root, TERMS, top_k=10).collect()
    probe = [p for p in seen if any("/tix_" in x for x in p)]
    want_buckets = {text_index._bucket_py(t, 16) for t in TERMS}
    assert probe and len(probe[-1]) == len(want_buckets)  # pruning restored


def test_text_delete_tombstones_and_reclaim(spark, tmp_path):
    """text_index_delete (round 9 — the lexical twin of
    ann_index_delete): deleted docs vanish from serving with ZERO
    posting writes, corpus stats stay exact (no double-subtract on a
    repeated delete), a later upsert resurrects the doc, and
    compaction physically reclaims tombstones."""
    docs = _docs(spark)
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root)
    full = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    victims = [r[0] for r in full[:2]]

    text_index.text_index_delete(spark, victims, root)
    state = docs.filter(~F.col("doc_id").isin(victims))
    got = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    want = _rows(text.bm25_search(state, TERMS, top_k=10))
    assert got == want  # bit-equal over the shrunken corpus
    tix = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert tix["n_docs"] == state.count()
    toks = F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
    assert tix["sum_dl"] == state.select(F.sum(toks)).first()[0]

    # repeated delete: no double-subtract
    text_index.text_index_delete(spark, victims, root)
    tix2 = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert tix2["n_docs"] == tix["n_docs"] and tix2["sum_dl"] == tix["sum_dl"]

    # resurrect one victim, then compact: serving stays exact and the
    # tombstones are physically gone
    back = docs.filter(F.col("doc_id") == victims[0])
    text_index.text_index_upsert(spark, back, root)
    state2 = docs.filter(~F.col("doc_id").isin(victims[1:]))
    got2 = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    want2 = _rows(text.bm25_search(state2, TERMS, top_k=10))
    assert got2 == want2
    assert text_index.text_index_compact(spark, root) is not None
    got3 = _rows(text_index.text_index_search(spark, root, TERMS, top_k=10))
    assert got3 == want2
    dl = txn.read_version(spark, root, subdir=text_index.DOCLEN_COMPONENT)
    assert dl.count() == state2.count()
    assert text_index._DEL not in dl.columns or dl.filter(
        F.col(text_index._DEL)
    ).count() == 0
    tix3 = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert tix3["n_docs"] == state2.count()


def test_text_set_payload_lifecycle(spark, tmp_path):
    """text_index_set_payload (round 10, ann_index_set_payload's
    lexical twin): flip a stored facet column without re-tokenizing;
    the flip hits the next filtered serve and the grouped map, a full
    doc upsert resets it, and compaction bakes it into doclen rows."""
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text", "lang")
        .withColumn("status", F.lit("pending"))
    )
    root = str(tmp_path / "tix")
    text_index.build_text_index(
        spark, docs, root, payload_cols=["status", "lang"]
    )
    hits = text_index.text_index_search(spark, root, TERMS, top_k=5).collect()
    ids = [int(r["doc_id"]) for r in hits[:2]]

    assert (
        text_index.text_index_search(
            spark, root, TERMS, top_k=5, payload_filter="status = 'validated'"
        ).count()
        == 0
    )
    text_index.text_index_set_payload(
        spark,
        spark.createDataFrame(
            [(i, "validated") for i in ids], "doc_id long, status string"
        ),
        root,
    )
    got = text_index.text_index_search(
        spark, root, TERMS, top_k=5, payload_filter="status = 'validated'"
    ).collect()
    assert {int(r["doc_id"]) for r in got} == set(ids)
    # subset merge: lang untouched; grouped map reflects the flip
    lang0 = {int(r["doc_id"]): r["lang"] for r in docs.collect()}
    g = text_index.text_index_search_grouped(
        spark, root, TERMS, None, "status", k_groups=2, group_size=5,
        fetch_k=30,
    ).collect()
    by_status = {r["status"]: {int(r2["doc_id"]) for r2 in g if r2["status"] == r["status"]} for r in g}
    assert set(ids) <= by_status.get("validated", set())
    assert (
        text_index.text_index_describe(root)["n_payload_delta_segments"] == 1
    )

    # a full doc upsert resets payload wholesale (newer tix_epoch)
    reset_id = ids[0]
    text_index.text_index_upsert(
        spark,
        docs.filter(F.col("doc_id") == reset_id),
        root,
    )
    got2 = text_index.text_index_search(
        spark, root, TERMS, top_k=5, payload_filter="status = 'validated'"
    ).collect()
    assert {int(r["doc_id"]) for r in got2} == {ids[1]}

    # compaction bakes + clears; the filtered serve answers identically
    before = text_index.text_index_search(
        spark, root, TERMS, top_k=5, payload_filter="status = 'validated'"
    ).collect()
    text_index.text_index_compact(spark, root)
    assert (
        text_index.text_index_describe(root)["n_payload_delta_segments"] == 0
    )
    after = text_index.text_index_search(
        spark, root, TERMS, top_k=5, payload_filter="status = 'validated'"
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]
    lang1 = {
        int(r["doc_id"]): r["lang"]
        for r in txn.read_version(spark, root, subdir="doclen")
        .select("doc_id", "lang")
        .collect()
    }
    assert lang1 == {k: lang0[k] for k in lang1}


def test_text_update_docs_preserves_payload(spark, tmp_path):
    """text_index_update_docs (round 10): re-index text without
    re-sending payload — stored facets (incl. a pending set_payload
    re-label) ride onto the new doc row; unknown ids raise."""
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text", "lang")
        .withColumn("status", F.lit("pending"))
    )
    root = str(tmp_path / "tix")
    text_index.build_text_index(
        spark, docs, root, payload_cols=["status", "lang"]
    )
    text_index.text_index_set_payload(
        spark,
        spark.createDataFrame([(3, "validated")], "doc_id long, status string"),
        root,
    )
    upd = docs.filter(F.col("doc_id").isin([3, 4])).select(
        "doc_id", F.concat(F.col("text"), F.lit(" zebra zebra")).alias("text")
    )
    text_index.text_index_update_docs(spark, upd, root)
    hits = text_index.text_index_search(spark, root, ["zebra"], top_k=5).collect()
    assert {int(r["doc_id"]) for r in hits} == {3, 4}
    only_val = text_index.text_index_search(
        spark, root, ["zebra"], top_k=5, payload_filter="status = 'validated'"
    ).collect()
    assert {int(r["doc_id"]) for r in only_val} == {3}
    lang0 = {
        int(r["doc_id"]): r["lang"]
        for r in docs.filter(F.col("doc_id").isin([3, 4])).collect()
    }
    dl = {
        int(r["doc_id"]): r["lang"]
        for r in txn.read_version(spark, root, subdir="doclen")
        .filter(F.col("doc_id").isin([3, 4]))
        .select("doc_id", "lang")
        .collect()
    }
    assert dl == lang0  # untouched facet rode along
    import pytest as _pt

    with _pt.raises(KeyError, match="not an insert"):
        text_index.text_index_update_docs(
            spark,
            spark.createDataFrame(
                [(10**9, "ghost text")], "doc_id long, text string"
            ),
            root,
        )


def test_grouped_serve_pins_one_version_against_concurrent_set_payload(
    spark, tmp_path, monkeypatch
):
    """Round-12 ADVICE closure: `text_index_search_grouped` resolves
    CURRENT exactly once — the flat BM25 probe and the stored-payload
    label lookup read the SAME pinned version, so a
    `text_index_set_payload` committing between the two reads can no
    longer mix payload vintages within one grouped page. Simulated by
    committing a flip-everything payload mutation from INSIDE the
    label-lookup call: the page must still serve the pre-flip labels."""
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .withColumn("status", F.lit("pending"))
    )
    root = str(tmp_path / "tix")
    text_index.build_text_index(spark, docs, root, payload_cols=["status"])
    flip = docs.select("doc_id", F.lit("flipped").alias("status"))
    v0 = text_index.text_index_current_version(root)

    real = text_index.text_index_retrieve_payload

    def racing_lookup(spark_, root_, ids_, payload_out=None, version=None):
        # the concurrent writer lands between the flat serve and the
        # label lookup of ONE grouped page
        text_index.text_index_set_payload(spark_, flip, root_)
        return real(
            spark_, root_, ids_, payload_out=payload_out, version=version
        )

    monkeypatch.setattr(
        text_index, "text_index_retrieve_payload", racing_lookup
    )
    page = text_index.text_index_search_grouped(
        spark, root, TERMS, None, "status", k_groups=2, group_size=3,
        fetch_k=10,
    ).collect()
    monkeypatch.undo()
    assert page and all(r["status"] == "pending" for r in page)

    # the flip DID commit — the next (unpinned) serve observes it,
    # and a version-pinned serve still reads the historical state
    assert (
        text_index.text_index_search(
            spark, root, TERMS, top_k=5, payload_filter="status = 'pending'"
        ).count()
        == 0
    )
    assert (
        text_index.text_index_search(
            spark, root, TERMS, top_k=5,
            payload_filter="status = 'pending'", version=v0,
        ).count()
        > 0
    )
