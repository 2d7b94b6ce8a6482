"""The shared versioned-segment core of the two serving indexes
(`operators/segment_index.py`): its plan-memo keys must cover every
input of the plan they cache, and one logical read resolves its
version before anything it reads from that version's manifest."""

from __future__ import annotations

import os
import random

from cultural_heritage_bigdata_project_spark.operators import (
    ann_index,
    text_index,
    txn,
)


def _racing_current(monkeypatch, first: str):
    """Make the first CURRENT lookup see ``first`` and every later one
    the real CURRENT, as if a commit landed right after the first."""
    real = txn.current_version_dir
    calls: list[str] = []

    def racing(root):
        calls.append(root)
        return os.path.join(root, first) if len(calls) == 1 else real(root)

    monkeypatch.setattr(txn, "current_version_dir", racing)


def test_plan_memo_does_not_store_none_results(spark, tmp_path):
    """A builder returning None (the lookup does not apply) is rebuilt
    on every call anyway, so caching it would only evict hot plans."""
    root = str(tmp_path / "tbl")
    os.makedirs(os.path.join(root, "v0"))
    txn.write_manifest(root, "v0", {})
    built: list[int] = []

    def builder():
        built.append(1)
        return None

    for _ in range(2):
        assert txn.version_plan_memo(spark, root, "v0", "none_probe", builder) is None
    assert len(built) == 2
    assert not [k for k in txn._READ_PLAN_MEMO if k[3] == "none_probe"]


def test_ann_retrieve_memo_key_covers_vec_col(spark, tmp_path):
    """Two retrieves that differ only in ``vec_col`` build different
    plans, so they must not share a memo entry."""
    rnd = random.Random(5)
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)], [float(i)] * 8)
         for i in range(40)],
        "vec_id long, embedding array<double>, alt array<double>",
    )
    root = str(tmp_path / "ann")
    ann_index.build_ann_index(spark, vecs, root, n_lists=4, m=4, payload_cols=["alt"])
    first = ann_index.ann_index_retrieve(
        spark, root, [1, 2], with_vectors=True, payload_out=[]
    )
    second = ann_index.ann_index_retrieve(
        spark, root, [1, 2], vec_col="alt", with_vectors=True, payload_out=[]
    )
    assert first.columns == ["vec_id", "ann_list", "embedding"]
    assert second.columns == ["vec_id", "ann_list", "alt"]
    assert {r["vec_id"]: list(r["alt"]) for r in second.collect()} == {
        1: [1.0] * 8,
        2: [2.0] * 8,
    }


def test_text_retrieve_pins_version_before_payload_cols(spark, tmp_path, monkeypatch):
    """A rebuild that changes the stored payload columns, committing
    between the version pin and the column lookup, must not pair one
    version's column list with another version's rows."""
    root = str(tmp_path / "tix")

    def docs(label: str):
        return spark.createDataFrame(
            [(i, f"alpha doc{i}", f"{label}{i % 2}") for i in range(10)],
            f"doc_id long, text string, {label} string",
        )

    text_index.build_text_index(
        spark, docs("lang"), root, n_buckets=2, payload_cols=["lang"]
    )
    v1 = text_index.text_index_current_version(root)
    text_index.build_text_index(
        spark, docs("region"), root, n_buckets=2, payload_cols=["region"]
    )
    _racing_current(monkeypatch, v1)
    got = text_index.text_index_retrieve_payload(spark, root, [1, 2])
    assert got.columns == ["doc_id", "lang"]
    assert sorted(map(tuple, got.collect())) == [(1, "lang1"), (2, "lang0")]


def test_ann_retrieve_pins_version_before_payload_cols(spark, tmp_path, monkeypatch):
    """`ann_index_retrieve`'s twin of the text pin test."""
    rnd = random.Random(9)

    def vecs(label: str):
        return spark.createDataFrame(
            [(i, [rnd.uniform(-1, 1) for _ in range(8)], f"{label}{i % 2}")
             for i in range(40)],
            f"vec_id long, embedding array<double>, {label} string",
        )

    root = str(tmp_path / "ann")
    ann_index.build_ann_index(
        spark, vecs("label"), root, n_lists=4, m=4, payload_cols=["label"]
    )
    v1 = os.path.basename(txn.current_version_dir(root))
    ann_index.build_ann_index(
        spark, vecs("tag"), root, n_lists=4, m=4, payload_cols=["tag"]
    )
    _racing_current(monkeypatch, v1)
    got = ann_index.ann_index_retrieve(spark, root, [1, 2])
    assert got.columns == ["vec_id", "ann_list", "label"]
    assert sorted((r["vec_id"], r["label"]) for r in got.collect()) == [
        (1, "label1"),
        (2, "label0"),
    ]


def test_ann_dedup_purge_detects_at_one_version(spark, tmp_path, monkeypatch):
    """The purge's candidate read and its batch self-serve see one
    version: a rebuild committing right after the purge resolves
    CURRENT must not pair one version's candidates with the next
    version's index."""
    rnd = random.Random(13)
    base = {i: [rnd.uniform(-1, 1) for _ in range(8)] for i in range(40)}

    def vecs(rows: dict):
        return spark.createDataFrame(
            sorted(rows.items()), "vec_id long, embedding array<double>"
        )

    # v1: ids 100 and 101 copy ids 1 and 2; v2: ids 1 and 2 move away
    root = str(tmp_path / "ann")
    ann_index.build_ann_index(
        spark, vecs({**base, 100: base[1], 101: base[2]}), root, n_lists=4, m=4
    )
    v1 = os.path.basename(txn.current_version_dir(root))
    moved = {i: [rnd.uniform(-1, 1) for _ in range(8)] for i in (1, 2)}
    ann_index.build_ann_index(
        spark, vecs({**base, **moved, 100: base[1], 101: base[2]}), root,
        n_lists=4, m=4,
    )
    _racing_current(monkeypatch, v1)
    losers = ann_index.ann_index_dedup_purge(
        spark, root, threshold=0.999999, n_probe=4, shortlist=10_000, top_n=5
    )
    assert sorted(r["vec_id"] for r in losers.collect()) == [100, 101]
