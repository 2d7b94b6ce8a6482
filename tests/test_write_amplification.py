"""Write-amplification gate for the streaming sinks (round-3 verdict
item #1): each micro-batch epoch must materialize O(batch + current)
bytes, NOT O(accumulated table). The SCD2 sink rewrites only the
current generation and appends closed rows as immutable history
segments; the upsert sink appends O(batch) delta segments with
merge-on-read + threshold compaction; the corpus-dedup sink appends
O(batch) segments for all three components. A regression to
full-table-rewrite-per-epoch makes the flatness assertions here fail
because later epochs would write the whole accumulated history."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import txn
from cultural_heritage_bigdata_project_spark.streaming import pipelines as streaming


def _drop_file(spark, tmp_path, src_dir, name, rows, schema, mtime):
    """One single-file parquet drop with a pinned mtime (the file
    source orders batches by modification time — pinned mtimes replace
    the 1.1s sleeps older tests use)."""
    df = spark.createDataFrame(rows, schema)
    pdir = str(tmp_path / f"_mk_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(pdir)
    pf = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    dst = os.path.join(src_dir, f"{name}.parquet")
    os.replace(os.path.join(pdir, pf), dst)
    os.utime(dst, (mtime, mtime))
    return dst


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _data_versions_hold_no_parquet(tdir: str) -> bool:
    for name in os.listdir(tdir):
        if name.startswith("data_v"):
            for root, _d, files in os.walk(os.path.join(tdir, name)):
                if any(f.endswith(".parquet") for f in files):
                    return False
    return True


N_KEYS = 200
EPOCHS = 5


def test_scd2_epoch_bytes_flat_as_history_grows(spark, tmp_path):
    """Every key changes every snapshot, so history grows by N_KEYS
    rows per epoch. Epoch e must write current (N_KEYS) + the newly
    closed rows (N_KEYS) — NEVER the accumulated history (which by the
    last epoch is (EPOCHS-1) x N_KEYS rows)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    for e in range(EPOCHS):
        rows = [(k, f"v{e}", (e + 1) * 100) for k in range(N_KEYS)]
        _drop_file(
            spark, tmp_path, src, f"f{e}", rows,
            "k long, attr string, ts_us long", t0 + e,
        )
    stream = (
        spark.readStream.schema("k long, attr string, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tbl = str(tmp_path / "dim")
    final = streaming.foreach_batch_scd2_run(
        spark, stream, keys=["k"], change_cols=["attr"], ts_col="ts_us",
        target_dir=tbl, keep_last=EPOCHS,
    )
    # table correctness first: full history present, one open row per key
    assert final.count() == N_KEYS * EPOCHS
    assert final.filter("is_current").count() == N_KEYS
    assert final.filter("NOT is_current AND valid_to IS NULL").count() == 0

    versions = txn.list_versions(tbl)
    assert len(versions) == EPOCHS
    # rows materialized per epoch: the version's current/ plus that
    # epoch's history segment — flat, not cumulative
    for e in range(EPOCHS):
        vdir = os.path.join(tbl, f"data_v{e}")
        assert spark.read.parquet(os.path.join(vdir, "current")).count() == N_KEYS
        hist_seg = txn.segment_path(tbl, f"hist_v{e}")
        if e == 0:
            assert not os.path.isdir(hist_seg)  # nothing closed yet
        else:
            assert spark.read.parquet(hist_seg).count() == N_KEYS
    # byte flatness: epochs 1.. all wrote within 1.5x of each other,
    # while the accumulated table grew (EPOCHS)x — a full-table rewrite
    # would make the last epoch ~(EPOCHS)x the first
    per_epoch = [
        _dir_bytes(os.path.join(tbl, f"data_v{e}"))
        + _dir_bytes(txn.segment_path(tbl, f"hist_v{e}"))
        for e in range(1, EPOCHS)
    ]
    assert max(per_epoch) <= 1.5 * min(per_epoch), per_epoch


def test_upsert_delta_segments_flat_and_tie_semantics(spark, tmp_path):
    """The upsert sink appends one O(batch) delta per epoch (version
    dirs hold only manifests), reads collapse to the latest row per
    key, and an equal-order-key later write does NOT displace the
    incumbent (the strict `>` conditional-upsert fold)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, event_id long, val string"
    for e in range(4):
        rows = [(k, (e + 1) * 100, k, f"e{e}") for k in range(N_KEYS)]
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    # epoch 4 re-sends the SAME (ts, event_id) as epoch 3 with a new val:
    # the incumbent (epoch 3) must win every tie
    _drop_file(
        spark, tmp_path, src, "f4",
        [(k, 400, k, "late-dup") for k in range(N_KEYS)], schema, t0 + 4,
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    final = streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts", "event_id"],
        target_dir=tbl, compact_every=100,
    )
    rows = {r.user_id: (r.ts, r.val) for r in final.collect()}
    assert len(rows) == N_KEYS
    assert all(v == (400, "e3") for v in rows.values()), "tie displaced incumbent"
    # per-epoch writes: one delta segment of exactly the batch size;
    # published versions are manifest-only (no table rewrite anywhere)
    assert _data_versions_hold_no_parquet(tbl)
    seg_sizes = []
    for e in range(5):
        seg = txn.segment_path(tbl, f"upsert_v{e}")
        assert spark.read.parquet(seg).count() == N_KEYS
        seg_sizes.append(_dir_bytes(seg))
    assert max(seg_sizes) <= 1.5 * min(seg_sizes), seg_sizes


def test_upsert_compaction_bounds_read_fanin(spark, tmp_path):
    """With compact_every=2 the segment list must collapse during the
    run and the final result must be identical to the uncompacted
    run's semantics; aged-out segments are garbage-collected."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, event_id long, val string"
    for e in range(5):
        rows = [(k, (e + 1) * 100, k, f"e{e}") for k in range(50)]
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    final = streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts", "event_id"],
        target_dir=tbl, compact_every=2,
    )
    assert {(r.user_id, r.ts, r.val) for r in final.collect()} == {
        (k, 500, "e4") for k in range(50)
    }
    cur = txn.current_version_dir(tbl)
    components = txn.read_manifest(tbl, os.path.basename(cur))
    live = components[""]["segments"]
    assert len(live) <= 2, live  # compaction collapsed the log
    # GC: only segments referenced by a retained manifest survive —
    # the read list (`segments`) plus the retained epochs' change-feed
    # records (`changes`, which outlive compaction by design)
    protected = set(live) | set(components[""].get("changes", []))
    on_disk = set(os.listdir(os.path.join(tbl, txn.SEGMENTS_DIR)))
    assert on_disk == protected, (on_disk, protected)


def test_corpus_dedup_segments_append_only(spark, tmp_path):
    """The corpus sink appends only each batch's survivors — corpus,
    fingerprint, and band-index components all grow by O(batch) per
    epoch with manifest-only version dirs."""
    src = str(tmp_path / "drops")
    os.makedirs(src)
    t0 = time.time() - 1000

    def mktext(seed: str) -> str:
        return " ".join(f"{seed}tok{i}" for i in range(50))

    b0 = [(i, mktext(f"a{i}x")) for i in range(10)]
    b1 = [(100, b0[0][1])] + [(101 + i, mktext(f"b{i}y")) for i in range(5)]
    b2 = [(200 + i, mktext(f"c{i}z")) for i in range(8)]
    for e, rows in enumerate([b0, b1, b2]):
        _drop_file(spark, tmp_path, src, f"b{e}", rows, "doc_id long, text string", t0 + e)
    stream = streaming.docs_stream(spark, src, max_files_per_trigger=1)
    tbl = str(tmp_path / "corpus")
    final = streaming.streaming_corpus_dedup_run(spark, stream, target_dir=tbl)
    assert {r.doc_id for r in final.collect()} == (
        set(range(10)) | set(range(101, 106)) | set(range(200, 208))
    )
    assert _data_versions_hold_no_parquet(tbl)
    for e, expect in [(0, 10), (1, 5), (2, 8)]:
        seg = txn.segment_path(tbl, f"corpus_v{e}")
        assert spark.read.parquet(seg).count() == expect
        assert spark.read.parquet(txn.segment_path(tbl, f"fps_v{e}")).count() == expect


def test_segment_gc_keeps_referenced_drops_orphans(tmp_path):
    """cleanup_unpublished must keep every segment referenced by a
    retained version's manifest and drop the rest (crash orphans,
    aged-out segments)."""
    root = str(tmp_path)
    d = txn.segment_path(root, "s_live")
    os.makedirs(d)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write("x")
    os.makedirs(os.path.join(root, "data_v0"))
    txn.write_manifest(root, "data_v0", {"": {"base": None, "segments": ["s_live"]}})
    txn.publish_version(root, "data_v0")
    # crash relic: a segment written by an epoch that never published
    orphan = txn.segment_path(root, "s_orphan")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as f:
        f.write("x")
    removed = txn.cleanup_unpublished(root)
    assert os.path.isdir(txn.segment_path(root, "s_live"))
    assert not os.path.isdir(txn.segment_path(root, "s_orphan"))
    assert os.path.join(txn.SEGMENTS_DIR, "s_orphan") in removed


def test_upsert_schema_evolution_on_resume(spark, tmp_path):
    """Delta mergeSchema analog: a resumed run whose batches add a new
    column must append it, with pre-evolution rows surfacing NULL —
    and latest-per-key semantics intact across the schema change."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema_v1 = "user_id long, ts long, event_id long, val string"
    for e in range(2):
        rows = [(k, (e + 1) * 100, k, f"e{e}") for k in range(50)]
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema_v1, t0 + e)
    tbl = str(tmp_path / "tbl")
    stream = (
        spark.readStream.schema(schema_v1).option("maxFilesPerTrigger", 1).parquet(src)
    )
    streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts", "event_id"],
        target_dir=tbl, compact_every=100,
    )
    # evolution: only HALF the keys get a newer row with the new column
    schema_v2 = "user_id long, ts long, event_id long, val string, score long"
    _drop_file(
        spark, tmp_path, src, "f2",
        [(k, 300, k, "e2", k * 10) for k in range(25)], schema_v2, t0 + 2,
    )
    stream2 = (
        spark.readStream.schema(schema_v2).option("maxFilesPerTrigger", 1).parquet(src)
    )
    final = streaming.foreach_batch_upsert_run(
        spark, stream2, keys=["user_id"], order_desc=["ts", "event_id"],
        target_dir=tbl, reset=False, compact_every=100,
    )
    rows = {r.user_id: (r.ts, r.val, r.score) for r in final.collect()}
    assert len(rows) == 50
    for k in range(25):
        assert rows[k] == (300, "e2", k * 10)
    for k in range(25, 50):
        assert rows[k] == (200, "e1", None)  # pre-evolution rows: NULL


def test_upsert_schema_evolution_survives_compaction(spark, tmp_path):
    """Compaction reads segments with mergeSchema too: after the log
    collapses, evolved columns and NULL backfill must be unchanged."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema_v1 = "user_id long, ts long, event_id long, val string"
    _drop_file(
        spark, tmp_path, src, "f0",
        [(k, 100, k, "e0") for k in range(50)], schema_v1, t0,
    )
    tbl = str(tmp_path / "tbl")
    stream = (
        spark.readStream.schema(schema_v1).option("maxFilesPerTrigger", 1).parquet(src)
    )
    streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts", "event_id"],
        target_dir=tbl, compact_every=100,
    )
    schema_v2 = "user_id long, ts long, event_id long, val string, score long"
    for e in (1, 2):
        _drop_file(
            spark, tmp_path, src, f"f{e}",
            [(k, (e + 1) * 100, k, f"e{e}", k) for k in range(25)],
            schema_v2, t0 + e,
        )
    stream2 = (
        spark.readStream.schema(schema_v2).option("maxFilesPerTrigger", 1).parquet(src)
    )
    final = streaming.foreach_batch_upsert_run(
        spark, stream2, keys=["user_id"], order_desc=["ts", "event_id"],
        target_dir=tbl, reset=False, compact_every=1,  # force compaction
    )
    rows = {r.user_id: (r.ts, r.val, r.score) for r in final.collect()}
    assert rows[0] == (300, "e2", 0)
    assert rows[49] == (100, "e0", None)
    cur = txn.current_version_dir(tbl)
    live = txn.read_manifest(tbl, os.path.basename(cur))[""]["segments"]
    assert len(live) <= 2, live  # compaction actually ran


def test_change_feed_reads_only_added_deltas(spark, tmp_path):
    """change_feed(from, to) returns exactly the rows upserted in the
    intervening epochs, read from the added delta segments only; a
    compaction epoch contributes NOTHING (rewrites are not changes);
    vacuumed versions raise instead of returning a silently-partial
    feed."""
    import pytest

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, val string"
    for e in range(4):
        rows = [(k, (e + 1) * 100, f"e{e}") for k in range(N_KEYS)]
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl, compact_every=100, keep_last=10,
    )
    # feed from v0 to v2: exactly epochs 1 and 2, with their epochs
    feed = txn.change_feed(spark, tbl, 0, 2)
    got = [(r.user_id, r.ts, r.val) for r in feed.collect()]
    assert len(got) == 2 * N_KEYS
    assert {r[2] for r in got} == {"e1", "e2"}
    epochs = {r[0] for r in feed.select(F.col("__sg_seq")).collect()}
    assert epochs == {1, 2}
    # adjacent identical versions → empty feed with the same schema
    same = txn.change_feed(spark, tbl, 3, 3)
    assert same.count() == 0 and set(same.columns) == set(feed.columns)

    # now a run whose LAST epoch compacts: the compaction segment must
    # not surface as changes
    src2 = str(tmp_path / "src2")
    os.makedirs(src2)
    for e in range(3):
        rows = [(k, (e + 1) * 100, f"e{e}") for k in range(50)]
        _drop_file(spark, tmp_path, src2, f"g{e}", rows, schema, t0 + e)
    tbl2 = str(tmp_path / "tbl2")
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src2)
    )
    streaming.foreach_batch_upsert_run(
        spark, stream2, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl2, compact_every=2, keep_last=10,
    )
    names = {os.path.basename(txn.version_dir(tbl2, v)) for v in txn.list_versions(tbl2)}
    assert len(names) >= 3
    # from the pre-compaction version to current: only the post-
    # compaction DELTAS appear (epoch 2's rows), not the rewrite
    feed2 = txn.change_feed(spark, tbl2, 1, 2)
    vals = {r.val for r in feed2.collect()}
    assert vals == {"e2"}, vals
    # vacuumed history raises
    with pytest.raises(KeyError, match="not retained"):
        txn.change_feed(spark, tbl2, 99)


def test_incremental_agg_maintain_matches_full_reaggregation(spark, tmp_path):
    """End-to-end IVM: maintain a per-group sum/count view through two
    change-feed windows of the upsert sink; after each window the
    maintained state must EQUAL a from-scratch aggregation of the
    corresponding snapshot."""
    from cultural_heritage_bigdata_project_spark.operators import merge

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, grp string, amount double"
    # epochs 0-1: initial rows; epochs 2-3: updates that MOVE keys
    # between groups and change amounts (the retract-sensitive case)
    rows_by_epoch = [
        [(k, 100, f"g{k % 3}", float(k)) for k in range(60)],
        [(k, 200, f"g{k % 3}", float(k) + 0.5) for k in range(60, 90)],
        [(k, 300, f"g{(k + 1) % 3}", float(k) * 2) for k in range(0, 30)],
        [(k, 400, f"g{k % 3}", 1.0) for k in range(85, 110)],
    ]
    for e, rows in enumerate(rows_by_epoch):
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl, compact_every=100, keep_last=10,
    )

    def full_agg(snapshot):
        return {
            r.grp: (round(r.amount, 6), r.n_rows)
            for r in snapshot.groupBy("grp")
            .agg(F.sum("amount").alias("amount"), F.count(F.lit(1)).alias("n_rows"))
            .collect()
        }

    def as_dict(state):
        return {r.grp: (round(r.amount, 6), r.n_rows) for r in state.collect()}

    # cold start through epoch 1
    feed01 = txn.change_feed(spark, tbl, 0, 1).unionByName(
        spark.read.option("mergeSchema", "true").parquet(
            txn.segment_path(tbl, "upsert_v0")
        )
    )
    state1 = merge.incremental_agg_maintain(
        None, feed01, None, keys=["user_id"],
        group_cols=["grp"], sum_cols=["amount"],
    ).localCheckpoint(eager=True)
    assert as_dict(state1) == full_agg(txn.read_version(spark, tbl, 1))

    # maintain through epochs 2-3 with retraction against snapshot v1
    feed23 = txn.change_feed(spark, tbl, 1, 3)
    state3 = merge.incremental_agg_maintain(
        state1, feed23, txn.read_version(spark, tbl, 1),
        keys=["user_id"], group_cols=["grp"], sum_cols=["amount"],
    )
    assert as_dict(state3) == full_agg(txn.read_version(spark, tbl, 3))


def test_tombstone_deletes_and_resurrection(spark, tmp_path):
    """Tombstone deletes through the segmented sink: a winning delete
    removes the key from reads (O(1-row), no rewrite); a newer upsert
    resurrects it; the deletion survives compaction; the change feed
    exposes the tombstone; IVM retracts deleted keys exactly."""
    from cultural_heritage_bigdata_project_spark.operators import merge

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, grp string, amount double, is_deleted boolean"
    rows_by_epoch = [
        [(k, 100, f"g{k % 2}", float(k), False) for k in range(40)],
        # epoch 1: delete keys 0-9, update 10-19
        [(k, 200, f"g{k % 2}", 0.0, True) for k in range(10)]
        + [(k, 200, f"g{k % 2}", 1000.0 + k, False) for k in range(10, 20)],
        # epoch 2: resurrect keys 0-4
        [(k, 300, f"g{k % 2}", 7.0, False) for k in range(5)],
    ]
    for e, rows in enumerate(rows_by_epoch):
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    final = streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl, compact_every=100, keep_last=10,
        delete_col="is_deleted",
    )
    got = {r.user_id: (r.ts, r.amount) for r in final.collect()}
    # keys 5-9 deleted and never resurrected -> absent
    assert all(k not in got for k in range(5, 10))
    # keys 0-4 resurrected at ts=300
    assert all(got[k] == (300, 7.0) for k in range(5))
    # keys 10-19 updated, 20-39 untouched
    assert all(got[k] == (200, 1000.0 + k) for k in range(10, 20))
    assert all(got[k] == (100, float(k)) for k in range(20, 40))

    # change feed for epoch 1 exposes the tombstones
    feed1 = txn.change_feed(spark, tbl, 0, 1)
    dels = {r.user_id for r in feed1.filter("is_deleted").collect()}
    assert dels == set(range(10))

    # IVM with deletes == full re-aggregation at every epoch boundary
    def full_agg(snapshot):
        return {
            r.grp: (round(r.amount, 6), r.n_rows)
            for r in snapshot.groupBy("grp")
            .agg(F.sum("amount").alias("amount"), F.count(F.lit(1)).alias("n_rows"))
            .collect()
        }

    state0 = merge.incremental_agg_maintain(
        None,
        spark.read.parquet(txn.segment_path(tbl, "upsert_v0")),
        None, keys=["user_id"], group_cols=["grp"], sum_cols=["amount"],
        delete_col="is_deleted",
    ).localCheckpoint(eager=True)
    assert {r.grp: (round(r.amount, 6), r.n_rows) for r in state0.collect()} == \
        full_agg(txn.read_version(spark, tbl, 0))
    state2 = merge.incremental_agg_maintain(
        state0, txn.change_feed(spark, tbl, 0, 2),
        txn.read_version(spark, tbl, 0),
        keys=["user_id"], group_cols=["grp"], sum_cols=["amount"],
        delete_col="is_deleted",
    )
    assert {r.grp: (round(r.amount, 6), r.n_rows) for r in state2.collect()} == \
        full_agg(txn.read_version(spark, tbl, 2))


def test_tombstones_survive_compaction(spark, tmp_path):
    """A compaction epoch must not forget deletions: the compacted
    segment carries winning tombstones as physical rows, reads still
    exclude them."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, val string, is_deleted boolean"
    seqs = [
        [(k, 100, "a", False) for k in range(30)],
        [(k, 200, "x", True) for k in range(10)],  # delete 0-9
        [(k, 300, "b", False) for k in range(20, 25)],  # trigger compaction
    ]
    for e, rows in enumerate(seqs):
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    final = streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl, compact_every=2, keep_last=10,
        delete_col="is_deleted",
    )
    got = {r.user_id for r in final.collect()}
    assert got == set(range(10, 30))
    # the live read list is compacted, and re-reading the published
    # version (merge-on-read over the compacted segment) still excludes
    # the deleted keys
    cur = txn.current_version_dir(tbl)
    comp = txn.read_manifest(tbl, os.path.basename(cur))[""]["segments"]
    assert len(comp) <= 2
    again = {r.user_id for r in txn.read_version(spark, tbl).collect()}
    assert again == set(range(10, 30))


def test_change_feed_over_scd2_history(spark, tmp_path):
    """On an SCD2 table, the change feed between versions surfaces
    exactly the rows CLOSED in the window (the append-only history
    deltas; the rewritten current generation is state, not changes)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts_us long, val string"
    seqs = [
        [(k, 100, "a") for k in range(30)],
        [(k, 200, "b") for k in range(10)],      # change 0-9 -> closes 10 rows
        [(k, 300, "c") for k in range(5, 15)],   # change 5-14 -> closes 10 rows
    ]
    for e, rows in enumerate(seqs):
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    streaming.foreach_batch_scd2_run(
        spark, stream, keys=["user_id"], change_cols=["val"],
        target_dir=tbl, keep_last=10,
    )
    feed12 = txn.change_feed(spark, tbl, 1, 2)
    closed = [(r.user_id, r.val) for r in feed12.collect()]
    # epoch 2 closed the then-current rows of keys 5-14: 'b' for 5-9
    # (changed in epoch 1), 'a' for 10-14 (unchanged since epoch 0)
    assert sorted(closed) == sorted(
        [(k, "b") for k in range(5, 10)] + [(k, "a") for k in range(10, 15)]
    )
    # every fed row is a CLOSED interval (valid_to set)
    assert feed12.filter("valid_to IS NULL").count() == 0


def test_expire_tombstones_reclaims_and_preserves_reads(spark, tmp_path):
    """Tombstone expiry: reclaims exactly the expired tombstone rows,
    reads are unchanged, the expiry version is invisible to change
    feeds, and a too-early horizon keeps live tombstones."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, val string, is_deleted boolean"
    seqs = [
        [(k, 100, "a", False) for k in range(30)],
        [(k, 200, "x", True) for k in range(10)],   # delete 0-9 at epoch 1
        [(k, 300, "b", False) for k in range(3)],   # resurrect 0-2
    ]
    for e, rows in enumerate(seqs):
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    before = streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl, compact_every=100, keep_last=10,
        delete_col="is_deleted",
    )
    rows_before = {(r.user_id, r.val) for r in before.collect()}
    # keys 3-9 hold winning tombstones (epoch 1); 0-2 were resurrected
    # horizon epoch 1: tombstones AT epoch 1 are not yet expired
    assert txn.expire_tombstones(spark, tbl, min_epoch_to_keep=1) == 0
    # horizon epoch 2: epoch-1 tombstones (keys 3-9) reclaim
    n = txn.expire_tombstones(spark, tbl, min_epoch_to_keep=2)
    assert n == 7, n
    after = {(r.user_id, r.val) for r in txn.read_version(spark, tbl).collect()}
    assert after == rows_before
    # the physical state no longer holds any expired tombstone row
    cur = txn.current_version_dir(tbl)
    comp = txn.read_manifest(tbl, os.path.basename(cur))[""]
    live = spark.read.parquet(
        *[txn.segment_path(tbl, s) for s in comp["segments"]]
    )
    assert live.filter("is_deleted").count() == 0
    # feeds still resolve: current is a maintenance version, so the
    # feed walks up to the newest NUMERIC commit and raises nowhere
    feed = txn.change_feed(spark, tbl, 0)
    assert feed.count() > 0


def test_sink_compaction_marks_collapsed_and_read_skips_window(spark, tmp_path):
    """The sink's periodic compaction epoch must publish its manifest
    with collapsed=true so consumers read the table WITHOUT the
    merge-on-read key shuffle; an appended delta epoch must clear the
    flag again. Deletes/updates stay exact through both states."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, val string, is_deleted boolean"
    rows_by_epoch = [
        [(k, 100, "a", False) for k in range(40)],
        [(k, 200, "b", k < 5) for k in range(20)],   # delete 0-4, update 5-19
        [(k, 300, "c", False) for k in range(10, 30)],
    ]
    for e, rows in enumerate(rows_by_epoch):
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    # compact_every=2: epoch 2 appends the 3rd segment and compacts
    final = streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl, compact_every=2, keep_last=10, delete_col="is_deleted",
    )
    cur = os.path.basename(txn.current_version_dir(tbl))
    comp = txn.read_manifest(tbl, cur)[""]
    assert comp["collapsed"] is True
    assert len(comp["segments"]) == 1

    jvm = spark._jvm
    plan = (
        txn.read_version(spark, tbl)
        ._jdf.queryExecution()
        .explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )
    assert "Exchange" not in plan, plan[:2000]
    got = {r.user_id: (r.ts, r.val) for r in final.collect()}
    assert all(k not in got for k in range(5))          # deleted
    assert all(got[k] == (300, "c") for k in range(10, 30))
    assert all(got[k] == (200, "b") for k in range(5, 10))
    assert all(got[k] == (100, "a") for k in range(30, 40))

    # a post-compaction delta epoch clears the flag (reads window again)
    _drop_file(
        spark, tmp_path, src, "f3",
        [(0, 400, "z", False)], schema, t0 + 3,
    )
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    final2 = streaming.foreach_batch_upsert_run(
        spark, stream2, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl, reset=False, compact_every=2, keep_last=10,
        delete_col="is_deleted",
    )
    cur2 = os.path.basename(txn.current_version_dir(tbl))
    comp2 = txn.read_manifest(tbl, cur2)[""]
    assert comp2["collapsed"] is False
    assert len(comp2["segments"]) == 2
    got2 = {r.user_id: (r.ts, r.val) for r in final2.collect()}
    assert got2[0] == (400, "z")                        # resurrected
    assert all(k not in got2 for k in range(1, 5))

    # on-demand maintenance re-collapses without changing the data
    txn.compact_component(spark, tbl)
    got3 = {
        r.user_id: (r.ts, r.val) for r in txn.read_version(spark, tbl).collect()
    }
    assert got3 == got2
    cur3 = os.path.basename(txn.current_version_dir(tbl))
    assert txn.read_manifest(tbl, cur3)[""]["collapsed"] is True
    # the rewrite is not a change: the feed over epochs 1-3 is unchanged
    feed = txn.change_feed(spark, tbl, 0, 3)
    assert feed.filter("is_deleted").count() == 5


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _latest(rows, delete: bool) -> set:
    """Reference fold: newest ``ts`` per key (first seen wins a tie),
    tombstoned winners dropped when ``delete``."""
    best = {}
    for r in rows:
        if r[0] not in best or r[1] > best[r[0]][1]:
            best[r[0]] = r
    return {r for r in best.values() if not (delete and r[3])}


def test_first_commit_is_collapsed_and_reads_without_window(spark, tmp_path):
    """A first commit's read list is its own delta, already one row per
    key, so its manifest says collapsed: the read has no Window and no
    Exchange, returns the folded rows (tombstones filtered), and the
    metadata count is exact without a delete flag and None with one. A
    second commit appends a delta and is not collapsed."""
    schema = "user_id long, ts long, val string, is_deleted boolean"
    first = [(k, 100 + k % 3, f"a{k}", k % 7 == 0) for k in range(30)]
    first += [(k, 50, "stale", False) for k in range(10)]  # in-batch duplicates
    second = [(k, 500, f"b{k}", False) for k in range(25, 35)]
    for delete_col in (None, "is_deleted"):
        tbl = str(tmp_path / f"t_{delete_col}")
        streaming.batch_upsert_commit(
            spark, spark.createDataFrame(first, schema), keys=["user_id"],
            order_desc=["ts"], target_dir=tbl, delete_col=delete_col,
        )
        comp = txn.read_manifest(tbl, os.path.basename(txn.current_version_dir(tbl)))[""]
        assert comp["collapsed"] is True and len(comp["segments"]) == 1
        df = txn.read_version(spark, tbl)
        plan = _executed_plan(df)
        assert "Window" not in plan and "Exchange" not in plan, plan[:2000]
        want = _latest(first, delete_col is not None)
        got = {tuple(r) for r in df.select("user_id", "ts", "val", "is_deleted").collect()}
        assert got == want
        n_meta = txn.version_row_count(tbl)
        assert n_meta == (len(want) if delete_col is None else None)

        streaming.batch_upsert_commit(
            spark, spark.createDataFrame(second, schema), keys=["user_id"],
            order_desc=["ts"], target_dir=tbl, delete_col=delete_col,
        )
        comp2 = txn.read_manifest(tbl, os.path.basename(txn.current_version_dir(tbl)))[""]
        assert comp2["collapsed"] is False and len(comp2["segments"]) == 2
        got2 = {
            tuple(r)
            for r in txn.read_version(spark, tbl)
            .select("user_id", "ts", "val", "is_deleted")
            .collect()
        }
        assert got2 == _latest(first + second, delete_col is not None)
        assert txn.version_row_count(tbl) is None


def test_sink_first_epoch_is_collapsed(spark, tmp_path):
    """The streaming sink's first epoch takes the same path as a first
    batch commit: collapsed, read without Window or Exchange."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "user_id long, ts long, val string, is_deleted boolean"
    rows = [(k, 100 + k % 4, f"v{k}", k % 5 == 0) for k in range(20)]
    rows += [(k, 10, "stale", False) for k in range(8)]
    _drop_file(spark, tmp_path, src, "f0", rows, schema, time.time() - 100)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    tbl = str(tmp_path / "tbl")
    streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts"], target_dir=tbl,
        delete_col="is_deleted",
    )
    comp = txn.read_manifest(tbl, os.path.basename(txn.current_version_dir(tbl)))[""]
    assert comp["collapsed"] is True
    df = txn.read_version(spark, tbl)
    plan = _executed_plan(df)
    assert "Window" not in plan and "Exchange" not in plan, plan[:2000]
    got = {tuple(r) for r in df.select("user_id", "ts", "val", "is_deleted").collect()}
    assert got == _latest(rows, True)
    assert txn.version_row_count(tbl) is None


def test_streaming_materialized_view_matches_full_reaggregation(spark, tmp_path):
    """The upsert sink's per-epoch IVM view (retract+apply over the
    epoch delta) must EQUAL a from-scratch aggregation of the table at
    every retained epoch — through inserts, group moves, deletes,
    resurrection, and a late arrival that must lose to its incumbent."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time() - 1000
    schema = "user_id long, ts long, grp string, amount double, is_deleted boolean"
    rows_by_epoch = [
        [(k, 100, f"g{k % 3}", float(k), False) for k in range(50)],
        # group moves + value changes for 0-19; delete 40-44 (tombstone
        # rows carry a bogus group — retraction must use the OLD row's)
        [(k, 200, f"g{(k + 1) % 3}", float(k) * 2, False) for k in range(20)]
        + [(k, 200, "gX", 0.0, True) for k in range(40, 45)],
        # resurrect 42-44, update 45-47, and a LATE arrival for key 0
        # (ts=150 < its ts=200 incumbent -> must not change the view)
        [(k, 300, "g0", 5.0, False) for k in range(42, 48)]
        + [(0, 150, "g2", 999.0, False)],
    ]
    for e, rows in enumerate(rows_by_epoch):
        _drop_file(spark, tmp_path, src, f"f{e}", rows, schema, t0 + e)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    tbl = str(tmp_path / "tbl")
    vdir = str(tmp_path / "view")
    streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts"],
        target_dir=tbl, compact_every=100, keep_last=10,
        delete_col="is_deleted",
        view_group_cols=["grp"], view_sum_cols=["amount"], view_dir=vdir,
    )

    def full_agg(snapshot):
        return {
            r.grp: (round(r.amount, 6), r.n_rows)
            for r in snapshot.groupBy("grp")
            .agg(F.sum("amount").alias("amount"), F.count(F.lit(1)).alias("n_rows"))
            .collect()
        }

    assert len(txn.list_versions(vdir)) == 3
    for e in range(3):
        view = {
            r.grp: (round(r.amount, 6), r.n_rows)
            for r in txn.read_version(spark, vdir, e).collect()
        }
        assert view == full_agg(txn.read_version(spark, tbl, e)), f"epoch {e}"
