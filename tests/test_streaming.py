"""Multi-batch streaming behavior: watermark progression, append-mode
window finalization, cross-batch last-write-wins upserts — the
batch-stream equivalence harness of SURVEY.md §7 Phase 4."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark import streaming
from cultural_heritage_bigdata_project_spark.sources.tables import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def split_events_dir(spark, tmp_path_factory):
    """events split into 4 time-ordered parquet files (one per quantile
    of ts), written in order so the file source replays them as
    successive micro-batches."""
    d = str(tmp_path_factory.mktemp("events_splits"))
    # keep the raw on-disk ts representation so the stream schema matches
    # the fixture's; both generations (INT64 nanos-as-long, TIMESTAMP
    # micros) have shipped. approxQuantile needs a numeric column, so
    # split bounds come from a derived long (unix_micros for the
    # timestamp generation) while the written files keep raw ts.
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if dict(raw.dtypes)["ts"] in ("bigint", "long"):
        num = F.col("ts")
    else:
        num = F.unix_micros(F.col("ts").cast("timestamp"))
    raw = raw.withColumn("_ts_num", num)
    bounds = raw.approxQuantile("_ts_num", [0.25, 0.5, 0.75], 0.0)
    lo = float("-inf")
    for i, hi in enumerate([*bounds, float("inf")]):
        part = raw.filter(
            (F.col("_ts_num") > lo) & (F.col("_ts_num") <= hi)
        ).drop("_ts_num")
        part.coalesce(1).write.mode("overwrite").parquet(f"{d}/part_{i}")
        # flatten: move the parquet file up so the dir is a flat file list
        pdir = f"{d}/part_{i}"
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        os.replace(f"{pdir}/{files[0]}", f"{d}/split_{i}.parquet")
        shutil.rmtree(pdir)
        time.sleep(1.1)  # distinct mtimes → deterministic batch order
        lo = hi
    return d


def test_multibatch_upsert_matches_batch_semantics(spark, split_events_dir):
    """4 micro-batches of upserts must converge to the same
    latest-event-per-user table a single batch query computes."""
    stream = streaming.events_stream(
        spark, split_events_dir, max_files_per_trigger=1
    ).select("user_id", "event_id", "ts", "event_type", "value")
    final = streaming.foreach_batch_upsert_run(
        spark, stream, keys=["user_id"], order_desc=["ts", "event_id"]
    )
    got = {
        r.user_id: (r.ts, r.event_id)
        for r in final.select("user_id", "ts", "event_id").collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expected = {
        r.user_id: (r.ts, r.event_id)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"), "event_id")
        .collect()
    }
    got_us = {k: (int(v[0].timestamp() * 1_000_000) if hasattr(v[0], "timestamp") else v[0], v[1]) for k, v in got.items()}
    assert set(got) == set(expected)
    for k in expected:
        assert got_us[k][1] == expected[k][1], (k, got_us[k], expected[k])


def test_multibatch_append_window_subset(spark, split_events_dir):
    """Append mode emits only watermark-finalized windows: the emitted
    set must be a subset of the complete batch result with identical
    values, and nonempty (watermark advanced across batches)."""
    stream = streaming.events_stream(spark, split_events_dir, max_files_per_trigger=1)
    agg = streaming.tumbling_window_agg(stream, "6 hours", "1 hour")
    emitted = streaming.run_to_memory(agg, output_mode="append").collect()
    batch = {
        (r.window_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in streaming.run_to_memory(
            streaming.tumbling_window_agg(
                streaming.events_stream(spark, split_events_dir), "6 hours", "1 hour"
            ),
            output_mode="complete",
        ).collect()
    }
    assert emitted, "watermark should finalize at least the early windows"
    assert len(emitted) < len(batch), "append must withhold un-finalized windows"
    for r in emitted:
        assert batch[(r.window_start_us, r.event_type)] == (r.n_events, r.sum_value)


def test_multibatch_dedup_no_duplicate_keys(spark, split_events_dir):
    stream = streaming.events_stream(spark, split_events_dir, max_files_per_trigger=1)
    out = streaming.run_to_memory(
        streaming.stream_dedup_keys(stream, ["user_id", "event_type"], "10 days"),
        output_mode="append",
    )
    rows = [(r.user_id, r.event_type) for r in out.collect()]
    assert len(rows) == len(set(rows)), "duplicate keys leaked across batches"
    ev = load_table(spark, SF_DIR, "events")
    expected = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert set(rows) == expected


def test_multibatch_stateful_totals_accumulate(spark, split_events_dir):
    """Group state must accumulate across micro-batches: the LAST emitted
    row per user equals the single-batch (= batch SQL) totals, and users
    spanning several batches emit several monotone updates."""
    stream = streaming.events_stream(spark, split_events_dir, max_files_per_trigger=1)
    out = streaming.run_to_memory(
        streaming.stateful_user_totals(stream), output_mode="update"
    )
    rows = out.collect()
    last = {}
    per_user_updates = {}
    for r in rows:
        per_user_updates[r.user_id] = per_user_updates.get(r.user_id, 0) + 1
        cur = last.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            last[r.user_id] = (r.n_events, r.value_micro)
    ev = load_table(spark, SF_DIR, "events")
    expected = {
        r.user_id: (r.n, r.vm)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)")).alias("vm"),
        )
        .collect()
    }
    assert last == expected
    assert max(per_user_updates.values()) > 1, "no user spanned multiple batches"


def test_checkpoint_recovery_processes_only_new_files(spark, split_events_dir, tmp_path):
    """T3 checkpoint recovery: a second run against the same checkpoint
    resumes from committed offsets — early files are not reprocessed,
    late-arriving files are, and the final table equals full-batch
    semantics."""
    import shutil as _sh

    src = str(tmp_path / "arriving")
    os.makedirs(src)
    splits = sorted(f for f in os.listdir(split_events_dir) if f.endswith(".parquet"))
    # phase 1: first two splits arrive
    for f in splits[:2]:
        _sh.copy(f"{split_events_dir}/{f}", f"{src}/{f}")
    tdir = str(tmp_path / "upsert_target")

    def run():
        stream = streaming.events_stream(spark, src).select(
            "user_id", "event_id", "ts", "event_type", "value"
        )
        return streaming.foreach_batch_upsert_run(
            spark, stream, keys=["user_id"], order_desc=["ts", "event_id"],
            target_dir=tdir, reset=False,
        )

    first = run()
    seen_first = first.agg(F.sum("event_id")).first()[0]
    # phase 2: the remaining splits arrive; resume from the checkpoint
    for f in splits[2:]:
        _sh.copy(f"{split_events_dir}/{f}", f"{src}/{f}")
    final = run()
    # the resumed run must ADVANCE the table (phase-2 data visible) ...
    assert final.agg(F.sum("event_id")).first()[0] != seen_first
    # ... and converge to exactly the batch latest-per-user semantics
    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expected = {
        (r.user_id, r.event_id)
        for r in ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    got = {(r.user_id, r.event_id) for r in final.select("user_id", "event_id").collect()}
    assert got == expected


def test_watermark_drops_late_data(spark, split_events_dir, tmp_path):
    """T6 late-data semantics: with a tight watermark, an out-of-order
    file arriving after the watermark advanced past its window is
    DROPPED from append output (the reference's HWM pattern silently
    re-ingests or loses such rows; here the semantics are explicit)."""
    import shutil as _sh

    src = str(tmp_path / "late_arrival")
    os.makedirs(src)
    splits = sorted(f for f in os.listdir(split_events_dir) if f.endswith(".parquet"))
    # arrival order: oldest file LAST → by then the watermark sits at
    # max(ts of later splits) - 1min, far past the old file's windows
    order = splits[1:] + [splits[0]]
    for i, f in enumerate(order):
        _sh.copy(f"{split_events_dir}/{f}", f"{src}/arr_{i}.parquet")
        time.sleep(1.1)
    stream = streaming.events_stream(spark, src, max_files_per_trigger=1)
    agg = streaming.tumbling_window_agg(stream, "6 hours", "1 minute")
    emitted = streaming.run_to_memory(agg, output_mode="append").collect()
    # counts for the earliest windows must MISS the late file's rows:
    # compare against the full-batch result
    full = {
        (r.window_start_us, r.event_type): r.n_events
        for r in streaming.run_to_memory(
            streaming.tumbling_window_agg(
                streaming.events_stream(spark, split_events_dir), "6 hours", "1 minute"
            ),
            output_mode="complete",
        ).collect()
    }
    early_cut = min(k[0] for k in full)  # earliest window = late file territory
    dropped_any = False
    for r in emitted:
        key = (r.window_start_us, r.event_type)
        if r.window_start_us <= early_cut + 4 * 21_600_000_000:
            if r.n_events < full.get(key, 0):
                dropped_any = True
    emitted_total = sum(r.n_events for r in emitted)
    full_total = sum(full.values())
    assert emitted_total < full_total, "late rows should be missing from append output"
    assert dropped_any or emitted_total < full_total


def test_streaming_corpus_dedup_cross_batch(spark, tmp_path):
    """Streaming corpus ingestion: exact and near duplicates are dropped
    whether their canonical arrived in the SAME micro-batch or an
    EARLIER one, and a reset=False resume processes only new files."""
    import shutil as _sh

    src = str(tmp_path / "drops")
    os.makedirs(src)
    tdir = str(tmp_path / "corpus")

    def mktext(seed: str, n: int = 50) -> str:
        return " ".join(f"{seed}tok{i}" for i in range(n))

    base = {i: mktext(f"d{i}x") for i in range(10)}
    batch1 = [(i, base[i]) for i in range(10)]
    near_dup_of_1 = base[1].rsplit(" ", 1)[0] + " changedword"
    batch2 = [
        (100, base[0]),          # exact dup of doc 0 (earlier batch)
        (101, near_dup_of_1),    # near dup of doc 1 (earlier batch)
        (102, mktext("fresh102")),
        (103, mktext("fresh103")),
        (104, mktext("fresh103")),  # exact dup WITHIN this batch of 103
    ]

    def drop_file(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / name))
        part = [
            f for f in os.listdir(tmp_path / name) if f.endswith(".parquet")
        ][0]
        _sh.copy(str(tmp_path / name / part), f"{src}/{name}.parquet")

    def run():
        stream = streaming.docs_stream(spark, src, max_files_per_trigger=1)
        return streaming.streaming_corpus_dedup_run(
            spark, stream, target_dir=tdir, reset=False
        )

    drop_file("b1", batch1)
    drop_file("b2", batch2)
    corpus = {r.doc_id for r in run().collect()}
    assert corpus == set(range(10)) | {102, 103}, corpus

    # resume: another drop with one more dup of doc 0 and one fresh doc
    drop_file("b3", [(200, base[0]), (201, mktext("fresh201"))])
    corpus2 = {r.doc_id for r in run().collect()}
    assert corpus2 == corpus | {201}, corpus2


def test_bucketed_sink_matches_unbucketed_and_reads_exchange_free(
    spark, split_events_dir, tmp_path
):
    """The key-bucketed sink (n_buckets) must produce exactly the
    same latest-per-key table as the unbucketed layout across 4
    micro-batches, while the final read — still UNCOMPACTED (4 live
    delta segments < compact_every) — plans zero Exchange. Also pins
    that the change feed over bucketed segments hides the internal
    bucket column."""
    from cultural_heritage_bigdata_project_spark.operators import txn

    def run(n_buckets, tdir):
        stream = streaming.events_stream(
            spark, split_events_dir, max_files_per_trigger=1
        ).select("user_id", "event_id", "ts", "event_type", "value")
        return streaming.foreach_batch_upsert_run(
            spark,
            stream,
            keys=["user_id"],
            order_desc=["ts", "event_id"],
            target_dir=tdir,
            compact_every=8,  # 4 epochs → never compacts
            keep_last=5,
            n_buckets=n_buckets,
        )

    plain = run(None, str(tmp_path / "plain"))
    broot = str(tmp_path / "bucketed")
    bucketed = run(8, broot)

    key = ["user_id", "event_id", "event_type", "value"]
    a = {tuple(r) for r in plain.select(*key).collect()}
    b = {tuple(r) for r in bucketed.select(*key).collect()}
    assert a == b and a
    assert txn.BUCKET_COL not in bucketed.columns

    # 4 live delta segments, nothing collapsed — and still no Exchange
    comp = txn.read_manifest(
        broot, os.path.basename(txn.current_version_dir(broot))
    )[""]
    assert len(comp["segments"]) == 4 and not comp.get("collapsed")
    jvm = spark._jvm
    plan = bucketed._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan, plan[:2000]

    # change feed across the bucketed epochs: every epoch's upserts,
    # no internal columns beyond the documented seq
    feed = txn.change_feed(spark, broot, 0)
    assert txn.BUCKET_COL not in feed.columns
    assert feed.count() > 0


def test_sink_inline_minor_compaction_bounds_read_list(spark, tmp_path):
    """minor_every=3 keeps the manifest read list at <=3 segments at
    every epoch between majors, and the final table equals a no-minor
    run over the same source (the prefix fold commutes with the global
    latest-per-key fold)."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from cultural_heritage_bigdata_project_spark.operators import txn

    src = str(tmp_path / "src")
    os.makedirs(src)
    for e in range(8):
        rows = [(i, e, f"v{e}_{i}") for i in range(e * 4, e * 4 + 12)]
        df = spark.createDataFrame(rows, "id long, v long, val string")
        df.coalesce(1).write.parquet(os.path.join(src, f"f{e}"))
        _time.sleep(0.05)
    schema = spark.read.parquet(os.path.join(src, "f0")).schema

    def run(tdir, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*"))
        )
        return streaming.foreach_batch_upsert_run(
            spark, stream, keys=["id"], order_desc=["v"],
            target_dir=tdir, reset=True, compact_every=100, **kw,
        )

    t_minor = str(tmp_path / "minor")
    t_plain = str(tmp_path / "plain")
    run(t_minor, minor_every=3)
    run(t_plain)
    comp = txn.read_manifest(
        t_minor, os.path.basename(txn.current_version_dir(t_minor))
    )[""]
    assert len(comp["segments"]) <= 3 and not comp.get("collapsed")
    assert comp["segments"][0].startswith("upsert_n")  # folded prefix
    assert set(comp["stats"]) == set(comp["segments"])
    got = sorted(
        (r.id, r.v, r.val)
        for r in txn.read_version(spark, t_minor).collect()
    )
    exp = sorted(
        (r.id, r.v, r.val)
        for r in txn.read_version(spark, t_plain).collect()
    )
    assert got == exp
    import pytest as _pytest

    with _pytest.raises(ValueError, match="minor_every"):
        run(str(tmp_path / "bad"), minor_every=1)


def test_batch_upsert_commit_merge_semantics(spark, tmp_path):
    """batch_upsert_commit is MERGE INTO for batch jobs: create-on-
    first-commit, last-write-wins per key across commits, tombstone
    delete, compaction roll, and the same metadata layers as the
    streaming sink."""
    from pyspark.sql import functions as F

    from cultural_heritage_bigdata_project_spark.operators import txn

    tdir = str(tmp_path / "t")
    b0 = spark.createDataFrame(
        [(1, 10, "a", False), (2, 10, "b", False), (3, 10, "c", False)],
        "id long, v long, val string, is_del boolean",
    )
    v0 = streaming.batch_upsert_commit(
        spark, b0, ["id"], ["v"], tdir, delete_col="is_del", keep_last=3
    )
    assert v0 == "data_v0"
    b1 = spark.createDataFrame(
        [(2, 20, "b2", False), (3, 20, None, True), (4, 20, "d", False)],
        "id long, v long, val string, is_del boolean",
    )
    streaming.batch_upsert_commit(
        spark, b1, ["id"], ["v"], tdir, delete_col="is_del", keep_last=3
    )
    got = {r.id: r.val for r in txn.read_version(spark, tdir).collect()}
    assert got == {1: "a", 2: "b2", 4: "d"}  # 3 tombstoned
    # older value loses even when committed later (order_desc, not
    # commit order, decides)
    b2 = spark.createDataFrame(
        [(2, 5, "stale", False)], "id long, v long, val string, is_del boolean"
    )
    streaming.batch_upsert_commit(
        spark, b2, ["id"], ["v"], tdir, delete_col="is_del", keep_last=3
    )
    got = {r.id: r.val for r in txn.read_version(spark, tdir).collect()}
    assert got[2] == "b2"
    info = txn.table_info(tdir)[ "components"][""]
    assert info["has_stats"] and info["rows_recorded"]
    # change feed sees each batch epoch
    feed = txn.change_feed(spark, tdir, 0, 2)  # from-epoch exclusive
    assert feed.count() == 4  # epoch1: 3 rows, epoch2: 1 row


def test_upsert_writers_refuse_plain_parquet_current(spark, tmp_path):
    """A CURRENT published as plain parquet (no segment manifest) makes
    both the batch MERGE and the streaming sink raise: a new version
    holding only the batch would silently drop every prior row."""
    from cultural_heritage_bigdata_project_spark.operators import txn

    tdir = str(tmp_path / "t")
    prior = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "id long, v long, val string"
    )
    prior.write.parquet(os.path.join(tdir, "data_v0"))
    txn.publish_version(tdir, "data_v0")
    batch = spark.createDataFrame([(3, 20, "c")], "id long, v long, val string")

    with pytest.raises(ValueError, match="plain parquet"):
        streaming.batch_upsert_commit(spark, batch, ["id"], ["v"], tdir)

    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(os.path.join(src, "f0"))
    stream = spark.readStream.schema(batch.schema).parquet(os.path.join(src, "*"))
    with pytest.raises(Exception, match="plain parquet"):
        streaming.foreach_batch_upsert_run(
            spark, stream, keys=["id"], order_desc=["v"], target_dir=tdir,
            reset=False,
        )

    assert os.path.basename(txn.current_version_dir(tdir)) == "data_v0"
    assert sorted(r.id for r in txn.read_version(spark, tdir).collect()) == [1, 2]


def test_batch_upsert_interleaves_with_streaming_sink(spark, tmp_path):
    """A batch backfill and the streaming sink commit into ONE table:
    the batch epoch lands above the sink's epochs, the sink resumes on
    top of the batch commit, and the fold stays exact."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from cultural_heritage_bigdata_project_spark.operators import txn

    src = str(tmp_path / "src")
    os.makedirs(src)
    for e in range(2):
        df = spark.createDataFrame(
            [(i, e, f"s{e}_{i}") for i in range(10)],
            "id long, v long, val string",
        )
        df.coalesce(1).write.parquet(os.path.join(src, f"f{e}"))
        _time.sleep(0.05)
    schema = spark.read.parquet(os.path.join(src, "f0")).schema

    def run_sink(reset):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "*"))
        )
        return streaming.foreach_batch_upsert_run(
            spark, stream, keys=["id"], order_desc=["v"],
            target_dir=str(tmp_path / "t"), reset=reset, compact_every=100,
        )

    run_sink(reset=True)  # sink epochs 0,1
    backfill = spark.createDataFrame(
        [(100 + i, 50, f"bf_{i}") for i in range(5)] + [(0, 50, "bf_win")],
        "id long, v long, val string",
    )
    streaming.batch_upsert_commit(
        spark, backfill, ["id"], ["v"], str(tmp_path / "t")
    )
    # sink resumes with a new file on top of the batch commit
    df = spark.createDataFrame(
        [(100, 60, "post")], "id long, v long, val string"
    )
    _time.sleep(0.05)
    df.coalesce(1).write.parquet(os.path.join(src, "f2"))
    run_sink(reset=False)
    got = {r.id: r.val for r in txn.read_version(
        spark, str(tmp_path / "t")).collect()}
    assert got[0] == "bf_win"      # backfill beat sink epoch values
    assert got[100] == "post"      # post-backfill sink epoch wins
    assert got[104] == "bf_4" and got[5] == "s1_5"


def test_batch_upsert_concurrent_writers_no_lost_updates(spark, tmp_path):
    """4 threads x 2 batch commits each, disjoint key ranges, all
    racing on one table: CAS + rebase must serialize them — every
    committed key present afterwards, no lost updates, epochs strictly
    monotone."""
    import threading

    from cultural_heritage_bigdata_project_spark.operators import txn

    tdir = str(tmp_path / "t")
    errors: list[BaseException] = []

    def worker(w: int) -> None:
        try:
            for c in range(2):
                lo = (w * 2 + c) * 50
                df = spark.createDataFrame(
                    [(lo + i, 1, f"w{w}c{c}") for i in range(50)],
                    "id long, v long, val string",
                )
                streaming.batch_upsert_commit(
                    spark, df, ["id"], ["v"], tdir,
                    max_attempts=200, compact_every=100,
                )
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    got = {r.id for r in txn.read_version(spark, tdir).collect()}
    assert got == set(range(400)), f"lost {set(range(400)) - got}"
    comp = txn.read_manifest(
        tdir, os.path.basename(txn.current_version_dir(tdir))
    )[""]
    assert len(comp["segments"]) == 8  # every commit's delta survives


def test_sink_cas_survives_concurrent_batch_commit(spark, tmp_path, monkeypatch):
    """Inject a batch_upsert_commit between a sink epoch's manifest
    read and its publish: the old unconditional publish silently
    dropped the batch's segment from the read list (lost update); the
    CAS sink must rebase and keep BOTH writers' rows."""
    import os
    import time as _time

    from cultural_heritage_bigdata_project_spark.operators import txn

    src = str(tmp_path / "src")
    os.makedirs(src)
    for e in range(2):
        df = spark.createDataFrame(
            [(i, e + 1, f"s{e}_{i}") for i in range(10)],
            "id long, v long, val string",
        )
        df.coalesce(1).write.parquet(os.path.join(src, f"f{e}"))
        _time.sleep(0.05)
    schema = spark.read.parquet(os.path.join(src, "f0")).schema
    tdir = str(tmp_path / "t")

    real_publish = txn.try_publish_version
    fired = {"n": 0}

    def racing_publish(root, *args, **kwargs):
        # fire once, on the SINK's second-epoch publish, injecting a
        # fully-committed batch merge in its read-to-publish window
        if fired["n"] == 0 and root == tdir and txn.current_version_dir(tdir):
            fired["n"] += 1
            monkeypatch.setattr(txn, "try_publish_version", real_publish)
            streaming.batch_upsert_commit(
                spark,
                spark.createDataFrame(
                    [(100, 99, "batch_row"), (0, 99, "batch_win")],
                    "id long, v long, val string",
                ),
                ["id"], ["v"], tdir,
            )
            monkeypatch.setattr(txn, "try_publish_version", racing_publish)
        return real_publish(root, *args, **kwargs)

    monkeypatch.setattr(txn, "try_publish_version", racing_publish)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    streaming.foreach_batch_upsert_run(
        spark, stream, keys=["id"], order_desc=["v"],
        target_dir=tdir, reset=True, compact_every=100,
        grace_seconds=3600.0,
    )
    assert fired["n"] == 1, "the injected race never fired"
    got = {r.id: r.val for r in txn.read_version(spark, tdir).collect()}
    assert got[100] == "batch_row"  # batch commit survived the race
    assert got[0] == "batch_win"    # v=99 beats both sink epochs
    assert got[5] == "s1_5"         # sink epochs intact


def test_batch_upsert_schema_evolution(spark, tmp_path):
    """A later batch commit carrying a NEW column unions cleanly: old
    rows surface it as NULL (mergeSchema, the Delta automatic-evolution
    analog), consistent with the streaming sink's behavior."""
    from pyspark.sql import functions as F

    from cultural_heritage_bigdata_project_spark.operators import txn

    tdir = str(tmp_path / "t")
    streaming.batch_upsert_commit(
        spark,
        spark.createDataFrame([(1, 1, "a")], "id long, v long, val string"),
        ["id"], ["v"], tdir,
    )
    streaming.batch_upsert_commit(
        spark,
        spark.createDataFrame(
            [(2, 2, "b", "extra")], "id long, v long, val string, note string"
        ),
        ["id"], ["v"], tdir,
    )
    rows = {r.id: (r.val, r.note) for r in txn.read_version(spark, tdir).collect()}
    assert rows == {1: ("a", None), 2: ("b", "extra")}


def test_streaming_text_index_cross_batch_and_resume(spark, tmp_path):
    """Streaming maintenance of the persisted inverted text index
    (round-8 VERDICT item 2): after N micro-batches the index-served
    BM25 equals the corpus-scan BM25 over everything ingested; a
    checkpoint resume processes ONLY new files (no double-count —
    n_docs stays exact); the in-stream compaction keeps serving
    correct; and a replayed epoch is skipped via the manifest's
    stream_epoch claim."""
    import shutil as _sh

    from cultural_heritage_bigdata_project_spark.operators import text, text_index, txn

    src = str(tmp_path / "drops")
    os.makedirs(src)
    root = str(tmp_path / "tix")

    def mktext(seed: str, n: int = 20) -> str:
        return " ".join(f"{seed}tok{i % 7}" for i in range(n)) + " merge window"

    def drop_file(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / name))
        part = [
            f for f in os.listdir(tmp_path / name) if f.endswith(".parquet")
        ][0]
        _sh.copy(str(tmp_path / name / part), f"{src}/{name}.parquet")

    def run():
        stream = streaming.docs_stream(spark, src, max_files_per_trigger=1)
        streaming.streaming_text_index_run(
            spark, stream, root, n_buckets=8, compact_every=2
        )

    b1 = [(i, mktext(f"a{i}")) for i in range(5)]
    b2 = [(10 + i, mktext(f"b{i}")) for i in range(5)]
    # b2 also UPDATES doc 1 (doc-supersede across batches)
    b2.append((1, "merge merge window only now"))
    drop_file("b1", b1)
    drop_file("b2", b2)
    run()

    state = spark.createDataFrame(
        [r for r in b1 if r[0] != 1] + b2, "doc_id long, text string"
    )
    terms = ["merge", "window", "a1tok0"]
    got = [
        (r["doc_id"], r["bm25"])
        for r in text_index.text_index_search(spark, root, terms, top_k=10).collect()
    ]
    want = [
        (r["doc_id"], r["bm25"])
        for r in text.bm25_search(state, terms, top_k=10).collect()
    ]
    assert got == want
    tix = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert tix["n_docs"] == state.count()
    assert tix["stream_epoch"] == 1
    # compact_every=2 fired after epoch 1: delta tail folded
    assert tix["delta_segments"] == [] and tix["dl_delta_segments"] == []

    # resume with only new files: exactly one more epoch, still exact
    b3 = [(20 + i, mktext(f"c{i}")) for i in range(3)]
    drop_file("b3", b3)
    run()
    state2 = state.unionByName(
        spark.createDataFrame(b3, "doc_id long, text string")
    )
    got2 = [
        (r["doc_id"], r["bm25"])
        for r in text_index.text_index_search(spark, root, terms, top_k=10).collect()
    ]
    want2 = [
        (r["doc_id"], r["bm25"])
        for r in text.bm25_search(state2, terms, top_k=10).collect()
    ]
    assert got2 == want2
    tix2 = txn.read_manifest(
        root, os.path.basename(txn.current_version_dir(root))
    )[text_index.POSTINGS_COMPONENT]["tix"]
    assert tix2["n_docs"] == state2.count()
    assert tix2["stream_epoch"] == 2

    # replayed epoch (crash between index commit and checkpoint write):
    # the manifest claim makes it a no-op — no version committed
    n_versions = len(txn.list_versions(root))
    stream = streaming.docs_stream(spark, src, max_files_per_trigger=1)
    streaming.streaming_text_index_run(spark, stream, root)  # no new files
    assert len(txn.list_versions(root)) == n_versions
