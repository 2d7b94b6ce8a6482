"""Optimistic-concurrency commits (operators/txn.py CAS surface).

The reference delegates multi-writer isolation to Postgres transactions
(curated_to_postgres.py staging swap) and would delegate it to Delta on
a lake; the engine's versioned-pointer layout previously documented the
gap ("concurrent-writer isolation remains the table format's job").
`try_publish_version` / `commit_with_retry` close it natively: a CAS on
the CURRENT pointer through a ConditionalPutStore (locally, a check-
then-rename under the table's pointer flock) — the single-node analog
of the conditional-put object-store commit Delta uses on S3.

The money test races N threads x K read-modify-write commits on one
table and asserts NO lost update: the committed value equals N*K, which
last-writer-wins `publish_version` cannot guarantee.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from cultural_heritage_bigdata_project_spark.operators import txn


def _write_value(dirname: str, value: int) -> None:
    with open(os.path.join(dirname, "value.json"), "w", encoding="utf-8") as f:
        json.dump({"value": value}, f)


def _read_value(dirname: str | None) -> int:
    if dirname is None:
        return 0
    with open(os.path.join(dirname, "value.json"), encoding="utf-8") as f:
        return json.load(f)["value"]


def test_try_publish_happy_path_and_conflict(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "data_v0"))
    _write_value(os.path.join(root, "data_v0"), 1)
    txn.try_publish_version(root, "data_v0", expected_current=None)
    assert txn.current_version_dir(root).endswith("data_v0")

    # stale expectation (None, but v0 is now current) must conflict
    os.makedirs(os.path.join(root, "data_v1"))
    _write_value(os.path.join(root, "data_v1"), 2)
    with pytest.raises(txn.CommitConflict) as ei:
        txn.try_publish_version(root, "data_v1", expected_current=None)
    assert ei.value.expected is None and ei.value.actual == "data_v0"
    # correct expectation succeeds
    txn.try_publish_version(root, "data_v1", expected_current="data_v0")
    assert txn.current_version_dir(root).endswith("data_v1")


def test_commit_with_retry_no_lost_updates(tmp_path):
    """8 writers x 6 increments each, all racing: OCC must serialize
    them into exactly 48 applied increments."""
    root = str(tmp_path / "counter")
    n_threads, n_commits = 8, 6
    errors: list[BaseException] = []

    def build(current_dir, new_dir):
        _write_value(new_dir, _read_value(current_dir) + 1)

    def worker():
        try:
            for _ in range(n_commits):
                # generous attempt budget: on a CONTENDED box (parallel
                # Spark jobs saturating all cores) a writer can lose
                # far more than 200 consecutive flock races; the test's
                # invariant is the exact final count, not attempt cost
                txn.commit_with_retry(root, build, max_attempts=2000)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert _read_value(txn.current_version_dir(root)) == n_threads * n_commits


def test_commit_with_retry_versions_chain_from_predecessor(tmp_path):
    """Each committed version must be derived from its immediate
    predecessor (build re-runs after a conflict, never publishes work
    based on a stale read)."""
    root = str(tmp_path / "chain")
    seen_bases: list[int] = []

    def build(current_dir, new_dir):
        base = _read_value(current_dir)
        seen_bases.append(base)
        _write_value(new_dir, base + 1)

    for _ in range(5):
        txn.commit_with_retry(root, build)
    assert _read_value(txn.current_version_dir(root)) == 5


def test_cleanup_grace_protects_inflight_dirs(tmp_path):
    root = str(tmp_path / "g")
    os.makedirs(os.path.join(root, "data_v0"))
    _write_value(os.path.join(root, "data_v0"), 1)
    txn.publish_version(root, "data_v0")
    # a competitor's freshly-written, unpublished version
    os.makedirs(os.path.join(root, "data_v1"))
    _write_value(os.path.join(root, "data_v1"), 2)
    removed = txn.cleanup_unpublished(root, grace_seconds=3600)
    assert removed == [] and os.path.isdir(os.path.join(root, "data_v1"))
    # without grace (single-writer mode) it is garbage
    removed = txn.cleanup_unpublished(root, grace_seconds=0)
    assert "data_v1" in removed


def test_cleanup_grace_protects_young_segments(tmp_path):
    root = str(tmp_path / "s")
    seg = txn.segment_path(root, "seg-000")
    os.makedirs(seg)
    _write_value(seg, 7)
    os.makedirs(os.path.join(root, "data_v0"))
    txn.write_manifest(root, "data_v0", {"": {"base": None, "segments": []}})
    txn.publish_version(root, "data_v0")  # grace 0: young orphan segment dies
    assert not os.path.isdir(seg)
    os.makedirs(seg)
    _write_value(seg, 7)
    removed = txn.cleanup_unpublished(root, grace_seconds=3600)
    assert removed == [] and os.path.isdir(seg)


def _new_version(root: str, name: str, value: int) -> None:
    os.makedirs(os.path.join(root, name))
    _write_value(os.path.join(root, name), value)


@pytest.mark.parametrize("publish", ["publish_version", "try_publish_version"])
def test_concurrent_cleanup_spares_inflight_pointer_tmp(tmp_path, monkeypatch, publish):
    """Another writer's post-publish GC that runs while this publish sits
    between its CURRENT.tmp write and the rename over CURRENT must not
    delete the tmp file: the publish lands and CURRENT names it."""
    root = str(tmp_path / "w")
    _new_version(root, "data_v0", 0)
    txn.publish_version(root, "data_v0")
    _new_version(root, "data_v1", 1)
    real_replace = os.replace
    gc = {}

    def racing_replace(src, dst, *args, **kwargs):
        if src.endswith(txn.CURRENT + ".tmp") and "thread" not in gc:
            gc["thread"] = threading.Thread(
                target=lambda: gc.setdefault(
                    "removed", txn.cleanup_unpublished(root, grace_seconds=3600)
                )
            )
            gc["thread"].start()
            # an unlocked GC finishes inside this window; one that
            # takes the pointer lock waits for the rename
            gc["thread"].join(2.0)
        return real_replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", racing_replace)
    if publish == "publish_version":
        txn.publish_version(root, "data_v1", keep_last=2)
    else:
        txn.try_publish_version(root, "data_v1", "data_v0", keep_last=2)
    gc["thread"].join(10)
    assert txn.list_versions(root) == ["data_v1", "data_v0"]
    assert gc["removed"] == []


def test_publish_version_keeps_external_pins(tmp_path):
    """publish_version retains an externally pinned version beyond
    keep_last, like try_publish_version: GC keeps the pinned directory,
    so the pointer must keep naming it for it to stay readable."""
    root = str(tmp_path / "p")
    _new_version(root, "data_v0", 0)
    txn.publish_version(root, "data_v0")
    txn.set_external_pins(root, ["data_v0"])
    for i in (1, 2):
        _new_version(root, f"data_v{i}", i)
        txn.publish_version(root, f"data_v{i}", keep_last=1)
    assert txn.list_versions(root) == ["data_v2", "data_v0"]
    assert _read_value(txn.version_dir(root, "data_v0")) == 0


def test_next_version_name_skips_inflight(tmp_path):
    root = str(tmp_path / "n")
    assert txn.next_version_name(root) == "data_v0"
    os.makedirs(os.path.join(root, "data_v3"))  # in flight, unpublished
    assert txn.next_version_name(root) == "data_v4"


def test_commit_lock_times_out(tmp_path):
    """The pointer store's lock — the one lock every commit takes — gives
    up with TimeoutError when another holder wedges it."""
    root = str(tmp_path / "lk")
    os.makedirs(root)
    store = txn.FileConditionalPutStore(root)
    hold = threading.Event()
    release = threading.Event()

    def holder():
        with store._cas_lock():
            hold.set()
            release.wait(5)

    t = threading.Thread(target=holder)
    t.start()
    assert hold.wait(5)
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        with store._cas_lock(timeout=0.2):
            pass
    assert time.monotonic() - t0 < 3
    release.set()
    t.join()


class _RacingStore(txn.FileConditionalPutStore):
    """Conditional-put store that injects a competing writer's commit
    between this writer's read and its put_if on the first N attempts —
    the exact interleaving S3's If-Match exists to catch (a local flock
    cannot exist there; the conditional PUT is the only serializer)."""

    def __init__(self, root: str, races: int):
        super().__init__(root)
        self.races_left = races
        self.put_attempts = 0

    def put_if(self, lines, expected_tag):
        self.put_attempts += 1
        if self.races_left > 0:
            self.races_left -= 1
            # competitor lands its own commit first, bumping the tag
            competitor = txn.FileConditionalPutStore(self.root)
            cur, tag = competitor.read()
            rival = txn.next_version_name(self.root)
            os.makedirs(os.path.join(self.root, rival))
            _write_value(
                os.path.join(self.root, rival),
                _read_value(txn.current_version_dir(self.root)) + 1,
            )
            competitor.put_if([rival] + cur, tag)
        return super().put_if(lines, expected_tag)


def test_conditional_put_store_protocol(tmp_path):
    root = str(tmp_path / "t")
    store = txn.FileConditionalPutStore(root)
    lines, tag = store.read()
    assert (lines, tag) == ([], None)
    store.put_if(["data_v0"], None)
    lines2, tag2 = store.read()
    assert lines2 == ["data_v0"] and tag2 is not None
    # stale tag (None = must-not-exist) is rejected once it exists
    with pytest.raises(txn.PointerConflict):
        store.put_if(["data_v1"], None)
    store.put_if(["data_v1", "data_v0"], tag2)
    assert store.read()[0] == ["data_v1", "data_v0"]


def test_try_publish_with_conditional_put_conflict(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "data_v0"))
    _write_value(os.path.join(root, "data_v0"), 1)
    store = txn.FileConditionalPutStore(root)
    txn.try_publish_version(root, "data_v0", None, pointer_store=store)
    assert txn.current_version_dir(root).endswith("data_v0")
    # a PointerConflict mid-put surfaces as CommitConflict carrying the
    # actually-committed version
    os.makedirs(os.path.join(root, "data_v1"))
    _write_value(os.path.join(root, "data_v1"), 2)
    racing = _RacingStore(root, races=1)
    with pytest.raises(txn.CommitConflict):
        txn.try_publish_version(
            root, "data_v1", "data_v0", keep_last=5, pointer_store=racing
        )


def test_commit_with_retry_conditional_put_rebases_after_race(tmp_path):
    """The OCC loop over a conditional-put store: the first put_if
    races with a competing commit and fails; the retry must REBASE on
    the competitor's version (its increment is not lost) and land."""
    root = str(tmp_path / "t")
    racing = _RacingStore(root, races=2)

    def build(cur_dir, new_dir):
        _write_value(new_dir, _read_value(cur_dir) + 1)

    txn.commit_with_retry(
        root, build, keep_last=10, grace_seconds=3600.0, pointer_store=racing
    )
    # 2 injected competitor commits (+1 each) + our commit (+1) = 3,
    # and our put_if ran once per race plus the final success
    assert _read_value(txn.current_version_dir(root)) == 3
    assert racing.put_attempts == 3


# ---------------------------------------------------------------------------
# Multi-process soak (round-5 verdict #4): OS processes — not threads —
# hammering commit_with_retry on ONE table. Threads share the GIL and
# the process's open-file table; only separate processes exercise the
# cross-process guarantees the multi-writer claim rests on (the pointer
# flock across PIDs, exclusive-mkdir name claims, CAS pointer swaps).


def _soak_worker(root: str, n_commits: int, use_store: bool) -> None:
    store = txn.FileConditionalPutStore(root) if use_store else None

    def build(current_dir, new_dir):
        _write_value(new_dir, _read_value(current_dir) + 1)

    for _ in range(n_commits):
        txn.commit_with_retry(
            root,
            build,
            keep_last=1000,
            max_attempts=1000,
            pointer_store=store,
        )


import multiprocessing as _mp

import pytest as _pytest


@_pytest.mark.parametrize("use_store", [False, True], ids=["default", "cond_put"])
def test_multiprocess_soak_no_lost_updates(tmp_path, monkeypatch, use_store):
    """N processes x K read-modify-write commits racing stochastically:
    every increment must land (final value == N*K — serializability),
    the retained history must be exactly the chain 1..N*K (each commit
    derived from its immediate predecessor, no forks, no overwritten
    versions), and version names must be unique (the round-5 ADVICE
    race had two writers building into the SAME data_vX and the loser
    deleting the winner's published directory). The ``default`` case
    passes ``pointer_store=None``, which must resolve to the local
    FileConditionalPutStore."""
    root = str(tmp_path / ("soak_store" if use_store else "soak_default"))
    n_procs, n_commits = 4, 8
    ctx = _mp.get_context("fork")
    procs = [
        ctx.Process(target=_soak_worker, args=(root, n_commits, use_store))
        for _ in range(n_procs)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0, f"worker died with {p.exitcode}"

    total = n_procs * n_commits
    assert _read_value(txn.current_version_dir(root)) == total
    versions = txn.list_versions(root)
    assert len(versions) == len(set(versions)) == total
    values = sorted(
        _read_value(os.path.join(root, v)) for v in versions
    )
    assert values == list(range(1, total + 1)), (
        "history is not the serial chain — a commit was lost or forked"
    )
    if not use_store:
        puts = []
        real_put_if = txn.FileConditionalPutStore.put_if

        def spy(self, lines, tag):
            puts.append(self.root)
            return real_put_if(self, lines, tag)

        monkeypatch.setattr(txn.FileConditionalPutStore, "put_if", spy)
        _soak_worker(root, 1, use_store)
        assert puts == [root]
        assert _read_value(txn.current_version_dir(root)) == total + 1


# ---------------------------------------------------------------------------
# Timestamp time travel (round 8): commit stamps written at publish,
# TIMESTAMP AS OF resolution over the retained chain.


def test_timestamp_time_travel(tmp_path):
    import time as _t

    root = str(tmp_path / "tt")
    stamps = []
    for i in range(3):
        def build(cur, new, i=i):
            _write_value(new, i + 1)

        txn.commit_with_retry(root, build, keep_last=5)
        stamps.append(txn.commit_timestamp(root, txn.list_versions(root)[0]))
        _t.sleep(0.02)
    assert all(s is not None for s in stamps)
    assert stamps == sorted(stamps)
    names = txn.list_versions(root)  # newest first
    # exact stamp resolves to its version; a midpoint to the earlier one
    assert txn.version_at_timestamp(root, stamps[0]) == names[2]
    assert txn.version_at_timestamp(root, (stamps[0] + stamps[1]) / 2) == names[2]
    assert txn.version_at_timestamp(root, stamps[1]) == names[1]
    assert txn.version_at_timestamp(root, stamps[2] + 100) == names[0]
    # the resolved contents are the historical ones
    assert _read_value(os.path.join(root, txn.version_at_timestamp(root, stamps[1]))) == 2
    # before every retained commit: refuse rather than silently serve newer
    with pytest.raises(KeyError, match="retained"):
        txn.version_at_timestamp(root, stamps[0] - 100)
    # an unstamped (pre-feature) version is the final fallback
    os.remove(os.path.join(root, names[2], txn.COMMIT_TS))
    assert txn.version_at_timestamp(root, stamps[0] - 100) == names[2]


def test_read_version_as_of_timestamp(spark, tmp_path):
    import time as _t

    from cultural_heritage_bigdata_project_spark.streaming import (
        pipelines as streaming,
    )

    root = str(tmp_path / "t")
    marks = []
    for seq, val in [(1, "a"), (2, "b"), (3, "c")]:
        df = spark.createDataFrame(
            [(1, seq, val)], "k long, seq long, v string"
        )
        streaming.batch_upsert_commit(
            spark, df, keys=["k"], order_desc=["seq"], target_dir=root,
            keep_last=5,
        )
        marks.append(_t.time())
        _t.sleep(0.02)
    got = [
        txn.read_version(spark, root, as_of_timestamp=m).collect()[0]["v"]
        for m in marks
    ]
    assert got == ["a", "b", "c"]
    with pytest.raises(ValueError, match="not both"):
        txn.read_version(spark, root, version=0, as_of_timestamp=marks[0])


def test_describe_history_operations(spark, tmp_path):
    from cultural_heritage_bigdata_project_spark.streaming import (
        pipelines as streaming,
    )

    root = str(tmp_path / "t")
    for seq, val in [(1, "a"), (2, "b")]:
        df = spark.createDataFrame([(1, seq, val)], "k long, seq long, v string")
        streaming.batch_upsert_commit(
            spark, df, keys=["k"], order_desc=["seq"], target_dir=root,
            keep_last=10,
        )
    txn.compact_component(spark, root)
    hist = txn.describe_history(root)
    assert hist[0]["is_current"] and not any(h["is_current"] for h in hist[1:])
    ops = [h["operation"] for h in hist]
    assert ops[0] == "compact"
    assert set(ops[1:]) == {"batch_upsert"}
    ts = [h["committed_at"] for h in hist]
    assert all(t is not None for t in ts)
    assert ts == sorted(ts, reverse=True)  # newest first
    # restore is its own operation; historical stamps survive the rollback
    txn.restore_version(root, hist[-1]["version"])
    hist2 = txn.describe_history(root)
    assert hist2[0]["operation"] == "restore" and hist2[0]["is_current"]
    assert {
        (h["version"], h["operation"]) for h in hist
    } <= {(h["version"], h["operation"]) for h in hist2}
