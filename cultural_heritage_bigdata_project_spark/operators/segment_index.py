"""Versioned-segment scaffolding shared by the two serving indexes,
`ann_index` (IVF-PQ vectors) and `text_index` (BM25 postings).

Both indexes are CAS-published versions of one txn-layer table root.
One component's manifest entry carries a metadata block (``ann`` on
``codes``, ``tix`` on ``postings``) holding the fold epoch, the base
segment map, the delta and payload-overlay segment lists and the
stored payload column names. Each index describes itself with a
constant `IndexSpec`; everything here is driven by that spec and
never asks which index is calling. Steps only one index has (the text
index's corpus-stat correction, the ANN index's quantization-error
bookkeeping) stay in that index's module.

Every function that builds a DataFrame builds a pure plan — no
collects, no checkpoints — so callers may memoize it with
`txn.version_plan_memo`.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import payload_overlay as plov
from . import txn

SEQ = "__sg_seq"
_PART = "__part"


@dataclass(frozen=True)
class IndexSpec:
    """What differs between the two indexes' segment layouts."""

    component: str  # component whose manifest entry carries the block
    block: str  # manifest block key
    epoch_col: str  # fold-order stamp on every row
    id_col: str  # default point key (the ANN key is a per-call argument)
    delete_col: str  # tombstone flag of the latest-per-key fold
    payload_component: str  # component holding one row per point + payload
    base_seg: str  # base segment name, formatted with v=version, k=partition
    delta_seg: str  # row-delta segment name, formatted with v=version
    payload_seg: str  # set_payload overlay segment name, v=version
    build_fn: str  # public full-build function, named in errors


def latest_spec(spec: IndexSpec, key: str) -> dict:
    """The latest-per-key reconstruct spec of the payload rows: newest
    epoch wins, a winning tombstone drops the key (and a later upsert
    resurrects it)."""
    return {
        "kind": "latest_by_key",
        "keys": [key],
        "order_desc": [spec.epoch_col],
        "seq_col": SEQ,
        "delete_col": spec.delete_col,
    }


def pin(root: str, version: str | None = None) -> str:
    """``version``, or the index's CURRENT version name. Resolve once
    per logical serve and pass the name to every read of it, so a
    commit landing mid-serve never mixes two versions' state."""
    if version is not None:
        return version
    cur = txn.current_version_dir(root)
    if cur is None:
        raise FileNotFoundError(f"nothing published under {root!r}")
    return os.path.basename(cur)


def predicate(payload_filter):
    """A stored-payload filter as a Column: SQL text or a Column."""
    if isinstance(payload_filter, str):
        return F.expr(payload_filter)
    return payload_filter


def block_of(spec: IndexSpec, components: dict | None) -> dict:
    """A copy of the metadata block in a manifest ({} when absent)."""
    comp = (components or {}).get(spec.component) or {}
    return dict(comp.get(spec.block) or {})


def stored_block(spec: IndexSpec, root: str, version: str | None = None) -> dict:
    """The metadata block at ``version`` (CURRENT when None); {} when
    nothing is published."""
    if version is None:
        cur = txn.current_version_dir(root)
        if cur is None:
            return {}
        version = os.path.basename(cur)
    return block_of(spec, txn.read_manifest(root, version))


def stored_payload_cols(
    spec: IndexSpec, root: str, version: str | None = None
) -> list[str]:
    return list(stored_block(spec, root, version).get("payload_cols", []) or [])


def require_payload_cols(root: str, pcols: list[str], batch: DataFrame) -> None:
    """An upsert replaces whole points, so its batch must carry every
    stored payload column (a missing one would silently null a field
    that filters depend on)."""
    missing = [c for c in pcols if c not in batch.columns]
    if missing:
        raise ValueError(
            f"index at {root!r} stores payload columns {pcols}; "
            f"the upsert batch is missing {missing}"
        )


def next_epoch(spec: IndexSpec, root: str, current_dir: str | None) -> int:
    """The fold-order stamp for the next commit's rows. Racing writers
    may compute the same value from the same expected current; that is
    safe, because the loser's rebased retry recomputes it. Segment
    names never derive from it: they carry the exclusively claimed
    version name."""
    if current_dir is None:
        return 0
    stamped = stored_block(spec, root, os.path.basename(current_dir)).get("epoch")
    return 0 if stamped is None else int(stamped) + 1


def stamp(spec: IndexSpec, df: DataFrame, epoch: int) -> DataFrame:
    """Rows stamped with the commit's epoch and fold sequence."""
    return df.withColumn(spec.epoch_col, F.lit(epoch).cast("long")).withColumn(
        SEQ, F.lit(epoch).cast("long")
    )


def fresh_segment(root: str, name: str) -> str:
    """Path of a segment this commit is about to write. The name holds
    the claimed version, so anything already there is a leftover of
    this same claim's aborted attempt, never another writer's data."""
    sdir = txn.segment_path(root, name)
    shutil.rmtree(sdir, ignore_errors=True)
    return sdir


def segment_rows(spark: SparkSession, root: str, names) -> DataFrame | None:
    """Union of the named segments, None when there are none."""
    if not names:
        return None
    return txn._read_segment_union(
        spark, [txn.segment_path(root, s) for s in names]
    )


def commit(spec: IndexSpec, root: str, write, keep_last: int, op: str) -> str:
    """One CAS commit on top of the published index. ``write(components,
    cur_name, vname, epoch)`` writes this commit's segments and returns
    the new manifest components, or None for a no-op commit (which
    publishes the predecessor with every ``changes`` list cleared, so
    the change feed never re-delivers the previous delta). A lost race
    re-runs ``write`` against the new current."""

    def build(current_dir, new_dir):
        if current_dir is None:
            raise FileNotFoundError(
                f"no index published under {root!r}; run {spec.build_fn} first"
            )
        cur_name = os.path.basename(current_dir)
        components = txn.read_manifest(root, cur_name)
        vname = os.path.basename(new_dir)
        out = write(
            components, cur_name, vname, next_epoch(spec, root, current_dir)
        )
        txn.write_manifest(
            root, vname, txn.noop_components(components) if out is None else out
        )

    return txn.commit_with_retry(root, build, keep_last=keep_last, op=op)


def rehome(
    spec: IndexSpec,
    root: str,
    vname: str,
    rows: DataFrame,
    part_col: str,
    sort_by: list[str] | None = None,
):
    """Write ``rows`` as one segment per value of ``part_col``: ONE
    ``partitionBy`` job, then each partition directory is renamed into
    place (metadata-only re-homing, no second write pass). The
    partition column is written on a copy because ``partitionBy``
    strips its column from the data files. ``sort_by`` sorts each file
    by those columns, so parquet row-group stats prune id predicates.

    Returns ``(segment names, stats, {str(partition): segment})``; each
    segment's stats pin ``part_col`` to its exact partition value, so a
    probe selects segments from the manifest alone."""
    scratch = os.path.join(root, vname, "_rehome")
    out = rows.withColumn(_PART, F.col(part_col))
    if sort_by:
        out = out.sortWithinPartitions(_PART, *sort_by)
    out.write.partitionBy(_PART).parquet(scratch)
    names: list[str] = []
    stats: dict[str, dict] = {}
    seg_map: dict[str, str] = {}
    for entry in sorted(os.listdir(scratch)):
        if not entry.startswith(f"{_PART}="):
            continue
        k = int(entry.split("=", 1)[1])
        seg = spec.base_seg.format(v=vname, k=k)
        sdir = fresh_segment(root, seg)
        os.makedirs(os.path.dirname(sdir), exist_ok=True)
        os.rename(os.path.join(scratch, entry), sdir)
        names.append(seg)
        seg_map[str(k)] = seg
        stats[seg] = txn.collect_parquet_stats(sdir)
        stats[seg][part_col] = [k, k]
    shutil.rmtree(scratch, ignore_errors=True)
    return names, stats, seg_map


def with_payload(
    spec: IndexSpec,
    spark: SparkSession,
    root: str,
    rows: DataFrame,
    blk: dict,
    key: str,
    ids=None,
) -> DataFrame:
    """``rows`` with the index's pending set_payload overlay merged per
    column (newest set-epoch beats the row's own epoch; see
    `payload_overlay`). ``ids`` restricts the overlay read to those
    lookup keys (the fold is per key, so the filter commutes). With
    nothing pending, the common case, ``rows`` comes back untouched."""
    segs = list(blk.get("payload_deltas", []) or [])
    pcols = list(blk.get("payload_cols", []) or [])
    if not segs or not pcols:
        return rows
    pending = segment_rows(spark, root, segs)
    if ids is not None:
        pending = pending.filter(F.col(key).isin(ids) if ids else F.lit(False))
    overlay, eff = plov.overlay_fold(pending, pcols, key)
    return plov.overlay_merge(rows, overlay, eff, key, spec.epoch_col)


def set_payload(
    spec: IndexSpec,
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    id_col: str,
    key: str,
    keep_last: int,
    op: str,
) -> str:
    """Payload-only point mutation (Qdrant ``set_payload``): one
    O(batch) overlay segment of ``(key, <set columns>, __set_<col>
    flags, epoch)``, CAS-committed. ``updates`` carries ``id_col`` plus
    any subset of the stored payload columns (absent = untouched).

    The segment is listed only in the block's ``payload_deltas``: not
    in a read list (a payload-only row winning the latest-per-key fold
    would null the columns it does not carry) and not in ``changes``
    (feed consumers apply rows as full upserts). GC and snapshots keep
    it alive through the block reference. An empty batch is a no-op
    commit."""
    pcols = stored_payload_cols(spec, root)
    upd_cols = plov.validate_update_cols(updates, pcols, id_col, root)

    def write(components, _cur_name, vname, epoch):
        stamped = updates.dropDuplicates([id_col]).select(
            F.col(id_col).alias(key),
            *[F.col(c) for c in upd_cols],
            *[F.lit(True).alias(plov.set_flag_col(p)) for p in upd_cols],
            F.lit(epoch).cast("long").alias(spec.epoch_col),
            F.lit(epoch).cast("long").alias(SEQ),
        )
        seg = spec.payload_seg.format(v=vname)
        sdir = fresh_segment(root, seg)
        stamped.write.parquet(sdir)
        if not txn._has_parquet(sdir):
            return None
        blk = block_of(spec, components)
        blk["epoch"] = epoch
        blk["payload_deltas"] = list(blk.get("payload_deltas", [])) + [seg]
        out = dict(components)
        for name in (spec.component, spec.payload_component):
            out[name] = {**out[name], "changes": []}
        out[spec.component][spec.block] = blk
        return out

    return commit(spec, root, write, keep_last, op)


def lookup(
    spec: IndexSpec,
    spark: SparkSession,
    root: str,
    version: str,
    want: list[int],
    key: str,
    names: list[str],
    cols: list,
    tag: str,
    extra: tuple,
    live,
) -> DataFrame:
    """Points-by-id read of the payload component at a pinned version:
    ``cols`` (selecting ``names``) of the live, overlay-merged rows
    whose ``key`` is in ``want``. Unknown ids are absent.

    For up to `txn.small_key_fold`'s bound the plan is one IN-pushed
    scan and an exchange-free fold with the overlay merged on top, its
    input filtered to the same ids; it is memoized per (version,
    ``want``, ``extra``) under ``tag``, so ``extra`` must hold every
    other input the plan depends on. Otherwise — more ids, or a column
    the fold lacks — ``live()`` (the general overlay-merged fold) is
    filtered instead."""

    def _build():
        fold = txn.small_key_fold(
            spark, root, version, spec.payload_component, want
        )
        if fold is None:
            return None
        rows = with_payload(
            spec, spark, root, fold, stored_block(spec, root, version), key,
            ids=want,
        )
        if not want:
            rows = rows.filter(F.lit(False))
        if any(c not in rows.columns for c in names):
            return None
        return rows.select(*cols)

    out = txn.version_plan_memo(
        spark, root, version, tag, _build, extra=(tuple(want), *extra)
    )
    if out is None:
        out = live().filter(
            F.col(key).isin(want) if want else F.lit(False)
        ).select(*cols)
    return out
