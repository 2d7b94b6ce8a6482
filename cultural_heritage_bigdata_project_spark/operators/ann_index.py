"""Persisted ANN index as components of a versioned table (the Qdrant
persistent-collection analog, reference
ML-model/embeddings-extractor/extracting_embeddings.py:60-84: build the
collection once, serve many queries — vs the engine's prior per-query
re-derivation of centroids and codes).

Layout (one txn-layer table root, CAS-published versions):

- component ``codes``: ``(vec_id, ann_list, c0..c{m-1}, embedding,
  ann_epoch, __sg_seq)``. The BUILD writes one segment **per inverted
  list** (``ann_{version}_l{K}``), each with manifest min/max stats pinning
  ``ann_list = K`` — so a probe selects its ``n_probe`` segments
  metadata-only, before Spark lists a single file (the IVF posting-list
  file layout, expressed through the existing manifest data-skipping
  machinery). UPSERTS append one small delta segment per batch, encoded
  with the STORED codebook (no quantizer drift), read whole by every
  probe (O(delta)) until the next rebuild folds them in.
- component ``meta``: ``(kind, idx, vals: array<double>)`` — centroids
  (``kind='centroid'``) and PQ codewords (``kind='codeword'``), a few
  KB, collected driver-side per query.

Merge-on-read across a probe is subtle: an upsert may move a vector to
a different list, so the newest row for a key can live outside the
probed segments while a stale row lives inside. Reading probed base
segments ∪ ALL delta segments and folding latest-per-key BEFORE the
``ann_list`` probe filter resolves every case: a stale probed row is
superseded by the delta row (read, any list), and a fresh probed row
wins its fold. Deltas are the only rows read beyond the probe, and
they are O(changes since rebuild) by construction.

At 100 TB: the build is one Arrow-GEMM encode pass + a hash shuffle on
``ann_list`` (each list segment written by its own tasks); a query
reads ~``n_probe/n_lists`` of the code bytes plus the delta tail,
ADC-scores them in whole-stage codegen, and touches raw vectors only
for the final ``shortlist`` re-rank.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_sql, hamming_sql, isin_sql, query_cosine
from . import segment_index as sx
from . import txn
from .localrel import local_df
from .similarity import (
    _deterministic_centroids,
    pq_adc_shortlist,
    pq_codebook,
)
from .windows import top_k_per_group

META_COMPONENT = "meta"
CODES_COMPONENT = "codes"
_SEQ = sx.SEQ
_DEL = "__ann_del"
# codes rows carry the payload (Qdrant's payload-on-point model), so
# the codes component is also the payload component
ANN = sx.IndexSpec(
    component=CODES_COMPONENT,
    block="ann",
    epoch_col="ann_epoch",
    id_col="vec_id",
    delete_col=_DEL,
    payload_component=CODES_COMPONENT,
    base_seg="ann_{v}_l{k}",
    delta_seg="annd_{v}",
    payload_seg="annp_{v}",
    build_fn="build_ann_index",
)


def _encode_pass(
    vectors: DataFrame,
    centroids,
    codebook,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ONE Arrow-batched pass computing the full index row per vector:
    nearest-centroid list assignment (squared L2, ties → lowest list),
    the m PQ codes (on the L2-normalized vector, as pq_encode), AND the
    packed BQ sign-bit words (63 per long, first-element-most-
    significant — bit-identical to ``similarity._bq_words_sql``) —
    the vectors are streamed through a single mapInPandas GEMM instead
    of the three passes the per-query operators run. Also emits
    ``__qd``: the exact squared L2 distance to the assigned centroid
    (free from the same GEMM) — the per-row quantization error that
    `ann_index_drift` aggregates to decide rebuild-vs-compact."""
    import numpy as np
    import pandas as pd

    from .similarity import BQ_WORD

    cmat = np.asarray(centroids, dtype=np.float64)
    cw = np.asarray(codebook, dtype=np.float64)
    sd = cw.shape[1] // m
    schema = (
        "__id long, ann_list int, "
        + ", ".join(f"c{j} int" for j in range(m))
        + ", bq_words array<long>, __qd double, __v array<double>"
    )

    def compute(batches):
        c2 = (cmat * cmat).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            d = c2[None, :] - 2.0 * (mat @ cmat.T)
            out = {
                "__id": pdf["__id"].to_numpy(),
                "ann_list": np.argmin(d, axis=1).astype(np.int32),
                # exact squared L2 to the winning centroid: d omits
                # |x|^2 (argmin-invariant), add it back for the error
                "__qd": d.min(axis=1) + (mat * mat).sum(axis=1),
            }
            nmat = mat / np.sqrt((mat * mat).sum(axis=1, keepdims=True))
            for j in range(m):
                sub = nmat[:, j * sd : (j + 1) * sd]
                cws = cw[:, j * sd : (j + 1) * sd]
                dist = ((sub[:, None, :] - cws[None, :, :]) ** 2).sum(axis=-1)
                out[f"c{j}"] = np.argmin(dist, axis=1).astype(np.int32)
            bits = (mat > 0).astype(np.int64)
            words = []
            for w in range(0, mat.shape[1], BQ_WORD):
                acc = np.zeros(len(mat), dtype=np.int64)
                for col in range(w, min(w + BQ_WORD, mat.shape[1])):
                    acc = acc * 2 + bits[:, col]
                words.append(acc)
            out["bq_words"] = list(np.stack(words, axis=1))
            out["__v"] = list(pdf["__v"].to_numpy())
            yield pd.DataFrame(out)

    return (
        vectors.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .mapInPandas(compute, schema)
        .withColumnRenamed("__id", id_col)
        .withColumnRenamed("__v", vec_col)
    )


def _spec(id_col: str) -> dict:
    # tombstone deletes (round 9): a delete is a delta row whose
    # flag wins the latest-per-key fold — the Qdrant
    # delete-points analog (deduplicate_from_qdrant.py's removal
    # of confirmed duplicates); a newer upsert resurrects the key
    return sx.latest_spec(ANN, id_col)


def _meta_df(spark: SparkSession, centroids, codebook) -> DataFrame:
    rows = [("centroid", i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    rows += [
        ("codeword", i, [float(x) for x in codebook[i]])
        for i in range(len(codebook))
    ]
    return local_df(spark, rows, "kind string, idx int, vals array<double>")


def read_index_meta(spark: SparkSession, root: str, version: str | None = None):
    """(centroids, codebook) from the ``meta`` component of the current
    (or pinned ``version``) — n_lists + n_codes rows, KBs.

    Read DRIVER-SIDE via pyarrow (optimization round 12): the meta
    component is one single-file append segment written by
    `build_ann_index`, and collecting KB-scale quantizer state through
    a cluster job cost every single serve a full job-schedule round
    trip before any data work began (the Delta-log analog: transaction
    metadata is a driver read, not a query). Falls back to the Spark
    read on any surprise (e.g. a generic maintenance rewrite gave the
    component a reconstruct spec)."""
    rows = None
    try:
        path = (
            txn.current_version_dir(root)
            if version is None
            else txn.version_dir(root, version)
        )
        comp = (txn.read_manifest(root, os.path.basename(path)) or {}).get(
            META_COMPONENT
        )
        if path is not None and comp is not None and not comp.get("reconstruct"):
            import pyarrow.parquet as _pq

            rows = []
            for p in txn._component_paths(root, path, comp):
                rows.extend(_pq.read_table(p).to_pylist())
    except Exception:
        rows = None
    if rows is None:
        rows = txn.read_version(
            spark, root, version=version, subdir=META_COMPONENT
        ).collect()
    cent = sorted(
        ((r["idx"], r["vals"]) for r in rows if r["kind"] == "centroid")
    )
    cw = sorted(((r["idx"], r["vals"]) for r in rows if r["kind"] == "codeword"))
    import numpy as np

    return (
        [[float(x) for x in v] for _, v in cent],
        np.asarray([[float(x) for x in v] for _, v in cw], dtype=np.float64),
    )


def build_ann_index(
    spark: SparkSession,
    vectors: DataFrame,
    root: str,
    n_lists: int = 16,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_last: int = 2,
    payload_cols: list[str] | None = None,
) -> str:
    """Full index (re)build: derive the deterministic quantizers
    (md5-sample centroids + codebook — engine-portable, as the per-query
    deterministic operators), encode every vector in one pass, write one
    segment per inverted list + the meta segment, and CAS-publish. A
    rebuild over a table with prior upsert deltas FOLDS them: the new
    base is the only read list. Returns the committed version dir.

    ``payload_cols`` stores the named columns of ``vectors`` IN the
    index rows — Qdrant's payload-on-point model: serving can then
    filter with ``payload_filter`` (a plain predicate over these
    columns, applied BEFORE the shortlist) with no side table and no
    join; the predicate pushes into the probed segments' parquet
    scans. Upserts must carry the same columns (enforced), so the
    payload is as current as the vector it rides with."""
    payload_cols = list(payload_cols or [])
    centroids = _deterministic_centroids(vectors, n_lists, id_col, vec_col)
    codebook = pq_codebook(vectors, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col)
    encoded = _encode_pass(vectors, centroids, codebook, m, id_col, vec_col)
    if payload_cols:
        # one equi-join on the id re-attaches the payload the encode
        # pass's narrow schema dropped (build-time only; AQE broadcasts
        # the smaller side when it fits)
        encoded = encoded.join(
            vectors.select(id_col, *payload_cols), on=id_col
        )

    def build(current_dir, new_dir):
        vname = os.path.basename(new_dir)
        epoch = sx.next_epoch(ANN, root, current_dir)
        stamped = sx.stamp(ANN, encoded, epoch)
        # ONE job writes every inverted list's segment. Segment names
        # carry VNAME, not the epoch: vname was claimed by this
        # writer's exclusive makedirs, so two racing builders (which
        # compute the SAME epoch from the same expected current) can
        # never write — or rmtree — each other's segment paths
        # (round-7 ADVICE, high). Sorting by (list, id) satisfies the
        # partitioned writer's required ordering (no extra sort
        # inserted) AND makes every data file id-sorted, so parquet
        # row-group min/max stats prune keyset predicates
        # (ann_index_scroll's vec_id > after) down to O(remaining)
        # scanned bytes per page
        seg_names, stats, list_map = sx.rehome(
            ANN, root, vname, stamped, "ann_list", sort_by=[id_col]
        )
        meta_seg = f"annmeta_{vname}"
        mdir = sx.fresh_segment(root, meta_seg)
        _meta_df(spark, centroids, codebook).coalesce(1).write.parquet(mdir)
        schema = [
            [f.name, f.dataType.simpleString()]
            for f in stamped.schema.fields
            if f.name != _SEQ  # internal seq is never logical schema
        ]
        txn.write_manifest(
            root,
            vname,
            {
                CODES_COMPONENT: {
                    "base": None,
                    "segments": seg_names,
                    "changes": seg_names,
                    "reconstruct": _spec(id_col),
                    "schema": schema,
                    "stats": stats,
                    "ann": {"n_lists": n_lists, "m": m, "n_codes": n_codes,
                            "epoch": epoch,
                            "list_segments": list_map,
                            "delta_segments": [],
                            # build-time quantization error baseline
                            # (one narrow __qd read of the segments
                            # just written): the fixed reference
                            # `ann_index_drift` compares against
                            "qerr_build": _qerr_of(spark, root, seg_names),
                            "qerr_deltas": {},
                            "payload_cols": payload_cols},
                },
                META_COMPONENT: {
                    "base": None,
                    "segments": [meta_seg],
                    "changes": [],
                },
            },
        )

    return txn.commit_with_retry(root, build, keep_last=keep_last, op="ann_build")


def ann_index_upsert(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_last: int = 2,
    _batch_fn=None,
) -> str:
    """O(batch) incremental maintenance: encode ONLY the new/changed
    vectors with the STORED quantizers (reading meta, never the corpus)
    and commit them as one delta segment of the ``codes`` component.
    Latest-per-key fold at read time supersedes the base rows; a
    periodic ``build_ann_index`` rebuild folds deltas back into pruned
    per-list segments. An index built with ``payload_cols`` requires
    every upsert batch to carry those columns (the payload rides the
    vector's row — a batch without it would silently null out fields
    filters depend on).

    OCC discipline (round-10 ADVICE): the quantizer read, the payload
    validation, and the encode plan are all derived INSIDE the commit
    loop's build callback against the attempt's expected current — a
    CAS retry re-derives against the refreshed current, so a rebuild
    (new quantizers) or a `ann_index_set_payload` (newer overlay) that
    slips between read and publish can never be encoded against or
    rolled back. ``_batch_fn(version_name) -> DataFrame`` is the
    internal hook `ann_index_update_vectors` uses to re-read stored
    payload per attempt."""
    # eager argument check against the CURRENT manifest for a good
    # error before any job runs; authoritative re-validation happens
    # inside write against the attempt's expected current
    if _batch_fn is None:
        sx.require_payload_cols(root, sx.stored_payload_cols(ANN, root), new_vectors)

    def write(components, cur_name, vname, epoch):
        ann = sx.block_of(ANN, components)
        m = int(ann.get("m", 8))
        payload_cols = list(ann.get("payload_cols", []) or [])
        batch = new_vectors if _batch_fn is None else _batch_fn(cur_name)
        sx.require_payload_cols(root, payload_cols, batch)
        centroids, codebook = read_index_meta(spark, root, version=cur_name)
        encoded = _encode_pass(batch, centroids, codebook, m, id_col, vec_col)
        if payload_cols:
            encoded = encoded.join(
                batch.select(id_col, *payload_cols), on=id_col
            )
        stamped = sx.stamp(ANN, encoded, epoch)
        # delta name from the exclusively-claimed version dir (see
        # build_ann_index): a racing upsert that computed the same
        # epoch builds into a DIFFERENT claimed vname, so its segment
        # path never aliases this one and the CAS loser cannot clobber
        # the winner's published delta (round-7 ADVICE, high)
        seg = ANN.delta_seg.format(v=vname)
        # id-sorted like the base list files: the delta tail keeps
        # row-group pruning for keyset scroll pages
        stamped.sortWithinPartitions(id_col).write.parquet(
            sx.fresh_segment(root, seg)
        )
        # per-delta quantization error (narrow __qd read of the one
        # segment just written): drift monitoring stays metadata-only
        ann["qerr_deltas"] = {
            **(ann.get("qerr_deltas") or {}),
            seg: _qerr_of(spark, root, [seg]),
        }
        return _append_delta(root, components, ann, epoch, seg)

    return sx.commit(ANN, root, write, keep_last, "ann_upsert")


def _append_delta(root: str, components: dict, ann: dict, epoch: int, seg: str) -> dict:
    """The manifest after a row-delta commit (upsert or tombstones):
    ``seg`` joins the codes read list, the feed record and the ``ann``
    delta tail that every probe reads whole."""
    comp = dict(components[CODES_COMPONENT])
    stats = dict(comp.get("stats") or {})
    stats[seg] = txn.collect_parquet_stats(txn.segment_path(root, seg))
    ann["epoch"] = epoch
    ann["delta_segments"] = list(ann.get("delta_segments", [])) + [seg]
    comp.update(
        {
            "segments": list(comp.get("segments", [])) + [seg],
            "changes": [seg],
            "stats": stats,
            "ann": ann,
        }
    )
    return {**components, CODES_COMPONENT: comp}


def ann_index_update_vectors(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_last: int = 2,
) -> str:
    """Vector-only point update — the Qdrant ``update_vectors`` analog
    and `ann_index_set_payload`'s mirror: re-embed points WITHOUT
    re-sending their payload (`ann_index_upsert` requires every stored
    payload column on the batch, because a full upsert REPLACES the
    point). The batch's current payload is read back from the live
    fold via a semi-join on the batch keys (column-pruned to id +
    payload, O(batch) rows out — no driver-side id list, so the batch
    can be a nightly re-embed of millions; set_payload overlays merge
    in, so a re-embed never rolls back a pending re-label), joined
    onto the new vectors, and committed through the ordinary upsert
    path. Ids not
    in the live index raise KeyError — updating a vector that does
    not exist is a 404, not an insert (use `ann_index_upsert` to
    create points). On an index without payload columns this is just
    `ann_index_upsert`.

    The readback runs INSIDE the commit loop, pinned to each attempt's
    expected current version (round-10 ADVICE: a readback outside the
    loop could be overtaken by a concurrent `ann_index_set_payload`,
    whose re-label the stale baked payload would then silently roll
    back — the CAS retry now re-reads the refreshed overlay instead,
    making 'a re-embed never rolls back a pending re-label' hold under
    concurrent writers, not just single-writer)."""
    pcols = sx.stored_payload_cols(ANN, root)
    if not pcols:
        return ann_index_upsert(
            spark, new_vectors, root, id_col=id_col, vec_col=vec_col,
            keep_last=keep_last,
        )
    batch = new_vectors.select(id_col, vec_col)
    keys = batch.select(id_col).distinct()

    def batch_with_stored_payload(version: str) -> DataFrame:
        cols = sx.stored_payload_cols(ANN, root, version)
        if not cols:
            return batch
        stored = (
            ann_index_live(spark, root, id_col, version=version)
            .join(keys, on=id_col, how="leftsemi")
            .select(id_col, *cols)
        )
        missing = (
            keys.join(stored.select(id_col), on=id_col, how="left_anti")
            .limit(5)
            .collect()
        )
        if missing:
            raise KeyError(
                "update_vectors for ids not in the live index: "
                f"{sorted(int(r[id_col]) for r in missing)} — a vector "
                "update is not an insert; use ann_index_upsert"
            )
        return batch.join(stored, on=id_col)

    return ann_index_upsert(
        spark,
        batch,
        root,
        id_col=id_col,
        vec_col=vec_col,
        keep_last=keep_last,
        _batch_fn=batch_with_stored_payload,
    )


def _qerr_of(spark: SparkSession, root: str, seg_names: list[str]) -> dict:
    """{"mean": <avg __qd>, "n": <rows>} over the named code segments —
    one columns-pruned agg, recorded into the manifest so later drift
    checks never rescan."""
    row = sx.segment_rows(spark, root, seg_names).agg(
        F.avg("__qd").alias("m"), F.count(F.lit(1)).alias("n")
    ).first()
    return {"mean": float(row["m"] or 0.0), "n": int(row["n"] or 0)}


def ann_index_delete(
    spark: SparkSession,
    ids,
    root: str,
    id_col: str = "vec_id",
    keep_last: int = 2,
) -> str:
    """Remove vectors from the persisted index — the Qdrant
    delete-points analog (the reference's dedup job deletes confirmed
    duplicate points from the live collection,
    deduplicate_from_qdrant.py:160-186; this is that operation against
    the engine-native index). ``ids`` is a DataFrame carrying
    ``id_col`` or a plain list of ids.

    Mechanics: one O(batch) tombstone delta segment (id + epoch +
    ``__ann_del``); the serving fold drops a tombstoned key's base row
    (the delta keyset anti join) and the tombstone itself never
    serves. A LATER upsert of the same key resurrects it (newer epoch
    wins the fold), and `ann_index_compact` physically reclaims
    tombstoned rows — after a full fold nothing older remains to
    resurrect, so the tombstones themselves are dropped. The build
    stamps the component's reconstruct spec with the delete column, so
    generic `txn.read_version` reads honor deletions too."""
    if not isinstance(ids, DataFrame):
        ids = local_df(
            spark, [(int(i),) for i in ids], f"{id_col} bigint"
        )

    def write(components, _cur_name, vname, epoch):
        stamped = sx.stamp(ANN, ids.select(id_col).distinct(), epoch).withColumn(
            _DEL, F.lit(True)
        )
        seg = ANN.delta_seg.format(v=vname)
        sdir = sx.fresh_segment(root, seg)
        stamped.write.parquet(sdir)
        if not txn._has_parquet(sdir):
            return None  # empty id set: manifest-only no-op commit
        return _append_delta(
            root, components, sx.block_of(ANN, components), epoch, seg
        )

    return sx.commit(ANN, root, write, keep_last, "ann_delete")


def ann_index_set_payload(
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    id_col: str = "vec_id",
    keep_last: int = 2,
) -> str:
    """Payload-only point mutation — the Qdrant ``set_payload`` analog
    (the one client call round 9 left unmapped: re-labeling
    ``status=pending→validated`` without re-sending the vector, which
    the reference does by full upsert because its loop already holds
    the vectors, deduplicate_from_qdrant.py:188-210).

    ``updates`` carries ``id_col`` plus ANY SUBSET of the stored
    payload columns; a column absent from the batch is untouched on
    every point (Qdrant's key-merge semantics), a column present is
    set — including to NULL. One O(batch) overlay segment commits via
    CAS; serving folds merge it immediately (newest set-epoch per
    column wins over the row's own epoch), so a ``payload_filter``
    reflects the flip on the very next serve, a LATER full upsert of
    the point resets its payload wholesale, and compaction bakes the
    values in and clears the overlay. Ids not in the index are
    ignored (Qdrant: set_payload never creates points). Vectors,
    codes, and posting layout are never touched. See
    `payload_overlay` for the merge contract."""
    return sx.set_payload(
        ANN, spark, updates, root, id_col, id_col, keep_last, "ann_set_payload"
    )


def ann_index_top_k(
    spark: SparkSession,
    root: str,
    query,
    k: int = 10,
    n_probe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    codec: str = "pq",
    exclude_ids=None,
    payload_filter=None,
    payload_out: list[str] | None = None,
    version: str | None = None,
) -> DataFrame:
    """Serve a kNN query from the PREBUILT index: meta read (KBs) →
    driver-side probe selection → metadata-pruned scan of the n_probe
    base list segments ∪ the delta tail → latest-per-key fold → probe
    filter → JVM ADC shortlist → exact cosine re-rank. No quantizer
    derivation, no corpus-wide encode — the per-query cost a persisted
    index exists to eliminate. Returns (vec_id, adc_micro, cosine_sim)
    as ``pq_deterministic_top_k``.

    ``allowed_ids`` (a DataFrame whose ``id_col`` names the permitted
    vectors) is the payload-filtered search the reference serves from
    Qdrant (``query_filter=Filter(must=[...])``,
    deduplicate_from_qdrant.py:59-73; the dashboard's facet filters,
    streamlit/app/app.py:331-349): the filter applies BEFORE the
    shortlist — every returned row satisfies it and k is filled from
    the filtered candidates, Qdrant's filter-during-traversal
    semantics, not a post-filter that can under-fill k. The caller
    derives it from any metadata predicate (one semi-join; broadcast
    when small).

    ``payload_out`` names stored payload columns to RETURN with each
    hit (Qdrant ``with_payload`` on search): they ride the probed
    rows the serve already reads (set_payload overlays merged), so
    returning them costs zero extra reads and zero joins — the
    grouped serve's stored-payload mode is built on exactly this.

    ``codec`` picks the shortlist surrogate over the probed rows:
    ``"pq"`` (default) scores the stored PQ codes via the integer ADC
    table; ``"bq"`` XOR+popcounts the stored packed sign-bit words
    (hamming ASC — ~32x less shortlist I/O than floats, the cheapest
    path when probe segments are cold). Both re-rank the shortlist by
    exact cosine; output carries the surrogate column (``adc_micro``
    or ``hamming``).

    ``version`` pins the serve to a retained version instead of
    CURRENT (the multi-vector collection serves each space at its
    pair-published pin this way, `collection.collection_search`).
    Either way CURRENT resolves at most ONCE — meta, manifest, and
    fold all read the same pinned version (the round-10 ADVICE
    single-resolve discipline)."""
    import numpy as np

    version = sx.pin(root, version)
    centroids, codebook = read_index_meta(spark, root, version=version)
    comp = txn.read_manifest(root, version)[CODES_COMPONENT]
    ann = comp.get("ann") or {}
    m = int(ann.get("m", 8))

    cmat = np.asarray(centroids, dtype=np.float64)
    qv = np.asarray(list(query), dtype=np.float64)
    d = ((cmat - qv[None, :]) ** 2).sum(axis=1)
    probe_ids = [int(i) for i in np.argsort(d, kind="stable")[:n_probe]]

    excl = (
        tuple(sorted(int(i) for i in exclude_ids)) if exclude_ids else None
    )
    if payload_filter is None or isinstance(payload_filter, str):
        # prepared-statement memo over the query-DEPENDENT probe
        # subtree (optimization round 13, r12-VERDICT item 3 — the ANN
        # twin of the text side's hits memo): `_probed_filtered` is a
        # pure plan — scans, broadcast anti-join, filters; no collects,
        # no checkpoints, no shuffle exchange — keyed on (version
        # manifest stat, probe list, exclusions, filter string). The
        # per-serve lineage cut stays inside `_shortlist_rerank`, so
        # every serve still materializes from a fresh parquet scan;
        # only plan construction/compilation is reused (measured
        # 0.57 → 0.21 s construction per serve at sf0.1).
        probed = txn.version_plan_memo(
            spark,
            root,
            version,
            "ann_probe",
            lambda: _probed_filtered(
                spark, root, comp, ann, probe_ids, id_col,
                version=version, exclude_ids=exclude_ids,
                payload_filter=payload_filter,
            ),
            extra=(tuple(probe_ids), id_col, excl, payload_filter),
        )
    else:
        probed = _probed_filtered(
            spark, root, comp, ann, probe_ids, id_col,
            version=version, exclude_ids=exclude_ids,
            payload_filter=payload_filter,
        )
    return _shortlist_rerank(
        probed, codebook, query, k, shortlist, id_col, vec_col,
        allowed_ids, codec, m, payload_out=payload_out,
    )


def _probed_filtered(
    spark: SparkSession,
    root: str,
    comp: dict,
    ann: dict,
    probe_ids,
    id_col: str,
    version: str | None = None,
    exclude_ids=None,
    payload_filter=None,
) -> DataFrame:
    """The pre-lineage-cut probed frame of a serve: probed-list fold →
    exclusion → payload filter. Factored out so plan gates can assert
    the parquet pushdown on the EXACT production subtree —
    `_shortlist_rerank` cuts lineage right after this frame
    (localCheckpoint), which replaces the subtree with an RDD scan in
    the final query's formatted plan."""
    latest = _probed_latest(
        spark, root, comp, ann, probe_ids, id_col, version=version
    )
    probed = latest.filter(isin_sql("ann_list", probe_ids))
    if exclude_ids:
        # small literal NOT IN (recommend's example exclusion) —
        # a pushed-down filter, never a join
        probed = probed.filter(
            f"NOT ({isin_sql(id_col, [int(i) for i in exclude_ids])})"
        )
    if payload_filter is not None:
        # predicate over STORED payload columns (build_ann_index
        # payload_cols — the Qdrant payload-on-point filter): no side
        # table, no join; a simple predicate pushes into the probed
        # segments' parquet scans, and like allowed_ids it applies
        # BEFORE the shortlist so k fills from the filtered candidates
        probed = probed.filter(sx.predicate(payload_filter))
    return probed


def _probed_latest(
    spark: SparkSession,
    root: str,
    comp: dict,
    ann: dict,
    probe_ids,
    id_col: str,
    version: str | None = None,
) -> DataFrame:
    """Latest-per-key rows backing a probe: the probed base list
    segments ∪ the whole delta tail, folded BEFORE the caller's
    ``ann_list`` filter (module docstring: a delta that MOVED a key
    between lists must supersede its stale probed row).

    Merge-on-read WITHOUT a corpus-wide exchange: the build base is
    one row per key by construction, so the fold reduces to "drop
    base rows superseded by any delta key" — a broadcast ANTI join
    against the (small, O(changes-since-rebuild)) delta keyset — plus
    the delta tail's own latest-per-key window (tiny). A probe on an
    unchanged index is then a pure pruned scan, zero exchanges before
    the shortlist.

    When the posting-list map is gone (a generic ``compact_component``
    rewrite rebuilt the component dict and dropped ``ann``) BOTH seg
    lists are empty — serve CORRECTLY from the generic full fold (no
    segment pruning; run ``build_ann_index`` to restore the pruned
    layout). Shared by the single-query and batch serving paths — the
    batch path previously crashed on this case (round-7 ADVICE, low).

    Pending `ann_index_set_payload` overlays merge onto the fold here
    (per-column, newest-set-epoch wins over the row's own epoch), so
    every downstream ``payload_filter`` sees the mutated values —
    filter-after-mutation composes immediately, no compaction needed.

    The probed frame is a prepared statement (pure plan: scans,
    broadcast anti-join, overlay merge — no collects, no checkpoints,
    no shuffle exchange), memoized per (version manifest stat, probe
    list) when the caller pins a version (optimization round 13,
    r12-VERDICT item 3): batch and single-query serves re-probing the
    same lists against the same immutable version skip re-deriving the
    fold plan; every action over it still reads the parquet inputs."""
    if version is not None:
        return txn.version_plan_memo(
            spark,
            root,
            version,
            "ann_probed_latest",
            lambda: _probed_latest_build(
                spark, root, comp, ann, probe_ids, id_col, version
            ),
            extra=(tuple(int(p) for p in probe_ids), id_col),
        )
    return _probed_latest_build(
        spark, root, comp, ann, probe_ids, id_col, version
    )


def _probed_latest_build(
    spark: SparkSession,
    root: str,
    comp: dict,
    ann: dict,
    probe_ids,
    id_col: str,
    version: str | None = None,
):
    list_segs = (ann or {}).get("list_segments", {})
    probe_segs = [list_segs[str(p)] for p in probe_ids if str(p) in list_segs]
    delta_segs = list((ann or {}).get("delta_segments", []))
    if not probe_segs and not delta_segs:
        if comp.get("segments"):
            # the generic-fold fallback honors the caller's pin too
            # (round-11 review): without it a serve pinned at V could
            # fold V+1's rows under V's quantizers mid-commit
            out = txn.read_version(
                spark, root, version=version, subdir=CODES_COMPONENT
            )
        else:
            raise FileNotFoundError(f"index under {root!r} has no segments")
    else:
        base_rows = sx.segment_rows(spark, root, probe_segs)
        if delta_segs:
            delta_rows = sx.segment_rows(spark, root, delta_segs)
            # tombstones filter out of delta_latest (their keys serve
            # nothing), but the base anti join must key on ALL delta keys
            # including tombstoned ones — a deleted key's base row must
            # vanish, not survive the fold
            delta_keys = delta_rows.select(id_col).distinct()
            delta_latest = txn.reconstruct_latest(delta_rows, _spec(id_col))
            if base_rows is None:
                out = delta_latest
            else:
                survivors = base_rows.join(
                    F.broadcast(delta_keys),
                    on=id_col,
                    how="left_anti",
                ).drop(_SEQ)
                out = survivors.unionByName(
                    delta_latest, allowMissingColumns=True
                )
        else:
            out = base_rows.drop(_SEQ)
    return sx.with_payload(ANN, spark, root, out, ann or {}, id_col)


def _shortlist_rerank(
    probed: DataFrame,
    codebook,
    query,
    k: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    allowed_ids: DataFrame | None,
    codec: str,
    m: int,
    payload_out: list[str] | None = None,
) -> DataFrame:
    """Shared serving tail: payload filter → codec shortlist (PQ ADC or
    BQ hamming over the stored columns) → exact cosine re-rank.
    ``payload_out`` columns project through from the probed rows."""
    if allowed_ids is not None:
        probed = probed.join(
            allowed_ids.select(id_col), on=id_col, how="leftsemi"
        )
    # probed is referenced twice below — once under the shortlist
    # (codes columns) and once as the re-rank join stream (embedding
    # column) — and the two legs share no exchange, so without a
    # lineage cut the whole probed fold subtree executed twice per
    # serve (plan-verified: base∪delta appeared once with
    # ReadSchema=codes and again with ReadSchema=embedding). The local
    # checkpoint materializes the probed rows once — bounded by the
    # probed lists + delta tail, the set the serve must read anyway —
    # and both legs reuse it. eager=False defers the row scan to the
    # action, but not the exchanges: under AQE the call itself runs
    # every exchange beneath it (an ``allowed_ids`` semi-join's
    # broadcast is one job), so those jobs count as construction time.
    probed = probed.localCheckpoint(eager=False)
    if codec == "pq":
        short = pq_adc_shortlist(
            probed.selectExpr(id_col, *[f"c{j}" for j in range(m)]),
            codebook,
            query,
            m=m,
            shortlist=shortlist,
            id_col=id_col,
        )
        surrogate = "adc_micro"
    elif codec == "bq":
        from .similarity import _bq_query_words, bq_words_literal

        if "bq_words" not in probed.columns:
            raise ValueError(
                "index has no stored bq_words (built before the BQ codec); "
                "rebuild with build_ann_index"
            )
        qwords = _bq_query_words([float(x) for x in query])
        hamming = hamming_sql("bq_words", bq_words_literal(qwords))
        short = (
            probed.selectExpr(id_col, f"{hamming} AS hamming")
            .orderBy(F.asc("hamming"), F.asc(id_col))
            .limit(shortlist)
        )
        surrogate = "hamming"
    else:
        raise ValueError(f"unknown codec {codec!r}: expected 'pq' or 'bq'")
    return (
        probed.join(short, on=id_col)
        .selectExpr(
            id_col,
            surrogate,
            f"{query_cosine(vec_col, query)} AS cosine_sim",
            *(payload_out or []),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def foreach_batch_ann_index_run(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebuild_every_deltas: int | None = 8,
    keep_last: int = 2,
    compact_every_deltas: int | None = None,
    rebuild_on_drift: float | None = None,
):
    """Streaming maintenance of the persisted index: each micro-batch of
    new/changed vectors is encoded with the STORED quantizers and
    committed as one O(batch) delta (``ann_index_upsert``); when the
    delta tail exceeds ``rebuild_every_deltas`` the batch triggers a
    full rebuild that folds deltas back into pruned per-list segments —
    the same periodic-compaction contract as the table sink's
    ``compact_every``. Requires a built index (``build_ann_index``)
    before the stream starts; runs with ``availableNow`` so bounded
    replays drain and stop (the engine's standard test trigger).

    ``rebuild_on_drift`` (round 9) makes the rebuild DATA-DRIVEN
    instead of purely cadence-driven: when the metadata drift ratio
    (`ann_index_drift` — the delta tail's quantization error over the
    build baseline) exceeds the threshold, the batch triggers the
    quantizer-refreshing rebuild immediately, even with a short tail;
    a stable distribution never pays it. Typical setting ~1.5-2.0.

    ``compact_every_deltas`` (round 9) interposes the CHEAP fold:
    `ann_index_compact` re-homes the delta tail without re-deriving
    quantizers or re-encoding anything — O(code bytes) vs the
    rebuild's O(corpus encode). Set it a few batches below
    ``rebuild_every_deltas``: compactions keep every probe pruned
    between the (rare) rebuilds that refresh the quantizers against
    distribution drift.

    At 100 TB this is the embedding-ingest path: the index stays
    serveable at every instant (CAS-published versions), queries read
    probe segments + a bounded delta tail, and rebuild cost is amortized
    over ``rebuild_every_deltas`` batches."""

    def rebuild_from_live(ann: dict) -> None:
        # stored payload columns must survive the quantizer refresh —
        # a rebuild that dropped them would silently break every
        # payload_filter downstream
        pcols = list(ann.get("payload_cols", []) or [])
        # overlay-merged live view: a rebuild must bake pending
        # set_payload mutations in, not erase them with the fresh
        # manifest's empty payload_deltas
        state = ann_index_live(spark, root, id_col).select(
            id_col, vec_col, *pcols
        )
        build_ann_index(
            spark, state, root,
            n_lists=int(ann.get("n_lists", 16)),
            m=int(ann.get("m", 8)),
            n_codes=int(ann.get("n_codes", 16)),
            id_col=id_col, vec_col=vec_col, keep_last=keep_last,
            payload_cols=pcols,
        )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ann_index_upsert(
            spark, batch_df, root, id_col=id_col, vec_col=vec_col,
            keep_last=keep_last,
        )
        if rebuild_on_drift is not None:
            # drift-triggered quantizer refresh BEFORE the cheap fold:
            # the metadata ratio (ann_index_drift) compares the delta
            # tail's quantization error against the build baseline,
            # so a distribution shift forces the rebuild even when the
            # tail is still short
            ratio = ann_index_drift(spark, root)["incoming_ratio"]
            if ratio is not None and ratio > rebuild_on_drift:
                rebuild_from_live(sx.stored_block(ANN, root))
                return
        if compact_every_deltas is not None:
            tail = sx.stored_block(ANN, root).get("delta_segments", [])
            if len(tail) >= compact_every_deltas:
                ann_index_compact(spark, root, keep_last=keep_last)
        if rebuild_every_deltas is not None:
            ann = sx.stored_block(ANN, root)
            if len(ann.get("delta_segments", [])) > rebuild_every_deltas:
                rebuild_from_live(ann)

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def ann_index_top_k_all(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    payload_filter=None,
    payload_out: list[str] | None = None,
    codec: str = "bq",
    version: str | None = None,
) -> DataFrame:
    """Batch serving: top-k for EVERY query vector in ``queries`` in
    ONE job against the persisted index — the amortized path when a
    workload carries many queries (recommendation refresh, dedup of an
    incoming batch against a corpus index; the reference loops
    per-query HTTP searches instead, app.py:208-264 /
    deduplicate_from_qdrant.py:53-83).

    ``codec`` picks the shortlist surrogate, as in the single-query
    path: ``"bq"`` (default — the cheapest-I/O batch shape) XOR+
    popcounts stored sign words against each query's own packed
    words; ``"pq"`` scores stored PQ codes against a PER-QUERY integer
    ADC table that RIDES THE QUERY ROWS as an array<long> column
    (`similarity._assign_probe_lists_adc` emits it from the same
    Arrow GEMM that assigns probe lists, bit-identical to the
    single-query LUT), so the per-candidate score is m JVM
    ``element_at`` lookups. Output carries the surrogate column
    (``hamming`` or ``adc_micro``).

    Shape: per-query probe lists come from one Arrow GEMM over the
    stored centroids (``similarity._assign_probe_lists``); the index's
    probed rows (union of all queries' lists, still segment-pruned +
    delta tail, same fold as the single-query path) join the
    assignments on the list id. The hamming and cosine expressions are
    the single-query path's own (`functions.vectors`), and two
    q_id-partitioned `windows.top_k_per_group` windows do shortlist
    and top-k, so each query's rows equal its single-query serve
    (tested for both codecs). Returns (q_id, vec_id, surrogate,
    cosine_sim) rows, k per query.

    ``payload_filter`` / ``payload_out`` behave exactly as in the
    single-query path (round 10 — previously batch callers had to
    materialize an ``allowed_ids`` side table for what the stored
    payload already answers): the predicate applies on the
    overlay-merged fold BEFORE any shortlist, so every query's k
    fills from the filtered candidates, and requested payload columns
    ride the probed rows out with zero extra reads.

    At 100 TB: the index is read ONCE for the whole query batch
    (union of probed lists + delta tail); per-query cost is the
    hamming scan of its probed lists' code words. Skew note: the join
    key is the list id (bounded distinct values) — AQE's skew split
    handles a hot list, and the assignment side is ~|Q|·n_probe rows,
    broadcast when small."""
    from .similarity import (
        _assign_probe_lists,
        _assign_probe_lists_adc,
        _bq_words_sql,
    )

    if codec not in ("bq", "pq"):
        raise ValueError(f"unknown codec {codec!r}: expected 'pq' or 'bq'")
    surrogate = "hamming" if codec == "bq" else "adc_micro"
    # CURRENT resolves exactly ONCE (the round-10 ADVICE discipline,
    # applied here in round 11): quantizer meta, manifest, and fold
    # all read the same pinned version — a rebuild committing between
    # two resolutions could otherwise pair one version's ADC LUTs
    # with another version's stored codes
    version = sx.pin(root, version)
    centroids, codebook = read_index_meta(spark, root, version=version)
    dim = len(centroids[0])
    comp = txn.read_manifest(root, version)[CODES_COMPONENT]
    ann = comp.get("ann") or {}
    m = int(ann.get("m", 8))
    n_codes = int(ann.get("n_codes", len(codebook)))

    assign = (
        _assign_probe_lists(queries, centroids, q_id_col, q_vec_col, n_probe)
        if codec == "bq"
        else _assign_probe_lists_adc(
            queries, centroids, codebook, m, q_id_col, q_vec_col, n_probe
        )
    )
    # bounded collect: the distinct probed lists (<= n_lists ints)
    probe_ids = sorted(
        r["__list"] for r in assign.select("__list").distinct().collect()
    )
    if not probe_ids:  # empty query batch: k-per-query of nothing
        q_type = queries.schema[q_id_col].dataType.simpleString()
        types = dict(comp.get("schema") or [])  # recorded at build time
        extra = "".join(
            f", {c} {types.get(c, 'string')}" for c in (payload_out or [])
        )
        return local_df(
            spark,
            [],
            f"{q_id_col} {q_type}, {id_col} {types.get(id_col, 'bigint')}, "
            f"{surrogate} bigint, cosine_sim double{extra}",
        )
    latest = _probed_latest(
        spark, root, comp, ann, probe_ids, id_col, version=version
    )
    if payload_filter is not None:
        # stored-payload predicate on the overlay-merged fold, BEFORE
        # any shortlist — the single-query path's semantics
        latest = latest.filter(sx.predicate(payload_filter))
    code_cols = (
        ["bq_words"] if codec == "bq" else [f"c{j}" for j in range(m)]
    )
    rows = latest.filter(isin_sql("ann_list", probe_ids)).select(
        id_col, "ann_list", *code_cols, vec_col, *(payload_out or [])
    )
    if allowed_ids is not None:
        # payload filter BEFORE the shortlist (Qdrant filter-during-
        # traversal semantics, as the single-query path): every query's
        # k fills from the filtered candidates
        rows = rows.join(
            allowed_ids.select(id_col), on=id_col, how="leftsemi"
        )
    qcols = [f"{q_id_col} AS __qid", f"CAST({q_vec_col} AS array<double>) AS __qv"]
    if codec == "bq":
        qside = queries.selectExpr(
            *qcols, f"{_bq_words_sql(q_vec_col, dim)} AS __qwords"
        ).join(assign.selectExpr(f"{q_id_col} AS __qid", "__list"), on="__qid")
    else:
        # the per-query ADC table rides the assignment rows; __qv joins
        # back from the query frame for the exact re-rank
        qside = queries.selectExpr(*qcols).join(
            assign.selectExpr(f"{q_id_col} AS __qid", "__list", "__adc"),
            on="__qid",
        )
    cand = rows.join(qside, F.expr("ann_list = __list"))
    if codec == "bq":
        score = hamming_sql("bq_words", "__qwords")
        short_order = f"{surrogate} ASC, {id_col} ASC"
    else:
        # m element_at lookups into the riding ADC table — whole-stage
        # codegen, bit-identical to pq_adc_shortlist's LUT scoring
        score = " + ".join(
            f"CAST(element_at(__adc, c{j} + {j * n_codes} + 1) AS BIGINT)"
            for j in range(m)
        )
        short_order = f"{surrogate} DESC, {id_col} ASC"
    shortlisted = top_k_per_group(
        cand.withColumn(surrogate, F.expr(score)), ["__qid"], short_order, shortlist
    )
    sim = F.expr(f"round({cosine_sql(vec_col, '__qv')}, 6)")
    return top_k_per_group(
        shortlisted.withColumn("cosine_sim", sim),
        ["__qid"],
        f"cosine_sim DESC, {id_col} ASC",
        k,
    ).selectExpr(
        f"__qid AS {q_id_col}", id_col, surrogate, "cosine_sim", *(payload_out or [])
    )


def mmr_rerank_indexed(
    spark: SparkSession,
    root: str,
    query,
    k: int = 10,
    lambda_: float = 0.7,
    top_n: int = 50,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    version: str | None = None,
) -> DataFrame:
    """MMR diversified top-k served from the PERSISTED ANN index —
    zero corpus scans: the probed index rows (n_probe lists + delta
    tail, the same metadata-pruned read as `ann_index_top_k`) supply
    BOTH the relevance shortlist and the candidate vectors for the
    pairwise diversity penalty, then `similarity.mmr_rerank` runs its
    exact-cosine top-``top_n`` + greedy selection over them. Completes
    the index-served stack: raw kNN (`ann_index_top_k`), hybrid
    (`hybrid_rrf_search_indexed`), and diversified re-rank all serve
    without touching the corpus (the reference serves raw Qdrant order
    only, app.py:208-264; MMR is the natural diversification pass over
    it). ``allowed_ids`` filters candidates BEFORE the shortlist
    (Qdrant filter semantics, as everywhere in this module). Recall is
    governed by ``n_probe`` exactly as in `ann_index_top_k`; with
    every list probed the result equals `mmr_rerank` over the full
    vector table (pinned by tests)."""
    import numpy as np

    from .similarity import mmr_rerank

    # single CURRENT resolution (round-10 ADVICE discipline): meta,
    # manifest, and fold all read the same pinned version
    version = sx.pin(root, version)
    centroids, _codebook = read_index_meta(spark, root, version=version)
    comp = txn.read_manifest(root, version)[CODES_COMPONENT]
    ann = comp.get("ann") or {}

    cmat = np.asarray(centroids, dtype=np.float64)
    qv = np.asarray(list(query), dtype=np.float64)
    d = ((cmat - qv[None, :]) ** 2).sum(axis=1)
    probe_ids = [int(i) for i in np.argsort(d, kind="stable")[:n_probe]]

    latest = _probed_latest(
        spark, root, comp, ann, probe_ids, id_col, version=version
    )
    probed = latest.filter(isin_sql("ann_list", probe_ids)).select(
        id_col, vec_col
    )
    if allowed_ids is not None:
        probed = probed.join(
            allowed_ids.select(id_col), on=id_col, how="leftsemi"
        )
    return mmr_rerank(
        probed, query, k=k, lambda_=lambda_, top_n=top_n,
        id_col=id_col, vec_col=vec_col,
    )


def ann_index_compact(
    spark: SparkSession, root: str, keep_last: int = 2
) -> str | None:
    """Fold the upsert delta tail back into per-list base segments —
    the ANN twin of `text_index.text_index_compact` (round 9; before
    this the only fold-down was a full rebuild, which re-derives
    quantizers and re-encodes the corpus): only the codes component is
    read, no vectors are re-encoded, the STORED codebook stays
    authoritative, and every subsequent probe is back to the pruned
    build shape (n_probe list segments, zero delta files).

    Mechanics: base rows are one-per-key by construction, so the fold
    is a broadcast anti join against the O(changes) delta keyset plus
    the delta tail's own latest-per-key window (a moved key lands in
    its NEW list's segment — the move is physical after compaction,
    so probes stop paying the move's supersede join); one
    ``partitionBy`` write + renames re-home the folded rows, and one
    CAS commit refreshes the ``ann`` block (new list map, empty delta
    list, epoch and quantizer meta unchanged). No-op (returns None)
    without a delta tail. At 100 TB this is O(code bytes) maintenance
    I/O — orders cheaper than the rebuild's encode pass — amortized
    over every probe's restored pruning."""
    if not sx.stored_block(ANN, root, sx.pin(root)).get("delta_segments"):
        return None

    def write(components, _cur_name, vname, _epoch):
        comp = dict(components[CODES_COMPONENT])
        ann = sx.block_of(ANN, components)
        if not ann.get("list_segments") and comp.get("segments"):
            raise ValueError(
                f"index under {root!r} lost its list map (a generic "
                "rewrite rebuilt the component); run build_ann_index "
                "to restore the per-list layout before compacting"
            )
        spec = comp.get("reconstruct") or _spec(ANN.id_col)
        id_col = spec["keys"][0]
        list_map = ann.get("list_segments", {})
        base_rows = sx.segment_rows(
            spark, root, [list_map[k] for k in sorted(list_map, key=int)]
        )
        delta_segs = list(ann.get("delta_segments", []))
        folded = base_rows
        if delta_segs:
            delta_latest = txn.reconstruct_latest(
                sx.segment_rows(spark, root, delta_segs), spec, keep_seq=True
            )
            if base_rows is not None:
                survivors = base_rows.join(
                    F.broadcast(delta_latest.select(id_col).distinct()),
                    on=id_col,
                    how="left_anti",
                )
                folded = survivors.unionByName(
                    delta_latest, allowMissingColumns=True
                )
            else:
                folded = delta_latest
        if folded is None:
            raise FileNotFoundError(
                f"index under {root!r} has no code segments to compact"
            )
        if _DEL in folded.columns:
            # a FULL fold leaves nothing older to resurrect a deleted
            # key, so winning tombstones are physically reclaimed here
            # (they also have no ann_list to re-home under)
            folded = folded.filter(
                ~F.coalesce(F.col(_DEL), F.lit(False))
            ).drop(_DEL)
        # bake pending payload overlays into the rewritten rows — the
        # one mutation family the latest-per-key fold above cannot
        # absorb (payload-only rows carry no codes); cleared below so
        # payload-predicate pushdown is physical again after compaction
        folded = sx.with_payload(ANN, spark, root, folded, ann, id_col)
        # id-sorted within each list file, as in the build: keyset
        # scroll pages keep row-group pruning after compaction
        seg_names, stats, new_map = sx.rehome(
            ANN, root, vname, folded, "ann_list", sort_by=[id_col]
        )
        comp["base"] = None
        comp["segments"] = seg_names
        comp["changes"] = []  # a rewrite is not a change
        comp["stats"] = stats
        ann.update(
            {"list_segments": new_map, "delta_segments": [],
             "payload_deltas": []}
        )
        if ann.get("qerr_build") is not None and "__qd" in folded.columns:
            # folded rows keep their per-row error: refresh the live
            # mean so drift monitoring SURVIVES compaction (folding
            # deltas in must not hide a drifting distribution) — the
            # build baseline itself is never touched
            ann["qerr_live"] = _qerr_of(spark, root, seg_names)
        ann["qerr_deltas"] = {}
        comp["ann"] = ann
        return {**components, CODES_COMPONENT: comp}

    return sx.commit(ANN, root, write, keep_last, "ann_index_compact")


def ann_index_dedup_purge(
    spark: SparkSession,
    root: str,
    threshold: float = 0.97,
    n_probe: int = 4,
    shortlist: int = 200,
    top_n: int = 10,
    candidate_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_last: int = 2,
) -> DataFrame:
    """The reference's dedup job end-to-end on the engine-native index
    (deduplicate_from_qdrant.py: scroll candidate points, search the
    collection for >= SIMILARITY_THRESHOLD neighbors, keep the
    canonical, remove duplicates): batch-serve the index's own vectors
    (ONE index read for the whole candidate set via
    `ann_index_top_k_all` — the reference loops per-point HTTP
    searches), mark every id that has a SMALLER-id neighbor at
    ``cosine >= threshold`` as a duplicate, tombstone-delete the
    duplicates, and return them.

    ``candidate_ids`` restricts the checked points — the reference's
    incremental shape (only 'pending' points are deduped against the
    validated collection); None sweeps the whole index (the full
    nightly pass). Keep-min-id is the same canonical rule as
    `minhash_lsh_dedup`/`semantic_dedup_canonical`, so cross-modality
    dedup decisions agree on which copy survives.

    Returns the deleted ids as an (eagerly pinned) DataFrame — pinned
    BEFORE the delete commits, because a lazy plan would re-serve the
    post-delete index and read back empty. Recall of the duplicate
    scan is governed by ``n_probe``/``shortlist``/``top_n`` exactly as
    in serving; near-identical vectors land in the same IVF list, so
    modest probes find them (exhaustive probe = exact, how the test
    pins it). CURRENT resolves once: the candidates and the batch serve
    read the same version (`_duplicate_ids`, shared with the
    collection purge)."""
    losers = _duplicate_ids(
        spark, root, None, threshold, n_probe, shortlist, top_n,
        candidate_ids, id_col, vec_col,
    )
    if losers.limit(1).count():
        ann_index_delete(spark, losers, root, id_col=id_col, keep_last=keep_last)
    return losers


def _duplicate_ids(
    spark: SparkSession,
    root: str,
    version: str | None,
    threshold: float,
    n_probe: int,
    shortlist: int,
    top_n: int,
    candidate_ids: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The detection pass of both dedup purges (this module's and
    `collection.collection_dedup_purge`): pin ``version`` (CURRENT when
    None) once, batch-serve the live candidates' vectors against the
    index at that pin, and return every candidate with a SMALLER-id
    neighbor at ``cosine >= threshold`` as an eagerly pinned
    ``(id_col)`` frame — pinned before the caller's delete commits,
    because a lazy plan would re-serve the post-delete index."""
    version = sx.pin(root, version)
    qs = ann_index_live(spark, root, id_col, version=version).select(
        id_col, vec_col
    )
    if candidate_ids is not None:
        qs = qs.join(
            candidate_ids.select(id_col), on=id_col, how="leftsemi"
        )
    res = ann_index_top_k_all(
        spark,
        root,
        qs.select(F.col(id_col).alias("__q"), F.col(vec_col)),
        k=top_n,
        n_probe=n_probe,
        shortlist=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        q_id_col="__q",
        q_vec_col=vec_col,
        version=version,
    )
    return (
        res.filter(
            (F.col("cosine_sim") >= F.lit(float(threshold)))
            & (F.col(id_col) < F.col("__q"))
        )
        .select(F.col("__q").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)
    )


def ann_index_live(
    spark: SparkSession,
    root: str,
    id_col: str = "vec_id",
    version: str | None = None,
) -> DataFrame:
    """The index's live point set: generic latest-per-key fold over the
    codes component, tombstones dropped (`_spec`'s delete column rides
    the manifest's reconstruct spec, so `txn.read_version` honors
    deletions committed by `ann_index_delete`). The shared base of the
    point-management APIs below (scroll / count / example fetch) —
    the SERVING paths never call this; they stay on the probe-pruned
    `_probed_latest` read. Pending set_payload overlays merge here
    too, so counts, scrolls, and grouped maps see mutated payload.

    CURRENT is resolved exactly ONCE (round-10 ADVICE: resolving it
    separately for the fold and for the overlay could pair version N's
    rows with version N+1's payload overlays during a concurrent
    commit) — the fold and the overlay both read the same pinned
    manifest. ``version`` pins a specific retained version instead
    (`ann_index_update_vectors` reads back payload against the commit
    attempt's expected current this way)."""
    version = sx.pin(root, version)

    def _build() -> DataFrame:
        out = txn.read_version(
            spark, root, version=version, subdir=CODES_COMPONENT
        )
        return sx.with_payload(
            ANN, spark, root, out, sx.stored_block(ANN, root, version), id_col
        )

    # query-independent per-version server state: memoize the PLAN
    # (optimization round 12 — same move as the text doclen fold); every
    # action still reads the parquet inputs (txn.version_plan_memo)
    return txn.version_plan_memo(
        spark, root, version, f"ann_live:{id_col}", _build
    )


def ann_index_count(
    spark: SparkSession,
    root: str,
    allowed_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    payload_filter=None,
    version: str | None = None,
) -> DataFrame:
    """Qdrant count-points analog (``client.count(collection,
    count_filter=...)`` — the reference sizes its collection this way
    before the dedup sweep, deduplicate_from_qdrant.py's scroll loop
    bookkeeping): one row ``(n_points)`` of live (non-tombstoned,
    latest-per-key) points, optionally restricted to ``allowed_ids``
    (the payload-filter shape shared with serving — one semi-join,
    applied after the fold so resurrections and deletes count
    correctly).

    At 100 TB: the scan reads ONLY the id/epoch/flag columns (plus any
    payload columns a ``payload_filter`` names — column-pruned
    ReadSchema either way, no codes, no vectors), partial-aggregates
    map-side, and returns a single row."""
    live = ann_index_live(spark, root, id_col, version=version)
    if payload_filter is not None:
        live = live.filter(sx.predicate(payload_filter))
    live = live.select(id_col)
    if allowed_ids is not None:
        live = live.join(
            allowed_ids.select(id_col), on=id_col, how="leftsemi"
        )
    return live.agg(F.count(F.lit(1)).alias("n_points"))


def ann_index_scroll(
    spark: SparkSession,
    root: str,
    limit: int = 100,
    after_id=None,
    allowed_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_vectors: bool = False,
    payload_filter=None,
    with_payload: bool = False,
    version: str | None = None,
) -> DataFrame:
    """Qdrant scroll analog — keyset-paginated listing of live points
    in id order, the exact API the reference's dedup job drives its
    sweep with (deduplicate_from_qdrant.py: ``client.scroll(...,
    limit=1000, offset=next_page)`` — its ``next_page`` is this
    ``after_id``; the caller passes the previous page's max id, the
    engine's own W1 keyset rule, never OFFSET).

    Returns ``limit`` rows of ``(vec_id, ann_list)`` (+ the vector when
    ``with_vectors`` — Qdrant's ``with_vectors=True``), ids strictly
    greater than ``after_id``; ``allowed_ids`` is the scroll filter.

    Cost, honestly (round-10 adjudication of the r9 finding): the
    keyset predicate is applied BEFORE the latest-per-key fold — it
    commutes (the fold is per key) and Catalyst pushes it into the
    parquet scans — and because build/compact write every list
    segment's files ID-SORTED, parquet row-group min/max stats prune
    a deep page's SCANNED BYTES to ~O(remaining ids). But segments
    are clustered by ``ann_list``, not id, so the page still LISTS
    and opens every live segment's footers: a full sweep of N points
    at page size p costs O((N/p) · footers + N bytes), not O(N/p)
    per page. For whole-index sweeps use the batch paths instead —
    `ann_index_dedup_purge` (the reference's scroll-loop use case as
    ONE job) or `ann_index_top_k_all`. Page order is data-derived
    (the id), stable across partition layouts."""
    live = ann_index_live(spark, root, id_col, version=version)
    if after_id is not None:
        live = live.filter(F.col(id_col) > F.lit(after_id))
    if payload_filter is not None:
        # scroll filter over STORED payload (Qdrant scroll_filter):
        # same pushed-predicate shape as serving, no side table
        live = live.filter(sx.predicate(payload_filter))
    if allowed_ids is not None:
        live = live.join(
            allowed_ids.select(id_col), on=id_col, how="leftsemi"
        )
    cols = [F.col(id_col), F.col("ann_list")]
    if with_payload:
        # the column list honors the pin (round-11 review, as retrieve)
        cols += [F.col(c) for c in sx.stored_payload_cols(ANN, root, version)]
    if with_vectors:
        cols.append(F.col(vec_col))
    return live.select(*cols).orderBy(F.col(id_col).asc()).limit(int(limit))


def ann_index_retrieve(
    spark: SparkSession,
    root: str,
    ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_vectors: bool = False,
    payload_out: list[str] | None = None,
    version: str | None = None,
) -> DataFrame:
    """Qdrant ``retrieve`` as a DataFrame (points by id, with payload):
    a pushed-IN read of the live fold — the IN predicate commutes with
    the latest-per-key fold (it selects whole keys) and reaches the
    parquet scans, where the id-sorted segment files (round 10) prune
    row groups to ~O(|ids|) bytes. Columns are pruned to id + list +
    the requested payload (+ the vector only with ``with_vectors``);
    set_payload overlays merge in, so retrieved payload is always the
    mutated value. Unknown ids are simply absent (the DataFrame
    contract; `ann_index_fetch_vectors` is the raising point-lookup).
    The grouped hybrid page resolves lexical-only hits' labels through
    exactly this read — bounded, never a fold scan."""
    want = sorted({int(i) for i in ids})
    # the column list is read from the pinned manifest, resolved first
    # (round-11 review): a rebuild changing payload_cols between the
    # pin and CURRENT must not make a pinned retrieve select columns
    # the pinned fold lacks
    version = sx.pin(root, version)
    # None = all stored payload (Qdrant with_payload=True); [] = none
    pcols = (
        sx.stored_payload_cols(ANN, root, version)
        if payload_out is None
        else payload_out
    )
    names = [id_col, "ann_list", *pcols] + ([vec_col] if with_vectors else [])
    # bounded-IN single-reader fold (optimization round 13,
    # r12-VERDICT item 3 — the ANN twin of the text label lookup): the
    # generic live fold is one latest-per-key window over the WHOLE
    # codes component (a corpus-wide hash exchange executed per
    # lookup); for ≤max_ids ids `sx.lookup` answers the same rows from
    # one IN-pushed scan + an exchange-free fold, overlays merged
    return sx.lookup(
        ANN, spark, root, version, want, id_col,
        names=names,
        cols=[F.col(c) for c in names],
        tag="ann_retrieve",
        extra=(tuple(pcols), bool(with_vectors), id_col, vec_col),
        live=lambda: ann_index_live(spark, root, id_col, version=version),
    )


def ann_index_fetch_vectors(
    spark: SparkSession,
    root: str,
    ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version: str | None = None,
) -> dict:
    """Point lookup of a FEW ids' stored vectors (Qdrant ``retrieve``):
    returns ``{id: [float, ...]}`` from the live fold, id-filtered
    before the fold (pushed IN predicate; only id/vector/epoch columns
    read). Bounded collect — callers pass example-sized id lists.
    Raises ``KeyError`` on any missing (or tombstoned) id, the 404 the
    reference's recommend flow surfaces for an unknown point."""
    want = sorted(int(i) for i in ids)
    rows = (
        ann_index_live(spark, root, id_col, version=version)
        .filter(isin_sql(id_col, want))
        .select(id_col, vec_col)
        .collect()
    )
    got = {int(r[id_col]): [float(x) for x in r[vec_col]] for r in rows}
    missing = [i for i in want if i not in got]
    if missing:
        raise KeyError(f"ids not in index {root!r}: {missing}")
    return got


def recommend_query_vector(positive: dict, negative: dict | None = None):
    """Qdrant ``average_vector`` recommend strategy, bit-deterministic:
    with ``P = avg(positive vectors)`` and ``N = avg(negative)``,
    the search vector is ``P`` (no negatives) or ``P + (P - N)``.
    Averages accumulate in ASCENDING-id order with sequential float64
    adds (``((v_a + v_b) + v_c) / n`` — the exact parenthesization the
    DuckDB oracle spells out), so every engine derives the same IEEE
    bits."""
    def _avg(vecs: dict):
        items = [v for _, v in sorted(vecs.items())]
        acc = list(items[0])
        for v in items[1:]:
            acc = [a + b for a, b in zip(acc, v)]
        return [a / float(len(items)) for a in acc]

    p = _avg(positive)
    if not negative:
        return p
    n = _avg(negative)
    return [pi + (pi - ni) for pi, ni in zip(p, n)]


def ann_index_recommend(
    spark: SparkSession,
    root: str,
    positive_ids,
    negative_ids=None,
    k: int = 10,
    n_probe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    codec: str = "pq",
    payload_filter=None,
    version: str | None = None,
) -> DataFrame:
    """Qdrant recommend API on the engine-native index (``client.
    recommend(collection, positive=[...], negative=[...])`` — the
    serving mode the reference's dashboard builds its 'more like
    these' flow on, streamlit/app/app.py:208-264, there served as raw
    per-point search because Qdrant hides this composition): fetch the
    example points' STORED vectors (id-pruned point lookup, includes
    any upserted re-embeddings — recommendations follow the index
    state, not the original corpus), form the ``average_vector``
    search point (`recommend_query_vector`), and serve it through the
    standard probe path with the examples excluded from results
    (Qdrant's default; a recommendation that returns its own seeds is
    useless). ``allowed_ids``/``codec`` behave exactly as
    `ann_index_top_k`.

    At 100 TB: example fetch is a pushed-IN point read (a few rows);
    everything after is the ordinary pruned probe — recommend costs
    one kNN serve plus a KB-sized lookup.

    Single-version serving (round 12): CURRENT resolves exactly ONCE
    — the example fetch and the probe read the same pinned version, so
    an upsert committing between them can never pair a re-embedded
    example with the previous version's index state. ``version`` pins
    a retained version instead (the collection serves at its pin)."""
    pos = sorted(int(i) for i in positive_ids)
    if not pos:
        raise ValueError("recommend requires at least one positive id")
    version = sx.pin(root, version)
    neg = sorted(int(i) for i in negative_ids) if negative_ids else []
    fetched = ann_index_fetch_vectors(
        spark, root, pos + neg, id_col=id_col, vec_col=vec_col,
        version=version,
    )
    q = recommend_query_vector(
        {i: fetched[i] for i in pos},
        {i: fetched[i] for i in neg} if neg else None,
    )
    return ann_index_top_k(
        spark, root, q, k=k, n_probe=n_probe, shortlist=shortlist,
        id_col=id_col, vec_col=vec_col, allowed_ids=allowed_ids,
        codec=codec, exclude_ids=pos + neg, payload_filter=payload_filter,
        version=version,
    )


def ann_index_top_k_grouped(
    spark: SparkSession,
    root: str,
    query,
    groups: DataFrame | None,
    group_col: str,
    k_groups: int = 3,
    group_size: int = 2,
    fetch_k: int = 40,
    n_probe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    version: str | None = None,
) -> DataFrame:
    """Qdrant search-groups analog (``client.search_groups(...,
    group_by=payload_field, limit=k_groups, group_size=...)``) — the
    dashboard shape that shows the best few hits PER PROVIDER instead
    of one provider's near-duplicates filling the page (the reference
    serves raw flat order, app.py:208-264; its heritage corpus is
    exactly the provider-skewed case this exists for).

    Mechanics: one ordinary index serve fetches the flat top
    ``fetch_k`` (`ann_index_top_k` — probe-pruned, filtered,
    deterministic), materialized ONCE as a local relation (bounded by
    construction: ≤``fetch_k`` rows). With an explicit ``groups``
    frame the (id, group) map is CORPUS-scale, so it is never
    broadcast — and (round 11) never fully SCANNED either: the
    shortlist ids push into the map read as an IN filter, so parquet
    row-group stats prune the map bytes to ~O(shortlist), the same
    pushed-IN point-lookup shape as `ann_index_fetch_vectors`. The
    map's surviving rows join the broadcast shortlist, the tagged
    rows are deduped, and the single-pass `windows.group_top_k`
    ranks hits within a group (cosine desc, id asc; keep
    ``group_size``) and groups by their BEST hit (its cosine desc,
    then its id — Qdrant orders groups by top-hit score; keep
    ``k_groups``) with NO further join.
    Returns
    ``(group_col, group_rank, rank_in_group, vec_id, cosine_sim)``.

    Caveat shared with Qdrant: a group whose best hit ranks below the
    flat ``fetch_k`` cannot appear — size ``fetch_k`` generously
    (it only widens one window over shortlist-scale rows).

    ``groups=None`` groups by a STORED payload column (an index built
    with ``payload_cols`` — Qdrant's group_by a payload field), and
    then there is NO map read at all: the group label rides the
    probed rows the serve already reads (``payload_out`` through
    `ann_index_top_k` — payload-on-point, exactly Qdrant's group_by
    reading the hit's own payload), so the whole grouped page is one
    serve plus shortlist-sized windows."""
    from .windows import group_top_k

    if groups is None:
        # stored payload: the label projects through the serve — the
        # probed rows carry it (set_payload overlays merged); zero
        # extra reads, zero joins
        tagged = ann_index_top_k(
            spark, root, query, k=int(fetch_k), n_probe=n_probe,
            shortlist=shortlist, id_col=id_col, vec_col=vec_col,
            allowed_ids=allowed_ids, payload_out=[group_col],
            version=version,
        )
    else:
        flat = ann_index_top_k(
            spark, root, query, k=int(fetch_k), n_probe=n_probe,
            shortlist=shortlist, id_col=id_col, vec_col=vec_col,
            allowed_ids=allowed_ids, version=version,
        )
        # shared round-11 tagging shape (serve pinned once, shortlist
        # ids pushed into the map scan as an IN filter, map never
        # broadcast, empty serve reads zero map bytes) — see
        # windows.tag_pinned_shortlist
        from .windows import tag_pinned_shortlist

        tagged = tag_pinned_shortlist(spark, flat, groups, id_col, group_col)
    return group_top_k(
        tagged, group_col, "cosine_sim", id_col, k_groups, group_size
    ).select(
        F.col(group_col),
        F.col("group_rank"),
        F.col("rank_in_group"),
        F.col(id_col),
        F.col("cosine_sim"),
    )


def _json_safe_floats(d: dict) -> dict:
    """Non-finite floats (inf/-inf/nan) rendered as strings so
    ``json.dumps(..., allow_nan=False)`` consumers never choke —
    everything else passes through unchanged."""
    import math

    return {
        k: (
            str(v)
            if isinstance(v, float) and not math.isfinite(v)
            else v
        )
        for k, v in d.items()
    }


def ann_index_describe(spark: SparkSession, root: str, with_count: bool = False) -> dict:
    """Qdrant get-collection analog (``client.get_collection(name)`` —
    status + config + segment bookkeeping): one manifest read, NO
    Spark job. Returns the serving-relevant facts a deployment watches:
    quantizer config (n_lists/m/n_codes), the current epoch, how many
    pruned base list segments vs delta-tail segments a probe would
    read (the compaction-pressure signal `foreach_batch_ann_index_run`
    thresholds on), and whether serving is in the pruned shape
    (``pruned_serving`` False = a generic component rewrite dropped
    the list map; run `build_ann_index` to restore it).

    ``with_count=True`` adds the live point count — that one field is
    a (columns-pruned) scan, so it is opt-in, like Qdrant's exact
    count vs the cached collection info."""
    vname = sx.pin(root)
    ann = sx.stored_block(ANN, root, vname)
    out = {
        "version": vname,
        "epoch": int(ann.get("epoch", 0)),
        "n_lists": int(ann.get("n_lists", 0)),
        "m": int(ann.get("m", 0)),
        "n_codes": int(ann.get("n_codes", 0)),
        "n_list_segments": len(ann.get("list_segments", {}) or {}),
        "n_delta_segments": len(ann.get("delta_segments", []) or []),
        "n_payload_delta_segments": len(ann.get("payload_deltas", []) or []),
        "pruned_serving": bool(ann.get("list_segments")),
        "payload_cols": list(ann.get("payload_cols", []) or []),
        # the rebuild-vs-compact signal, already metadata (see
        # ann_index_drift for the field semantics). STRICT-JSON SAFE
        # (round-10 ADVICE): drift's Python API returns float('inf')
        # over a zero build baseline, but json.dump would emit the
        # non-standard token `Infinity` — describe is the JSON-bound
        # surface (dashboards, bench artifacts), so non-finite floats
        # serialize as the string "inf" here; thresholding consumers
        # use ann_index_drift directly and keep the float.
        "drift": (
            _json_safe_floats(ann_index_drift(spark, root))
            if ann.get("qerr_build")
            else None
        ),
    }
    if with_count:
        out["n_points"] = int(
            ann_index_count(spark, root).first()["n_points"]
        )
    return out


def ann_index_drift(spark: SparkSession, root: str) -> dict:
    """Quantizer-drift signal — METADATA ONLY, no scan: every commit
    already recorded its rows' mean squared quantization error
    (`_qerr_of` over the ``__qd`` column the encode pass emits), so
    deciding rebuild-vs-compact costs one manifest read. Returns

    - ``build_mean``: the baseline error of the corpus the quantizers
      were DERIVED from (fixed at `build_ann_index` time),
    - ``incoming_mean`` / ``n_incoming``: weighted mean over the
      delta tail — the error of data the stored quantizers have never
      seen (None with no deltas),
    - ``live_mean``: refreshed by `ann_index_compact` so folding the
      tail cannot hide drift (falls back to build_mean pre-compaction),
    - ``incoming_ratio``: incoming/build — the rebuild trigger.
      ~1.0 = same distribution, compact freely; >> 1 = the centroids
      no longer fit arriving data, schedule `build_ann_index`.

    Superseded base rows keep their recorded weight until a fold
    reclaims them — this is a monitoring signal with segment-level
    granularity, not an exact statistic (the serving paths are).
    Indexes built before the error column existed return all-None.

    Edge semantics (round-10 ADVICE): ``build_mean == 0.0`` (perfect
    quantization, e.g. n_lists >= point count) with nonzero incoming
    error returns ``incoming_ratio = inf`` — any error is infinite
    drift from a zero baseline, and the rebuild trigger must fire,
    not silently disable. Blind spot, documented: deletes and
    set_payload commits append delta/overlay segments with NO
    qerr_deltas entry, so a delete- or relabel-heavy tail reads as
    zero incoming drift — drift measures arriving VECTORS only."""
    ann = sx.stored_block(ANN, root, sx.pin(root))
    build = ann.get("qerr_build")
    deltas = list((ann.get("qerr_deltas") or {}).values())
    n_in = sum(int(d["n"]) for d in deltas)
    incoming = (
        sum(float(d["mean"]) * int(d["n"]) for d in deltas) / n_in
        if n_in
        else None
    )
    live = ann.get("qerr_live") or build
    build_mean = float(build["mean"]) if build else None
    if incoming is None or build_mean is None:
        ratio = None
    elif build_mean == 0.0:
        # explicit, not truthiness: a 0.0 baseline must not read as
        # "no baseline" — nonzero incoming error over a perfect build
        # is infinite drift (fires any rebuild_on_drift threshold)
        ratio = float("inf") if incoming > 0.0 else 1.0
    else:
        ratio = incoming / build_mean
    return {
        "build_mean": build_mean,
        "incoming_mean": incoming,
        "n_incoming": n_in,
        "live_mean": float(live["mean"]) if live else None,
        "incoming_ratio": ratio,
    }
