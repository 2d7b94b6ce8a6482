"""Per-layer metrics of a traced run, from its spans and event log.

Every run reports the same metric names; a layer a workload does not
exercise reports 0. Layer names are the engine's modules.

Serving layers (``ann_index``, ``text_index``, ``collection``,
``similarity.hybrid``), each as a mean per request:

- ``construct_s``: self time of the layer's public calls (a hybrid call's
  own time excludes the index calls it makes), over requests that made
  such calls;
- ``action_s``, ``driver_only_s``, ``py4j_calls``, ``jobs``, ``tasks``:
  over requests whose entry call is in the layer. ``action_s`` is the
  collect of the returned DataFrame; ``driver_only_s`` is request wall
  time not covered by any of the request's Spark jobs.

Refresh stages (spans the benchmark opens around each stage of a cycle):
``<stage>_s`` is the median stage time; ``<stage>.shuffle_write_mb``,
``.executor_cpu_s`` and ``.tasks`` sum the jobs submitted inside the
stage, as a mean per cycle.

Traced-only phases (after the final checks): ingest micro-batches give
the mean wall time of each top-level write call per batch, the delta
segments the indexes carried before compaction, and OCC commit attempts
per batch; the hybrid batch gives one call's time; the catalog sweep
gives each query module's summed path time and four named paths.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import attribute_jobs, covered, self_times
from workloads import CuratedRefresh

SERVE_LAYERS = ("ann_index", "text_index", "collection", "similarity.hybrid")
SERVE_FIELDS = ("construct_s", "action_s", "driver_only_s", "py4j_calls", "jobs", "tasks")
STAGES = (
    "pipelines.curated.flow",
    "dedup.minhash_pairs",
    "dedup.components",
    "similarity.threshold_join",
    "streaming.merge_commit",
)
STAGE_FIELDS = ("shuffle_write_mb", "executor_cpu_s", "tasks")
BUILDS = {
    "ann_index.build_s": "ann_index.build_ann_index",
    "text_index.build_s": "text_index.build_text_index",
    "collection.create_s": "collection.collection_create",
}
# metric -> top-level call in an ingest batch
INGEST_CALLS = {
    "ann_index.upsert_s": "ann_index.ann_index_upsert",
    "text_index.upsert_s": "text_index.text_index_upsert",
    "collection.upsert_s": "collection.collection_upsert",
    "collection.set_payload_s": "collection.collection_set_payload",
    "streaming.batch_upsert_commit_s": "streaming.batch_upsert_commit",
    "ann_index.compact_s": "ann_index.ann_index_compact",
    "text_index.compact_s": "text_index.text_index_compact",
}
SWEEP_MODULES = sorted({m for m, _ in CuratedRefresh.SWEEP})
SWEEP_NAMED = ("training_corpus_pipeline", "ngram_jaccard_pairs", "reference_curated_flow")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    u = {}
    for layer in SERVE_LAYERS:
        for f in SERVE_FIELDS:
            u[f"{layer}.{f}"] = "count" if f in ("py4j_calls", "jobs", "tasks") else "s"
    u.update({
        "txn.plan_memo_calls": "count",
        "txn.plan_memo_hit_ratio": "ratio",
        "txn.read_version_s": "s",
        "txn.publish_calls": "count",
        "ann_index.recall_at_10": "ratio",
        "session.start_s": "s",
        **{k: "s" for k in BUILDS},
        "spark.storage_growth_mb": "MB",
    })
    for st in STAGES:
        u[f"{st}_s"] = "s"
        u[f"{st}.shuffle_write_mb"] = "MB"
        u[f"{st}.executor_cpu_s"] = "s"
        u[f"{st}.tasks"] = "count"
    u["dedup.components_jobs"] = "count"
    u.update({k: "s" for k in INGEST_CALLS})
    u.update({
        "ann_index.delta_segments": "count",
        "text_index.delta_segments": "count",
        "txn.commit_attempts": "count",
        "collection.freshness_s": "s",
        "hybrid_batch_search_s": "s",
    })
    for mod in SWEEP_MODULES:
        u[f"plans.{mod}.sweep_s"] = "s"
    for name in SWEEP_NAMED:
        u[f"{name}_s"] = "s"
    u["trace.op_mean_s"] = "s"
    u["trace.op_cpu_s"] = "s"
    return u


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer, jobs, clock_offset, ops_done, lat, cpu, session_s, quality,
              storage_growth_mb, memo) -> dict[str, tuple[float, str]]:
    """``memo`` is (calls, misses) of the plan memo over the timed window
    and the final checks."""
    spans = [s for s in tracer.spans if s.end is not None]
    by_id = {s.sid: s for s in spans}
    selft = self_times(spans)
    span_jobs = attribute_jobs(spans, jobs, clock_offset)
    jobs_by_group = defaultdict(list)
    for j in jobs:
        jobs_by_group[j["group"]].append(j)
    spans_by_rid = defaultdict(list)
    for s in spans:
        spans_by_rid[s.rid].append(s)

    def subtree_jobs(sp) -> list[dict]:
        """Jobs attributed to ``sp`` or to any span below it."""
        out = []
        for s in spans_by_rid[sp.rid]:
            a = s
            while a is not None and a.sid != sp.sid:
                a = by_id.get(a.parent)
            if a is not None:
                out.extend(span_jobs.get(s.sid, ()))
        return out

    m: dict[str, float] = {k: 0.0 for k in metric_units()}

    # serving layers
    construct = defaultdict(list)
    entry = defaultdict(lambda: defaultdict(list))
    for rid, layer, t0, t1 in ops_done:
        rs = spans_by_rid[rid]
        per_layer_self = defaultdict(float)
        for s in rs:
            if not s.name.endswith(".action"):
                per_layer_self[s.layer] += selft[s.sid]
        for lay, v in per_layer_self.items():
            construct[lay].append(v)
        rj = jobs_by_group[rid]
        e = entry[layer]
        e["action_s"].append(sum(s.end - s.start for s in rs if s.name.endswith(".action")))
        e["driver_only_s"].append(
            (t1 - t0) - covered([(j["submit"] - clock_offset, j["end"] - clock_offset)
                                 for j in rj], t0, t1))
        e["py4j_calls"].append(sum(s.py4j for s in rs if s.parent is None))
        e["jobs"].append(len(rj))
        e["tasks"].append(sum(j["tasks"] for j in rj))
    for layer in SERVE_LAYERS:
        m[f"{layer}.construct_s"] = _mean(construct[layer])
        for f in SERVE_FIELDS[1:]:
            m[f"{layer}.{f}"] = _mean(entry[layer][f])

    # transaction layer
    calls, misses = memo
    m["txn.plan_memo_calls"] = float(calls)
    if calls:
        m["txn.plan_memo_hit_ratio"] = 1 - misses / calls
    op_rids = {rid for rid, *_ in ops_done}
    rv = [s.end - s.start for s in spans if s.name == "txn.read_version" and s.rid in op_rids]
    m["txn.read_version_s"] = _mean(rv)
    pub = [s for s in spans if s.name == "txn.try_publish_version" and s.rid in op_rids]
    m["txn.publish_calls"] = len(pub) / max(1, len(ops_done))
    m["ann_index.recall_at_10"] = quality.get("ann_recall_at_10", 0.0)

    # set-up
    m["session.start_s"] = session_s
    for metric, name in BUILDS.items():
        d = [s.end - s.start for s in spans if s.name == name and s.rid and s.rid.startswith("setup")]
        m[metric] = statistics.median(d) if d else 0.0
    m["spark.storage_growth_mb"] = storage_growth_mb

    # refresh stages
    n_ops = max(1, len(ops_done))
    for st in STAGES:
        ss = [s for s in spans if s.name == st and s.rid in op_rids]
        if not ss:
            continue
        m[f"{st}_s"] = statistics.median(s.end - s.start for s in ss)
        sj = [j for s in ss for j in subtree_jobs(s)]
        for f in STAGE_FIELDS:
            m[f"{st}.{f}"] = sum(j[f] for j in sj) / n_ops
        if st == "dedup.components":
            m["dedup.components_jobs"] = len(sj) / n_ops

    # ingest micro-batches
    ingest = {s.rid for s in spans if s.rid and s.rid.startswith("ingest")}
    for metric, name in INGEST_CALLS.items():
        d = [s.end - s.start for s in spans
             if s.name == name and s.rid in ingest and s.parent is None]
        m[metric] = _mean(d)
    attempts = [s for s in spans if s.rid in ingest
                and s.name in ("txn.commit_attempt", "txn.try_publish_version")]
    m["txn.commit_attempts"] = len(attempts) / max(1, len(ingest))
    m["ann_index.delta_segments"] = float(quality.get("ann_delta_segments", 0))
    m["text_index.delta_segments"] = float(quality.get("text_delta_segments", 0))
    m["collection.freshness_s"] = quality.get("collection_freshness_s", 0.0)
    m["hybrid_batch_search_s"] = sum(
        s.end - s.start for s in spans
        if s.rid == "hybrid_batch" and s.name == "similarity.hybrid.hybrid_rrf_search_all")

    # catalog sweep
    for s in spans:
        if s.rid == "sweep" and s.layer.startswith("plans."):
            m[f"{s.layer}.sweep_s"] += s.end - s.start
            short = s.name.rsplit(".", 1)[-1]
            if short in SWEEP_NAMED:
                m[f"{short}_s"] = s.end - s.start

    m["trace.op_mean_s"] = _mean(lat)
    m["trace.op_cpu_s"] = _mean(cpu)
    units = metric_units()
    return {k: (v, units[k]) for k, v in m.items()}
