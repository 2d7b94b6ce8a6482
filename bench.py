#!/usr/bin/env python
"""Benchmark: headline catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "bench_total_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "repeats": {name: [sec, ...]},
   "sf": 0.1}

Each query is fully materialized through a noop sink (no driver
collect, no result-size bias). One warmup action absorbs JVM/codegen
startup.

Each query runs SPARK_GRAFT_BENCH_REPEATS times (default 3) and the
reported per-query number is the MEDIAN; all samples are published
under "repeats" so a contended-machine outlier is self-evident from
the artifact alone (round-2 lesson: a single sample recorded 23.6 s
for a query that idle-measures 1.16 s, and nothing in the artifact
could tell noise from regression).

The artifact also self-labels machine contention (round-6 lesson: a
driver bench ran concurrently with external load and recorded 10x
medians; only an idle re-run could prove the code hadn't regressed):
"load" carries the 1-minute /proc/loadavg sampled before each query's
repeat block plus start/end, and "cpus" the session's effective
parallelism (``spark.sparkContext.defaultParallelism``, the N of
``local[N]``) — a load far above cpus at sample time explains an
inflated sample from the artifact alone.

Round 10 adds a per-query CANARY (r9 VERDICT item 6): loadavg misses
degraded-host phases where guest load stays ~1 yet identical code
measures 3-4x slower (steal-like behavior invisible to /proc/loadavg).
"canary" records the wall time of one FIXED JVM job (sum over
range(50M) — pure codegen arithmetic, no I/O, no Python) run
immediately before each query's repeat block, plus a "_base" triple
right after warmup. A query sample taken while canary/“_base median”
is inflated was measured in a degraded phase — machine-detectable per
query, no prose required.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from cultural_heritage_bigdata_project_spark.plans.catalog import CATALOG, catalog_queries
from cultural_heritage_bigdata_project_spark.session import get_spark

# Headline set: the pipeline-shaped flagship, scan-heavy aggs, joins,
# windows, merge emulation, text/vector dedup + similarity, streaming.
BENCH_QUERIES = [
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "curated_pipeline",
    "semi_join_hot_orders",
    "running_total",
    "merge_full_upsert",
    "merge_with_delete",
    "from_json_extract",
    "text_stats",
    "ngram_jaccard_pairs",
    "minhash_lsh_dedup",
    "knn_brute_force",
    "ann_lsh_topk",
    "ivf_ann_topk",
    "threshold_similarity_join",
    "stream_tumbling_window",
    "reference_curated_flow",
    "asof_join_purchase_click",
    "sessionization",
    "skew_salted_agg",
    "text_dedup_keep_canonical",
    "semantic_dedup_canonical",
    "training_corpus_pipeline",
    "winnow_dup_pairs",
    "pq_ann_topk",
    "bq_ann_topk",
    "pii_scrub",
    "incremental_dedup_snapshot",
    "semdedup_prune",
    "bm25_search",
    "bm25_index_search",
    "bm25_filtered_search",
    "hybrid_rrf_search",
    "mmr_rerank_topk",
    "charlm_quality",
    "corpus_temperature_mix",
    "duplicate_spans",
    "substring_dedup_clean",
    "line_quality_filter",
    "paragraph_dedup",
    "dsir_select",
    "corpus_shard_assign",
    "token_budget_select",
    "epoch_upsample",
    "ccnet_buckets",
    "train_charlm_profile",
    "version_diff",
    "zorder_keys",
    "hard_negative_mining",
    "change_feed_ivm",
    "stream_upsert_view",
    "retrieval_metrics",
    "data_skipping_read",
    "point_lookup_read",
    "change_feed_cursor",
    "cdc_replication",
    "ann_index_topk",
    "ann_recommend_topk",
    "ann_grouped_topk",
    "mmr_rerank_indexed",
    "text_grouped_search",
    # round 11: the promoted indexed-hybrid family and the named-vector
    # collection serve — headline serving queries once in the oracle
    # window, so their costs are tracked round-over-round
    "hybrid_indexed_search",
    "hybrid_grouped_page",
    "hybrid_batch_search",
    "collection_image_search",
    # round 12: the grouped collection page joined the oracle window
    # (same _mv fixture as collection_image_search — no extra build).
    # collection_dedup_purge / collection_purged_scroll are oracle-
    # checked but deliberately NOT benched: their planted-duplicate
    # fixture costs ~85 s to build at sf0.1 (two 2222-point collection
    # creates + the exhaustive purge job), which would dominate the
    # bench artifact without measuring a serving path — the scroll
    # itself is 0.45 s and the serve shapes are covered by the
    # collection members above.
    "collection_grouped_page",
    # round 12 (late additions, r12 selfcheck run 3 carries their
    # first numbers): the collection-surface recommend and the
    # multi-space RRF hybrid page — the two remaining dashboard
    # serving shapes, both at the pinned pair on the same _mv fixture
    "collection_recommend_topk",
    "collection_hybrid_fused_page",
    # production-hash-family variants (bench-only, defined below): the
    # catalog queries pin hash_family="md5-portable" so the DuckDB
    # oracle can replay candidate sets, but the path you'd run at
    # 100 TB is the JVM xxhash64 default — bench BOTH so the oracle
    # path's premium is a tracked number, not a silent regression.
    "minhash_lsh_dedup_xxh",
    "simhash_dedup_xxh",
]


def _docs_tokenized(spark, sf_dir):
    """documents with a tokenized 't' column (NOT shingled — callers
    shingle where their operator needs it)."""
    from pyspark.sql import functions as F

    from cultural_heritage_bigdata_project_spark.plans.queries_text import (
        _docs_parallel,
    )

    return _docs_parallel(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.lower("text")), " +").alias("t")
    )


def _minhash_lsh_dedup_xxh(spark, sf_dir):
    """minhash_lsh_dedup with the production xxhash64 family
    (operators/dedup.py default) — identical stages, JVM-side hashing."""
    from cultural_heritage_bigdata_project_spark.operators import dedup
    from cultural_heritage_bigdata_project_spark.plans.queries_text import (
        _docs_parallel,
    )

    docs = dedup.shingled_docs(_docs_parallel(spark, sf_dir))
    return dedup.minhash_lsh_pairs(
        docs,
        "doc_id",
        "sh",
        n_hashes=64,
        bands=16,
        threshold=0.6,
        pre_partitioned=True,  # _docs_parallel already spread the text
    )


def _simhash_dedup_xxh(spark, sf_dir):
    """simhash_dedup with the production xxhash64 family."""
    from cultural_heritage_bigdata_project_spark.operators import dedup

    docs = _docs_tokenized(spark, sf_dir)
    return dedup.simhash_pairs(docs, "doc_id", "t", max_hamming=3)


BENCH_EXTRA = {
    "minhash_lsh_dedup_xxh": _minhash_lsh_dedup_xxh,
    "simhash_dedup_xxh": _simhash_dedup_xxh,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="bench")
    cpus = spark.sparkContext.defaultParallelism
    catalog_queries()  # force registration of every query module
    # benchmark the raw per-operator queries: digest bundles (driver-slot
    # consolidation) would time serialization, not the operators
    qs = {name: q.fn for name, q in CATALOG.items()}
    qs.update(BENCH_EXTRA)

    # warmup: JVM/codegen + the Python-worker/Arrow pool (including the
    # numpy import every vectorized UDF pays once per worker process),
    # so no startup cost lands on whichever query happens to hit it first
    spark.range(100_000_000).selectExpr("sum(id)").collect()

    def _warm(batches):
        import numpy as np  # preload into the reused worker processes

        for pdf in batches:
            pdf["id"] = np.asarray(pdf["id"])
            yield pdf

    spark.range(256, numPartitions=64).mapInPandas(_warm, "id long").count()

    # compile the physical-operator codegen shapes the headline queries
    # share (parquet scan -> hash agg -> exchange -> join -> window ->
    # top-k) against the smallest fixture: identical schemas generate
    # identical whole-stage classes, so the one-time Janino compilation
    # cost lands here instead of on the first timed queries. Data volume
    # at sf0.001 is negligible — this times codegen, not I/O.
    from pyspark.sql import Window, functions as F

    from cultural_heritage_bigdata_project_spark.sources.tables import load_table

    wdir = os.path.join(os.path.dirname(sf_dir.rstrip("/") or sf_dir), "sf0.001")
    if not os.path.isdir(wdir):
        wdir = sf_dir
    li = load_table(spark, wdir, "lineitem")
    o = load_table(spark, wdir, "orders")
    (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("rev"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("o_custkey").orderBy(F.desc("rev"))
            ),
        )
        .orderBy(F.desc("rev"), "o_orderkey")
        .limit(10)
        .write.format("noop").mode("overwrite").save()
    )

    # round-4 verdict #2 instrumentation: the flagship drifted
    # 3.86->4.72s across rounds with its implementation untouched —
    # suspected bench-session pressure (46 queries sharing one JVM),
    # not a plan change. Time it ONCE here, first-in-session right
    # after warmup, so the artifact itself separates session context
    # from regression: flagship_first ≈ warm median -> context;
    # flagship_first ≈ old medians while warm grew -> session pressure.
    t0 = time.perf_counter()
    qs["reference_curated_flow"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    flagship_first = round(time.perf_counter() - t0, 3)

    n_repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    # sub-second queries get 5 samples: median-of-3 is fragile under
    # contention there (round-4 verdict #6: a [0.28, 1.59, 0.21]
    # sample set hides a 7x outlier behind the median)
    short_repeats = max(n_repeats, 5)
    def _canary_sec() -> float:
        # fixed JVM-only work: whole-stage-codegen sum over range(50M),
        # no I/O, no shuffle, no Python workers — its wall time moves
        # ONLY with available machine compute
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 2 + 1)").collect()
        return round(time.perf_counter() - t0, 3)

    def _load1m() -> float:
        try:
            with open("/proc/loadavg") as f:
                return round(float(f.read().split()[0]), 2)
        except OSError:  # non-Linux: os.getloadavg or -1 sentinel
            try:
                return round(os.getloadavg()[0], 2)
            except OSError:
                return -1.0

    # round-8 VERDICT item 5: stream_upsert_view drifted 2.7->4.1s with
    # its implementation untouched. Its wall time = foreachBatch commit
    # work + Structured-Streaming trigger/scheduling wait; only the
    # former is the operator. Record the split per repeat so the
    # artifact itself names which component moved.
    from cultural_heritage_bigdata_project_spark.streaming import pipelines as _sp

    _split_queries = {"stream_upsert_view", "stream_upsert_latest"}
    stream_commit: dict[str, list[float]] = {}

    timings: dict[str, float] = {}
    repeats: dict[str, list[float]] = {}
    load: dict[str, float] = {"_start": _load1m()}
    canary: dict[str, object] = {
        "_base": [_canary_sec() for _ in range(3)]
    }
    for name in BENCH_QUERIES:
        load[name] = _load1m()
        canary[name] = _canary_sec()
        samples: list[float] = []
        # the split queries carry ~2.5s of per-run stream bootstrap
        # (query start/checkpoint setup) around ~1.1s of commit work —
        # median-of-5 keeps that jitter out of round-over-round deltas
        target = short_repeats if name in _split_queries else n_repeats
        while len(samples) < target:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            if name in _split_queries and "in_batch_sec" in _sp.RUN_STATS:
                stream_commit.setdefault(name, []).append(
                    round(_sp.RUN_STATS["in_batch_sec"], 3)
                )
            if len(samples) == 1 and samples[0] < 1.5:
                target = short_repeats
        repeats[name] = samples
        timings[name] = round(statistics.median(samples), 3)

    load["_end"] = _load1m()
    total = round(sum(timings.values()), 3)
    # Round-13 artifact-contract fix (r12 VERDICT items 2 and 7): the
    # harness that consumes this output keeps only the LAST ~2000
    # characters of stdout, and the full artifact (71 queries x repeats
    # + canary + load) is far larger — every r01-r11 artifact was
    # truncated mid-line and parsed as null. The FINAL stdout line is
    # now a COMPACT one-line JSON (per-query medians at 2dp + total +
    # stream-commit medians + sf + cpus, ~1.9 KB) that always fits the
    # tail; the full-precision repeats/canary/load/flagship detail goes
    # to a sidecar file (SPARK_GRAFT_BENCH_SIDECAR, default
    # ./bench_details.json) and, for humans, to stderr on write failure.
    # The measured queries, methodology (noop sink, median-of-repeats)
    # and timing loop are UNCHANGED — this only fixes what lands where.
    detail = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "repeats": repeats,
        # per-repeat seconds spent INSIDE foreachBatch bodies
        # for the streaming-sink queries: wall - commit =
        # trigger/scheduling wait, the noisy non-operator part
        "stream_commit_sec": stream_commit,
        "flagship_first_run_sec": flagship_first,
        "load": load,
        "canary": canary,
        "cpus": cpus,
        "sf": sf,
    }
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_SIDECAR", "bench_details.json")
    try:
        with open(sidecar, "w") as f:
            json.dump(detail, f)
    except OSError:
        import sys

        print(json.dumps(detail), file=sys.stderr)
    compact = {
        "metric": "bench_total_sec",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        # the operator part of the streaming-sink queries' wall time
        # (r12 VERDICT item 7): wall - commit = trigger/scheduling wait
        "stream_commit_sec": {
            k: round(statistics.median(v), 2) for k, v in stream_commit.items()
        },
        "cpus": cpus,
        "sf": sf,
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1990, f"compact bench line {len(line)} chars > tail budget"
    print(line)


if __name__ == "__main__":
    main()
