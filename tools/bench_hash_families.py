#!/usr/bin/env python
"""Hash-family crossover bench: MinHash-LSH md5-portable (Arrow GEMM)
vs xxhash64 (JVM HOF) at an arbitrary documents scale.

DEPLOYMENT.md's "md5-portable is the production default" claim needs
more than one scale point (round-3 verdict #6): run this at sf0.1 AND
at an amplified ~sf0.5 to see whether the crossover holds as signature
work grows relative to fixed overheads.

Usage:
  python tools/bench_hash_families.py [DOCS_DIR] [REPEATS]

DOCS_DIR defaults to $SPARK_GRAFT_BENCH_SF (a directory containing
documents.parquet), else /root/testdata/sf0.1. Amplify a fixture with
tools/amplify_docs.py first for the large point. Both families run
their distributed plans at every size (the driver route is off). Prints
one JSON line:
  {"docs_dir": ..., "n_docs": N,
   "md5_portable_sec": median, "xxhash64_sec": median,
   "repeats": {...}}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import dedup
from cultural_heritage_bigdata_project_spark.session import get_spark


def _shingled(spark, docs_dir):
    docs = (
        spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split(F.trim(F.lower("text")), " +").alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc_id", dedup.shingles_expr("t", 3).alias("sh"))
    )
    return docs


def main() -> None:
    docs_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_BENCH_SF", "/root/testdata/sf0.1")
    )
    n_repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="bench-hash-families")
    # the subject is each family's distributed plan, so force it also
    # for inputs small enough for minhash_lsh_pairs' driver route
    dedup.MINHASH_DRIVER_MAX_DOCS = 0
    n_docs = spark.read.parquet(
        os.path.join(docs_dir, "documents.parquet")
    ).count()

    variants = {
        "md5_portable": dict(hash_family="md5-portable"),
        "xxhash64": dict(),  # operator default
    }
    # warmup both paths once (JVM codegen + python worker/numpy import)
    for kw in variants.values():
        dedup.minhash_lsh_pairs(
            _shingled(spark, docs_dir).limit(500),
            "doc_id", "sh", n_hashes=64, bands=16, threshold=0.6, **kw,
        ).write.format("noop").mode("overwrite").save()

    repeats: dict[str, list[float]] = {}
    for name, kw in variants.items():
        samples = []
        for _ in range(n_repeats):
            t0 = time.perf_counter()
            dedup.minhash_lsh_pairs(
                _shingled(spark, docs_dir),
                "doc_id", "sh", n_hashes=64, bands=16, threshold=0.6, **kw,
            ).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        repeats[name] = samples

    print(
        json.dumps(
            {
                "docs_dir": docs_dir,
                "n_docs": n_docs,
                "md5_portable_sec": round(
                    statistics.median(repeats["md5_portable"]), 3
                ),
                "xxhash64_sec": round(statistics.median(repeats["xxhash64"]), 3),
                "repeats": repeats,
            }
        )
    )


if __name__ == "__main__":
    main()
