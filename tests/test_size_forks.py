"""The shared small-input route of the three size forks
(``localrel.collect_or_checkpoint``): the caller's lineage runs once on
either side of a bound, and no route leaves a cached input behind that
nothing reads."""

from __future__ import annotations

from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import dedup, similarity
from cultural_heritage_bigdata_project_spark.sources.tables import load_table

from .conftest import SF_DIR


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _docs(spark):
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.split(F.trim(F.lower("text")), " +").alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc_id", dedup.shingles_expr("t", 3).alias("sh"))
    )


def test_driver_routes_free_their_checkpoints(spark):
    """A driver-route call of each fork caches nothing that outlives it:
    the collected rows are all its result reads."""
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = _docs(spark)
    for name, call in [
        ("minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "sh")),
        ("threshold_similarity_join",
         lambda: similarity.threshold_similarity_join(emb, threshold=0.42)),
        ("canonical_components", lambda: dedup.canonical_components(
            similarity.threshold_similarity_join(emb, threshold=0.42), emb, "vec_id")),
    ]:
        before = _persistent_ids(spark)
        call().collect()
        assert _persistent_ids(spark) - before == set(), name


def test_threshold_join_runs_caller_lineage_once_above_one_block(spark, monkeypatch):
    """Above one block, the size probe and both sides of the block grid
    read one checkpoint: a Python UDF in the caller's vector projection
    runs once per vector."""
    monkeypatch.setattr(similarity, "THRESHOLD_JOIN_BLOCK_ROWS", 64)
    emb = load_table(spark, SF_DIR, "embeddings")
    calls = spark.sparkContext.accumulator(0)

    def counted(v):
        calls.add(1)
        return v

    udf = F.udf(counted, emb.schema["embedding"].dataType)
    vecs = emb.select("vec_id", udf("embedding").alias("embedding"))
    out = similarity.threshold_similarity_join(vecs, threshold=0.42)
    assert "FlatMapGroupsInPandas" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() > 0
    assert calls.value == emb.count() == 500


def test_minhash_distributed_route_caches_its_input_once(spark, monkeypatch):
    """Above the bound, an input that is not pre-partitioned is cached
    once: the spread copy is an exchange over the entry checkpoint."""
    monkeypatch.setattr(dedup, "MINHASH_DRIVER_MAX_DOCS", 0)
    docs = _docs(spark)
    before = _persistent_ids(spark)
    dedup.minhash_lsh_pairs(docs, "doc_id", "sh").collect()
    assert len(_persistent_ids(spark) - before) <= 1
