"""Vector similarity / semantic-dedup catalog (SURVEY.md §2.10).

Cosine is computed in double on both sides and rounded to 6 digits:
the inter-engine fold-order error is ~1e-15, so a boundary flip at the
6th digit is ~1e-9-probable — acceptable. LSH entries are xxhash64-
based → rows-only, with recall vs the exact oracle asserted in tests.
Thresholds are calibrated to the fixtures (max pairwise cosine ≈ 0.5;
labels are NOT geometric clusters, so precision@k is a metric query,
not a quality claim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, similarity
from ..operators.localrel import local_df
from ..sources.tables import load_table
from .catalog import register


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _query_list(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """The query vector as a plain Python list (driver-side: lets ANN
    operators compute buckets/probe lists without a Spark job).

    Optimization round 12 (guide §5: the driver fetch of ONE row needs
    no cluster job): read the single row via a driver-side pyarrow
    row-group-pruned read instead of a Spark ``first()`` — the old path
    cost one full scheduler round trip (~0.25 s profiled) in EVERY
    vector serve's timed body. Same parquet bytes, same doubles, read
    per invocation (nothing is memoized); the Spark path remains as the
    fallback for layouts pyarrow cannot filter."""
    import os as _os

    try:
        import pyarrow as _pa
        import pyarrow.dataset as _pds
    except ImportError:
        _pa = _pds = None
    if _pds is not None:
        try:
            # pyarrow.dataset filtering rather than the deprecated
            # ``filters=`` kwarg of pq.read_table; narrow except so real
            # data corruption is not silently eaten by the fallback
            t = _pds.dataset(
                _os.path.join(sf_dir, "embeddings.parquet"), format="parquet"
            ).to_table(
                columns=["vec_id", "embedding"],
                filter=_pds.field("vec_id") == vec_id,
            )
            if t.num_rows >= 1:
                return [float(x) for x in t["embedding"][0].as_py()]
        except (OSError, _pa.ArrowInvalid):
            pass
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == vec_id).select("embedding").first()
    return [float(x) for x in row[0]]


@register(
    "knn_brute_force",
    description="J8/M5 exact kNN: top-10 by cosine against vec_id=0 "
    "(scan → project → TakeOrderedAndProject; no shuffle) "
    "(ref Qdrant search deduplicate_from_qdrant.py:53-83)",
    survey_ref="J8,M5,W4",
    oracle="""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.qv)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import py_l2_norm

    vectors = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    ql = _query_list(spark, sf_dir, 0)
    return similarity.knn_brute_force(vectors, ql, k=10, query_norm=py_l2_norm(ql))


@register(
    "threshold_similarity_join",
    description="J9/M3 exact threshold similarity self-join: all pairs "
    "cosine >= 0.4 (the reference's 0.97-threshold dedup shape, "
    "deduplicate_from_qdrant.py:160-186; exact-oracle mode)",
    survey_ref="J9,M3",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4
""",
)
def threshold_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.threshold_similarity_join(_emb(spark, sf_dir), threshold=0.4)


@register(
    "semantic_dedup_canonical",
    description="M3/M4 semantic dedup: threshold-similarity graph (cosine "
    ">= 0.42) → connected components via iterative min-label propagation; "
    "canonical_id = min vec_id of the component (deterministic replacement "
    "for the reference's order-dependent first-seen rule)",
    survey_ref="M3,M4,J9",
    oracle="""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), edges AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.42
), reach(src, dst) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src
)
SELECT src AS vec_id, min(dst) AS canonical_id
FROM reach GROUP BY src
""",
)
def semantic_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    edges = similarity.threshold_similarity_join(emb, threshold=0.42)
    return dedup.canonical_components(edges, emb, "vec_id")


@register(
    "precision_at_k",
    description="M6 retrieval evaluation: precision@10 by label for the "
    "first 20 query vectors (ref ML-model/README.md:189-210)",
    survey_ref="M6,J8",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label, nrm AS qnrm
      FROM n WHERE vec_id < 20),
scored AS (
  SELECT q.q_id, q.q_label, n.vec_id, n.label,
         round(list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm), 6) AS cosine_sim,
         row_number() OVER (PARTITION BY q.q_id
                            ORDER BY round(list_dot_product(n.v, q.qv)
                                           / (n.nrm * q.qnrm), 6) DESC,
                                     n.vec_id ASC) AS rn
  FROM n JOIN q ON n.vec_id <> q.q_id
)
SELECT q_id, sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) / 10.0
         AS precision_at_k
FROM scored WHERE rn <= 10 GROUP BY q_id
""",
)
def precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.precision_at_k(_emb(spark, sf_dir), k=10, n_queries=20)


@register(
    "retrieval_metrics",
    description="M6 retrieval evaluation triple: recall@10, MRR, and "
    "binary-relevance nDCG@10 per query (first 20 vectors) — ranking "
    "order and corpus-side relevant counts that precision@k hides. "
    "Engine-portable by construction: the nDCG discount table is "
    "integerized (round(1e9/log2(rank+1)) literals on both sides), so "
    "DCG is an exact bigint sum and every metric is one final int/int "
    "division — no libm log2 or float fold-order divergence",
    survey_ref="M6,J8,W4",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label, nrm AS qnrm
      FROM n WHERE vec_id < 20),
totals AS (SELECT label AS q_label, count(*) AS label_n FROM e GROUP BY label),
disc AS (
  SELECT * FROM (VALUES
    (1, 1000000000::BIGINT, 1000000000::BIGINT),
    (2, 630929754::BIGINT, 1630929754::BIGINT),
    (3, 500000000::BIGINT, 2130929754::BIGINT),
    (4, 430676558::BIGINT, 2561606312::BIGINT),
    (5, 386852807::BIGINT, 2948459119::BIGINT),
    (6, 356207187::BIGINT, 3304666306::BIGINT),
    (7, 333333333::BIGINT, 3637999639::BIGINT),
    (8, 315464877::BIGINT, 3953464516::BIGINT),
    (9, 301029996::BIGINT, 4254494512::BIGINT),
    (10, 289064826::BIGINT, 4543559338::BIGINT)) AS t(rnk, d, p)
),
scored AS (
  SELECT q.q_id, q.q_label,
         CASE WHEN n.label = q.q_label THEN 1 ELSE 0 END AS rel,
         row_number() OVER (PARTITION BY q.q_id
                            ORDER BY round(list_dot_product(n.v, q.qv)
                                           / (n.nrm * q.qnrm), 6) DESC,
                                     n.vec_id ASC) AS rn
  FROM n JOIN q ON n.vec_id <> q.q_id
),
agg AS (
  SELECT s.q_id, s.q_label,
         sum(s.rel) AS hits,
         sum(CASE WHEN s.rel = 1 THEN d.d ELSE 0 END) AS dcg,
         min(CASE WHEN s.rel = 1 THEN s.rn END) AS first_hit
  FROM scored s JOIN disc d ON d.rnk = s.rn
  WHERE s.rn <= 10 GROUP BY s.q_id, s.q_label
)
SELECT a.q_id,
       CASE WHEN t.label_n - 1 > 0
            THEN CAST(a.hits AS DOUBLE) / (t.label_n - 1) ELSE 0.0 END
         AS recall_at_k,
       coalesce(1.0 / a.first_hit, 0.0) AS mrr,
       CASE WHEN t.label_n - 1 > 0
            THEN CAST(a.dcg AS DOUBLE)
                 / (SELECT p FROM disc
                    WHERE rnk = least(10, t.label_n - 1)) ELSE 0.0 END
         AS ndcg_at_k
FROM agg a JOIN totals t ON a.q_label = t.q_label
""",
)
def retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.retrieval_metrics(_emb(spark, sf_dir), k=10, n_queries=20)


@register(
    "retrieval_metrics_ivf",
    description="The 100 TB composition of retrieval_metrics: candidate "
    "generation restricted to each query's 4 nearest IVF cells (16 "
    "deterministic md5-sample centroids), so every anchor scores "
    "~n_probe/n_lists of the collection instead of all of it — "
    "recall/nDCG denominators stay GLOBAL, so the numbers report the "
    "true quality of the approximate retrieval. Hash-checked end to "
    "end: the oracle replays centroid sample → assignment → per-query "
    "probe → restricted ranking → integerized-DCG metrics in SQL",
    survey_ref="M6,J8,M5,W4",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label, nrm AS qnrm
      FROM n WHERE vec_id < 20),
totals AS (SELECT label AS q_label, count(*) AS label_n FROM e GROUP BY label),
cent AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS list_id, v
  FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
), assign AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.v), c.list_id) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), qprobe AS (
  SELECT q_id, list_id FROM (
    SELECT q.q_id, c.list_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY list_distance(q.qv, c.v), c.list_id) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 4
), cand AS (
  SELECT p.q_id, a.vec_id FROM qprobe p JOIN assign a ON p.list_id = a.list_id
),
disc AS (
  SELECT * FROM (VALUES
    (1, 1000000000::BIGINT, 1000000000::BIGINT),
    (2, 630929754::BIGINT, 1630929754::BIGINT),
    (3, 500000000::BIGINT, 2130929754::BIGINT),
    (4, 430676558::BIGINT, 2561606312::BIGINT),
    (5, 386852807::BIGINT, 2948459119::BIGINT),
    (6, 356207187::BIGINT, 3304666306::BIGINT),
    (7, 333333333::BIGINT, 3637999639::BIGINT),
    (8, 315464877::BIGINT, 3953464516::BIGINT),
    (9, 301029996::BIGINT, 4254494512::BIGINT),
    (10, 289064826::BIGINT, 4543559338::BIGINT)) AS t(rnk, d, p)
),
scored AS (
  SELECT q.q_id, q.q_label,
         CASE WHEN n.label = q.q_label THEN 1 ELSE 0 END AS rel,
         row_number() OVER (PARTITION BY q.q_id
                            ORDER BY round(list_dot_product(n.v, q.qv)
                                           / (n.nrm * q.qnrm), 6) DESC,
                                     n.vec_id ASC) AS rn
  FROM n JOIN cand ON n.vec_id = cand.vec_id
         JOIN q ON q.q_id = cand.q_id AND n.vec_id <> q.q_id
),
agg AS (
  SELECT s.q_id, s.q_label,
         sum(s.rel) AS hits,
         sum(CASE WHEN s.rel = 1 THEN d.d ELSE 0 END) AS dcg,
         min(CASE WHEN s.rel = 1 THEN s.rn END) AS first_hit
  FROM scored s JOIN disc d ON d.rnk = s.rn
  WHERE s.rn <= 10 GROUP BY s.q_id, s.q_label
)
SELECT a.q_id,
       CASE WHEN t.label_n - 1 > 0
            THEN CAST(a.hits AS DOUBLE) / (t.label_n - 1) ELSE 0.0 END
         AS recall_at_k,
       coalesce(1.0 / a.first_hit, 0.0) AS mrr,
       CASE WHEN t.label_n - 1 > 0
            THEN CAST(a.dcg AS DOUBLE)
                 / (SELECT p FROM disc
                    WHERE rnk = least(10, t.label_n - 1)) ELSE 0.0 END
         AS ndcg_at_k
FROM agg a JOIN totals t ON a.q_label = t.q_label
""",
)
def retrieval_metrics_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.retrieval_metrics(
        _emb(spark, sf_dir), k=10, n_queries=20, n_lists=16, n_probe=4
    )


@register(
    "hard_negative_mining",
    description="Hard-negative mining for contrastive training: per "
    "anchor (first 20 vectors), the 10 most-similar DIFFERENT-label "
    "vectors ranked hardest-first — the near-miss negatives that carry "
    "the training signal. Broadcast anchor set, one scan of the "
    "collection, per-anchor top-k window; at full-corpus scale compose "
    "with IVF/LSH cells instead of all-pairs",
    survey_ref="J8,M5,W4",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label, nrm AS qnrm
      FROM n WHERE vec_id < 20),
scored AS (
  SELECT q.q_id, n.vec_id, n.label,
         round(list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm), 6) AS cosine_sim,
         row_number() OVER (PARTITION BY q.q_id
                            ORDER BY round(list_dot_product(n.v, q.qv)
                                           / (n.nrm * q.qnrm), 6) DESC,
                                     n.vec_id ASC) AS rn
  FROM n JOIN q ON n.label <> q.q_label
)
SELECT q_id, vec_id, label, cosine_sim, CAST(rn AS INT) AS rank
FROM scored WHERE rn <= 10
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hard_negative_mining(_emb(spark, sf_dir), k=10, n_queries=20)


@register(
    "ann_lsh_topk",
    description="Approximate kNN: random-hyperplane LSH buckets (8 tables "
    "x 4 bits — tuned for this fixture's weakly-correlated vectors; real "
    "near-dup corpora use 8-16 bits) then exact rank within candidates — "
    "the sub-quadratic scale path. Planes are md5-derived (see "
    "similarity._plane_matrix), so the oracle replays signature → bucket "
    "→ candidate → top-k entirely in SQL: the whole ANN path is "
    "hash-checked, and recall vs knn_brute_force is asserted in tests",
    survey_ref="J8,M5",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), planes AS (
  SELECT p.p AS plane, i.i AS idx,
         CASE WHEN (('0x' || substr(md5(p.p::VARCHAR || ':' || i.i::VARCHAR), 1, 8))::BIGINT & 1) = 1
              THEN 1.0 ELSE -1.0 END AS s
  FROM range(32) p(p) CROSS JOIN range(64) i(i)
), sig AS (
  SELECT e.vec_id, pl.plane,
         sum(e.v[pl.idx + 1] * pl.s) >= 0 AS bit
  FROM e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.plane
), buckets AS (
  SELECT vec_id, plane // 4 AS tbl,
         sum(CASE WHEN bit THEN 1 ELSE 0 END * (1 << (3 - (plane % 4)))) AS bucket
  FROM sig GROUP BY vec_id, plane // 4
), qb AS (
  SELECT tbl, bucket FROM buckets WHERE vec_id = 0
), cand AS (
  SELECT DISTINCT b.vec_id
  FROM buckets b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
  WHERE b.vec_id <> 0
), q AS (SELECT v FROM e WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.v)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v))),
             6) AS cosine_sim
FROM e JOIN cand ON e.vec_id = cand.vec_id, q
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    return similarity.ann_top_k(
        vectors, _query_list(spark, sf_dir, 0), k=10, n_planes=4, n_tables=8, dim=64
    )


@register(
    "ivf_ann_topk",
    description="IVF approximate kNN: deterministic coarse quantizer "
    "(centroids = the 16 vectors with smallest md5(id), an engine-portable "
    "sample), nearest-centroid inverted lists, probe the 4 lists nearest "
    "the query, exact cosine within — the centroid-bucketed ANN scale "
    "path, hash-checked end-to-end (assignment → probe → top-k replayed "
    "in SQL). The data-adaptive KMeans variant is "
    "similarity.ivf_ann_top_k, recall-tested beside this one",
    survey_ref="J8,M5",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0
), cent AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS list_id, v
  FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
), assign AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.v), c.list_id) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), q AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0
), qprobe AS (
  SELECT c.list_id FROM cent c, q
  ORDER BY list_distance(q.v, c.v), c.list_id LIMIT 4
), cand AS (
  SELECT vec_id FROM assign WHERE list_id IN (SELECT list_id FROM qprobe)
)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.v)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v))),
             6) AS cosine_sim
FROM e JOIN cand ON e.vec_id = cand.vec_id, q
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    return similarity.ivf_deterministic_top_k(
        vectors, _query_list(spark, sf_dir, 0), k=10, n_lists=16, n_probe=4
    )


@register(
    "text_dedup_keep_canonical",
    description="End-to-end training-data dedup: 3-gram Jaccard >= 0.8 "
    "edges → connected components → keep only each group's canonical "
    "(min doc_id) — the filtered corpus a pretraining pipeline ships "
    "(oracle: recursive-CTE components over the same edges)",
    survey_ref="M3,M4,A5",
    oracle="""
WITH RECURSIVE d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), s AS (
  SELECT doc_id,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, greatest(len(t) - 1, 1))]) AS sh
  FROM d WHERE len(t) >= 3
), ex AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s
), cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
), edges AS (
  SELECT c.a_id AS src, c.b_id AS dst
  FROM cand c JOIN s sa ON c.a_id = sa.doc_id JOIN s sb ON c.b_id = sb.doc_id
  WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0
              / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.8
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), canon AS (
  SELECT src AS doc_id, min(dst) AS canonical_id FROM reach GROUP BY src
)
SELECT d.doc_id, dd.lang, dd.n_chars
FROM canon d JOIN documents dd ON d.doc_id = dd.doc_id
WHERE d.doc_id = d.canonical_id
""",
)
def text_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    shingled = dedup.shingled_docs(
        docs.repartition(spark.sparkContext.defaultParallelism)
    )
    # pre_partitioned: toks is repartitioned above, so the operator's
    # entry exchange would round-robin the heavy shingle arrays a second
    # time (optimization round 13 — the one r12 caller that missed it).
    # Round-13 note (measured, then reverted): an exact-duplicate
    # contraction (pair expansion over one representative per distinct
    # shingle set) cut the 5×-amplified pair occurrences 34.2M → 1.27M
    # but its extra passes over the array-heavy shingled frame cost
    # MORE than the pair savings at both 1× and 5× (2.2→2.7 s and
    # 6.6→7.6 s warm); the superlinearity this query was flagged for
    # was instead the edge subtree executing twice inside
    # `canonical_components` — fixed there (edges checkpointed once
    # before symmetrizing), 5× total 16 s → ~7 s, sublinear again.
    edges = dedup.jaccard_pairs(
        shingled, "doc_id", "sh", threshold=0.8, pre_partitioned=True
    )
    labels = dedup.canonical_components(edges, docs, "doc_id")
    survivors = labels.filter(F.col("doc_id") == F.col("canonical_id")).select(
        "doc_id"
    )
    return survivors.join(docs, "doc_id").select("doc_id", "lang", "n_chars")


@register(
    "vector_concat_norm",
    description="F12 vector concat (image+text → combined, ref "
    "extracting_embeddings.py:436-437) + L2 norm projection",
    survey_ref="F12,F13",
    oracle="""
SELECT vec_id,
       CAST(len(list_concat(embedding, embedding)) AS INTEGER) AS combined_dim,
       round(sqrt(list_dot_product(list_concat(embedding::DOUBLE[], embedding::DOUBLE[]),
                                   list_concat(embedding::DOUBLE[], embedding::DOUBLE[]))), 6)
         AS combined_norm
FROM embeddings
""",
)
def vector_concat_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import l2_norm

    e = _emb(spark, sf_dir)
    combined = "concat(embedding, embedding)"
    return e.select(
        "vec_id",
        F.expr(f"size({combined})").alias("combined_dim"),
        F.round(l2_norm(combined), 6).alias("combined_norm"),
    )


def _hash_embed_query_vec(spark, sf_dir: str, doc_id: int, dim: int):
    """doc ``doc_id``'s hash-projection embedding, computed DRIVER-side
    through the SAME ``hash_projection_embedder`` closure the
    distributed stage runs (single implementation — r12 VERDICT item 8:
    the old ``embedded.filter(id==0).first()`` was a full mapInPandas
    SQL execution per run just to fetch one fixed vector). The doc text
    comes from a pyarrow row-group-pruned read of the same parquet
    bytes, per invocation (nothing memoized); the Spark ``first()``
    path remains as the fallback. Returns None when pyarrow cannot
    serve the row (caller falls back)."""
    import os as _os

    try:
        import pyarrow as _pa
        import pyarrow.dataset as _pds
    except ImportError:
        return None
    from ..operators import multimodal

    try:
        t = _pds.dataset(
            _os.path.join(sf_dir, "documents.parquet"), format="parquet"
        ).to_table(
            columns=["doc_id", "text"], filter=_pds.field("doc_id") == doc_id
        )
        if t.num_rows < 1:
            return None
        out = next(
            multimodal.hash_projection_embedder(dim=dim)(
                iter([t.slice(0, 1).to_pandas()])
            )
        )
        return [float(x) for x in out["embedding"][0]]
    except (OSError, _pa.ArrowInvalid, StopIteration):
        return None


@register(
    "hash_embed_knn",
    description="M1 embedding-stage plumbing: deterministic md5 "
    "feature-hashing embedder over documents via mapInPandas "
    "(model-per-executor shape), then exact top-5 cosine vs doc_id=0 — "
    "the oracle re-derives the embeddings bucket-by-bucket in SQL, so "
    "the Python embedding stage is hash-checked end-to-end",
    survey_ref="M1,U2,J8",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), h AS (
  SELECT doc_id, ('0x'||substr(md5(t),1,8))::BIGINT AS hv FROM tok
), contrib AS (
  SELECT doc_id, (hv % 64)::INT AS bucket,
         CASE WHEN ((hv >> 16) & 1) = 1 THEN 1.0 ELSE -1.0 END AS w
  FROM h
), vec AS (
  SELECT doc_id, bucket, sum(w) AS v FROM contrib GROUP BY doc_id, bucket
), nrm AS (
  SELECT doc_id, sqrt(sum(v * v)) AS n FROM vec GROUP BY doc_id
), dims AS (
  SELECT doc.doc_id, dd.d AS d, coalesce(vec.v, 0.0) AS v
  FROM (SELECT doc_id FROM documents) doc
  CROSS JOIN range(64) dd(d)
  LEFT JOIN vec ON vec.doc_id = doc.doc_id AND vec.bucket = dd.d
), arr AS (
  SELECT dims.doc_id, list(dims.v / nrm.n ORDER BY dims.d) AS e
  FROM dims JOIN nrm ON nrm.doc_id = dims.doc_id
  GROUP BY dims.doc_id
)
SELECT a.doc_id, round(list_dot_product(a.e, q.e), 6) AS cosine_sim
FROM arr a, (SELECT e FROM arr WHERE doc_id = 0) q(e)
WHERE a.doc_id <> 0
ORDER BY cosine_sim DESC, a.doc_id ASC
LIMIT 5
""",
)
def hash_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embedded = docs.mapInPandas(
        multimodal.hash_projection_embedder(dim=64),
        "doc_id long, embedding array<double>",
    )
    emb = _hash_embed_query_vec(spark, sf_dir, 0, 64)
    if emb is None:
        emb = list(
            embedded.filter(F.col("doc_id") == 0).select("embedding").first()[0]
        )
    from ..functions.vectors import py_l2_norm

    return similarity.knn_brute_force(
        embedded.filter(F.col("doc_id") != 0),
        emb,
        k=5,
        id_col="doc_id",
        query_norm=py_l2_norm(emb),
    )


@register(
    "hybrid_rrf_search",
    description="Hybrid lexical+semantic retrieval by reciprocal-rank "
    "fusion (Cormack et al. 2009): BM25 top-50 over documents and "
    "exact cosine top-50 over embeddings fused as sum(1/(60+rank)) — "
    "rank, not score, crosses the fusion boundary (no calibration), "
    "absent-from-a-list reported as rank 0 and contributes nothing; "
    "fusion join/windows touch at most 100 rows regardless of corpus "
    "size (the reference serves the two modalities separately, "
    "app.py:208-264 vs app.py:331-349)",
    survey_ref="J8,W4,A1,J1",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
), base AS (
  SELECT doc_id, toks, len(toks) AS dl FROM t
), corpus AS (
  SELECT count(*) AS n_docs, sum(len(toks)) / count(*) AS avgdl FROM t
), hits AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
  WHERE term IN ('merge', 'spark', 'window')
  GROUP BY doc_id, dl, term
), dfreq AS (
  SELECT term, count(*) AS dfr FROM hits GROUP BY term
), scored AS (
  SELECT h.doc_id,
         ((cast(c.n_docs AS DOUBLE) - d.dfr + 0.5) / (d.dfr + 0.5))
         * ((cast(h.tf AS DOUBLE) * 2.2)
            / (cast(h.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (h.dl / c.avgdl)))) AS s
  FROM hits h JOIN dfreq d USING (term), corpus c
), lexall AS (
  SELECT doc_id, cast(sum(cast(s AS DECIMAL(38, 6))) AS DOUBLE) AS bm25
  FROM scored GROUP BY doc_id
), lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM lexall QUALIFY lex_rank <= 50
), semall AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM embeddings e,
       (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
), sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine_sim DESC, doc_id ASC) AS sem_rank
  FROM semall QUALIFY sem_rank <= 50
)
SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
       coalesce(l.lex_rank, 0) AS lex_rank,
       coalesce(s.sem_rank, 0) AS sem_rank,
       coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
         + coalesce(1.0 / (60.0 + s.sem_rank), 0.0) AS rrf_score
FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
""",
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import py_l2_norm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ql = _query_list(spark, sf_dir, 0)
    return similarity.hybrid_rrf_search(
        docs,
        _emb(spark, sf_dir),
        ["merge", "spark", "window"],
        ql,
        k=10,
        top_n=50,
        query_norm=py_l2_norm(ql),
    )


@register(
    "pq_ann_topk",
    description="Product-quantization ANN (J\u00e9gou et al. 2011): L2-normalize, "
    "m=8 subspaces \u00d7 16 deterministic codewords (md5-sample, as IVF), "
    "integer micro-unit ADC shortlist (top-100) \u2192 exact cosine re-rank "
    "top-10 \u2014 the memory-compression ANN scale path (m bytes/vector), "
    "hash-checked end-to-end incl. the ADC scores",
    survey_ref="J8,M5",
    oracle="""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id <> 0
), e AS (
  SELECT vec_id, v0,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM e0
), cw AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS c, v
  FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
), dims AS (
  SELECT len(v) // 8 AS sd FROM e LIMIT 1
), q0 AS (
  SELECT embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id = 0
), q AS (
  SELECT v0, list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM q0
), assign AS (
  SELECT vec_id, j, c FROM (
    SELECT e.vec_id, j.j, cwc.c,
           row_number() OVER (PARTITION BY e.vec_id, j.j
               ORDER BY list_distance(e.v[j.j*sd+1 : (j.j+1)*sd],
                                      cwc.v[j.j*sd+1 : (j.j+1)*sd]), cwc.c) AS rn
    FROM e CROSS JOIN generate_series(0, 7) AS j(j) CROSS JOIN cw cwc, dims
  ) WHERE rn = 1
), lut AS (
  SELECT j.j, cwc.c,
         CAST(trunc(list_dot_product(q.v[j.j*sd+1 : (j.j+1)*sd],
                                     cwc.v[j.j*sd+1 : (j.j+1)*sd]) * 1e6) AS BIGINT) AS ipm
  FROM generate_series(0, 7) AS j(j) CROSS JOIN cw cwc, q, dims
), short AS (
  SELECT a.vec_id, CAST(sum(l.ipm) AS BIGINT) AS adc_micro
  FROM assign a JOIN lut l ON a.j = l.j AND a.c = l.c
  GROUP BY a.vec_id
  ORDER BY adc_micro DESC, vec_id LIMIT 100
)
SELECT e.vec_id, s.adc_micro,
       round(list_dot_product(e.v0, q.v0)
             / (sqrt(list_dot_product(e.v0, e.v0)) * sqrt(list_dot_product(q.v0, q.v0))),
             6) AS cosine_sim
FROM e JOIN short s ON e.vec_id = s.vec_id, q
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    return similarity.pq_deterministic_top_k(
        vectors, _query_list(spark, sf_dir, 0), k=10, m=8, n_codes=16, shortlist=100
    )


@register(
    "semdedup_prune",
    description="SemDeDup cluster-scoped semantic dedup (arXiv:2303.09540): "
    "deterministic md5-sample quantizer (16 lists) → in-cluster pairwise "
    "cosine only → drop points with a smaller-id neighbor ≥ 0.42 — the "
    "O(Σc²) scale path for the exact semantic_dedup_canonical beside it; "
    "assignment, in-cluster pairs, and the survivor set all replay in SQL, "
    "so corpus membership itself is hash-checked",
    survey_ref="M3,J9,A5",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
), cent AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS list_id, v
  FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
), assign AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.v), c.list_id) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), n AS (
  SELECT e.vec_id, e.v, e.label, a.list_id,
         sqrt(list_dot_product(e.v, e.v)) AS nrm
  FROM e JOIN assign a USING (vec_id)
), dup AS (
  SELECT DISTINCT a.vec_id
  FROM n a JOIN n b ON a.list_id = b.list_id AND b.vec_id < a.vec_id
  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.42
)
SELECT vec_id, label FROM n
WHERE vec_id NOT IN (SELECT vec_id FROM dup)
""",
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return similarity.semdedup_prune(emb, threshold=0.42, n_lists=16).select(
        "vec_id", "label"
    )


@register(
    "sq8_ann_topk",
    description="Scalar-quantization (SQ8) ANN: L2-normalize, compress "
    "each dimension to ONE byte against per-dim global [min, max] "
    "(the FAISS SQ8 memory codec beside PQ — no codebook search), "
    "score by the decoded inner product integerized per-dim to exact "
    "BIGINT micro-units, shortlist top-100 -> exact cosine re-rank "
    "top-10; hash-checked end-to-end including the integer scores",
    survey_ref="J8,M5",
    oracle="""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id <> 0
), e AS (
  SELECT vec_id, v0,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM e0
), q0 AS (
  SELECT embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id = 0
), q AS (
  SELECT v0, list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM q0
), mm AS (
  SELECT j.j, min(e.v[j.j]) AS lo, max(e.v[j.j]) AS hi
  FROM e CROSS JOIN generate_series(1, 64) AS j(j)
  GROUP BY j.j
), lut AS (
  SELECT mm.j, mm.lo,
         CASE WHEN mm.hi = mm.lo THEN 0.0
              ELSE 255.0 / (mm.hi - mm.lo) END AS sc,
         CAST(trunc(q.v[mm.j] * mm.lo * 1e6) AS BIGINT) AS qbase,
         CASE WHEN mm.hi = mm.lo THEN 0
              ELSE CAST(trunc(q.v[mm.j] * ((mm.hi - mm.lo) / 255.0) * 1e6)
                        AS BIGINT) END AS qd
  FROM mm, q
), scores AS (
  SELECT e.vec_id,
         CAST(sum(l.qbase
                  + LEAST(255, GREATEST(0,
                      CAST(floor((e.v[l.j] - l.lo) * l.sc) AS INT)))
                    * l.qd) AS BIGINT) AS approx_micro
  FROM e CROSS JOIN lut l
  GROUP BY e.vec_id
), short AS (
  SELECT vec_id, approx_micro FROM scores
  ORDER BY approx_micro DESC, vec_id ASC LIMIT 100
)
SELECT e.vec_id, s.approx_micro,
       round(list_dot_product(e.v0, q.v0)
             / (sqrt(list_dot_product(e.v0, e.v0))
                * sqrt(list_dot_product(q.v0, q.v0))), 6) AS cosine_sim
FROM e JOIN short s ON e.vec_id = s.vec_id, q
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    return similarity.sq8_deterministic_top_k(
        vectors, _query_list(spark, sf_dir, 0), k=10, shortlist=100
    )


@register(
    "bq_ann_topk",
    description="Binary-quantization (BQ) ANN: 1 sign bit per "
    "dimension packed into BIGINT words (the 32x-compression codec "
    "Qdrant/Lucene ship as binary quantization — the reference's "
    "vector store supports exactly this), score by XOR+popcount "
    "hamming distance in whole-stage codegen, shortlist the 100 "
    "closest (hamming asc, id asc) -> exact cosine re-rank top-10; "
    "hash-checked end-to-end including the per-row hamming distances",
    survey_ref="J8,M5",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id <> 0
), q AS (
  SELECT embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id = 0
), ham AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN (e.v0[j.j] > 0) <> (q.v0[j.j] > 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS hamming
  FROM e CROSS JOIN generate_series(1, 64) AS j(j), q
  GROUP BY e.vec_id
), short AS (
  SELECT vec_id, hamming FROM ham
  ORDER BY hamming ASC, vec_id ASC LIMIT 100
)
SELECT e.vec_id, s.hamming,
       round(list_dot_product(e.v0, q.v0)
             / (sqrt(list_dot_product(e.v0, e.v0))
                * sqrt(list_dot_product(q.v0, q.v0))), 6) AS cosine_sim
FROM e JOIN short s ON e.vec_id = s.vec_id, q
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def bq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    return similarity.bq_deterministic_top_k(
        vectors, _query_list(spark, sf_dir, 0), k=10, shortlist=100
    )


# ---------------------------------------------------------------- persisted
# ANN index (operators/ann_index.py): built + upserted ONCE per process per
# sf_dir; the registered query times only the serving read. Same memo
# pattern as plans/queries_scale.py's txn fixtures (round-6 VERDICT item 1).
_ANN_FIXTURE: dict[str, str] = {}


def _ann_index_root(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _ANN_FIXTURE:
        import atexit
        import hashlib
        import os
        import shutil
        import tempfile

        from ..operators import ann_index

        # keyed by the FULL sf_dir path + pid, exactly as the text-index
        # fixture (round-8 ADVICE): two concurrent bench/correctness
        # processes on the same scale factor — or distinct sf_dirs
        # sharing a basename — must never alias onto one root and
        # destroy each other's index mid-probe
        tag = hashlib.md5(
            os.path.abspath(sf_dir).encode("utf-8")
        ).hexdigest()[:10]
        root = os.path.join(
            tempfile.gettempdir(), f"spark_graft_annidx_{tag}_p{os.getpid()}"
        )
        shutil.rmtree(root, ignore_errors=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        base = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
        # label stored IN the index (payload-on-point): the
        # ann_payload_topk member filters on it with no side table;
        # storing it changes nothing for the other members' outputs
        ann_index.build_ann_index(spark, base, root, payload_cols=["label"])
        # incremental maintenance: vectors divisible by 7 are re-embedded
        # (deterministically: reversed array — norm-preserving and
        # SQL-replayable) through the VECTOR-ONLY update path (round 10:
        # ann_index_update_vectors — payload is read back from the live
        # fold, not re-sent; values equal the build's, so every member
        # oracle replays the identical state while the driver exercises
        # the update_vectors readback end-to-end)
        upd = base.filter(F.col("vec_id") % 7 == 0).select(
            "vec_id", F.reverse(F.col("embedding")).alias("embedding")
        )
        ann_index.ann_index_update_vectors(spark, upd, root)
        # payload-only mutation (round 10): re-label WITHOUT touching
        # vectors — ann_index_set_payload commits an overlay the
        # serving fold merges; the flip rule is deterministic and
        # SQL-replayable (the `plabel` CTE in _ANN_IDX_CTES), and the
        # ann_payload_topk / ann_set_payload_page members are
        # hash-checked against the post-flip payload state
        flips = base.filter(
            (F.col("vec_id") % 11 == 3)
            | ((F.col("label") == 2) & (F.col("vec_id") % 13 == 1))
        ).select(
            "vec_id",
            F.when(F.col("vec_id") % 11 == 3, F.lit(2))
            .otherwise(F.lit(9))
            .alias("label"),
        )
        ann_index.ann_index_set_payload(spark, flips, root)
        _ANN_FIXTURE[sf_dir] = root
    return _ANN_FIXTURE[sf_dir]


# DuckDB replay of the persisted-index fixture, factored once: the
# post-upsert STATE (vec_id%7 reversed), the deterministic quantizers
# (md5-sample centroids + codebook), and the list ASSIGNMENT every
# serving member's oracle starts from. `_ann_serve_sql` composes the
# full probe → ADC shortlist → exact re-rank replay around a member-
# specific query-vector CTE (named `q`, columns v0/v), an optional
# exclusion predicate on the probed rows, and the member's final
# SELECT — so the index arithmetic is spelled out exactly once and
# every member (top-k, recommend, grouped) is hash-checked against
# the identical state.
_ANN_IDX_CTES = """eb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id <> 0
), state AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 0 THEN list_reverse(v0) ELSE v0 END AS v0
  FROM eb
), sn AS (
  SELECT vec_id, v0,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM state
), cent AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS list_id, v0 AS v
  FROM eb ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
), cw AS (
  SELECT row_number() OVER (ORDER BY md5(eb.vec_id::VARCHAR), eb.vec_id) - 1 AS c,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM eb ORDER BY md5(eb.vec_id::VARCHAR), eb.vec_id LIMIT 16
), dims AS (
  SELECT len(v0) // 8 AS sd FROM eb LIMIT 1
), assign AS (
  SELECT vec_id, list_id FROM (
    SELECT s.vec_id, c.list_id,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY list_distance(s.v0, c.v), c.list_id) AS rn
    FROM state s CROSS JOIN cent c
  ) WHERE rn = 1
), plabel AS (
  SELECT vec_id,
         CASE WHEN vec_id % 11 = 3 THEN 2
              WHEN label = 2 AND vec_id % 13 = 1 THEN 9
              ELSE label END AS label
  FROM embeddings WHERE vec_id <> 0
)"""

_ANN_Q0_CTE = """q0 AS (
  SELECT embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id = 0
), q AS (
  SELECT v0, list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM q0
)"""

_ANN_TOPK_TAIL = """
SELECT p.vec_id, s.adc_micro,
       round(list_dot_product(p.v0, q.v0)
             / (sqrt(list_dot_product(p.v0, p.v0)) * sqrt(list_dot_product(q.v0, q.v0))),
             6) AS cosine_sim
FROM probed p JOIN short s ON p.vec_id = s.vec_id, q
ORDER BY cosine_sim DESC, p.vec_id ASC
LIMIT 10"""


def _ann_serve_sql(q_cte: str, exclude_sql: str, tail_sql: str) -> str:
    return f"""
WITH {_ANN_IDX_CTES}, {q_cte}, qprobe AS (
  SELECT c.list_id FROM cent c, q
  ORDER BY list_distance(q.v0, c.v), c.list_id LIMIT 4
), probed AS (
  SELECT sn.vec_id, sn.v0, sn.v FROM sn
  JOIN assign a ON sn.vec_id = a.vec_id
  WHERE a.list_id IN (SELECT list_id FROM qprobe){exclude_sql}
), codes AS (
  SELECT vec_id, j, c FROM (
    SELECT p.vec_id, j.j, cwc.c,
           row_number() OVER (PARTITION BY p.vec_id, j.j
               ORDER BY list_distance(p.v[j.j*sd+1 : (j.j+1)*sd],
                                      cwc.v[j.j*sd+1 : (j.j+1)*sd]), cwc.c) AS rn
    FROM probed p CROSS JOIN generate_series(0, 7) AS j(j) CROSS JOIN cw cwc, dims
  ) WHERE rn = 1
), lut AS (
  SELECT j.j, cwc.c,
         CAST(trunc(list_dot_product(q.v[j.j*sd+1 : (j.j+1)*sd],
                                     cwc.v[j.j*sd+1 : (j.j+1)*sd]) * 1e6) AS BIGINT) AS ipm
  FROM generate_series(0, 7) AS j(j) CROSS JOIN cw cwc, q, dims
), short AS (
  SELECT cds.vec_id, CAST(sum(l.ipm) AS BIGINT) AS adc_micro
  FROM codes cds JOIN lut l ON cds.j = l.j AND cds.c = l.c
  GROUP BY cds.vec_id
  ORDER BY adc_micro DESC, vec_id LIMIT 100
){tail_sql}
"""


@register(
    "ann_index_topk",
    description="Persisted ANN index served from versioned-table "
    "components (operators/ann_index.py — the Qdrant persistent-"
    "collection analog, ref extracting_embeddings.py:60-84): IVF "
    "per-list segments with manifest stats + PQ codes + stored "
    "centroid/codebook meta, built once and UPDATED once (vec_id%7 "
    "re-embedded as reversed vectors via ann_index_update_vectors — "
    "payload read back, not re-sent — encoded with the stored "
    "quantizers); the timed body is index-read + probe only — meta "
    "read, 4 metadata-pruned list segments ∪ the delta tail, latest-"
    "per-key fold, JVM ADC shortlist, exact re-rank. Hash-checked "
    "end-to-end including ADC scores over the post-upsert state",
    survey_ref="M5,S14,J8,S12",
    oracle=_ann_serve_sql(_ANN_Q0_CTE, "", _ANN_TOPK_TAIL),
)
def ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ann_index

    root = _ann_index_root(spark, sf_dir)
    return ann_index.ann_index_top_k(
        spark, root, _query_list(spark, sf_dir, 0), k=10, n_probe=4, shortlist=100
    )


# Qdrant average_vector recommend: P + (P - N) over the STORED example
# vectors (7 is %7-reversed — the oracle reads `state`, not the raw
# corpus), sequential ascending-id accumulation, examples excluded.
_ANN_RECO_Q_CTE = """pex AS (
  SELECT vec_id, v0 FROM state WHERE vec_id IN (5, 7, 11, 13)
), qp AS (
  SELECT list_transform(list_zip(a.v0, b.v0, c.v0),
                        z -> ((z[1] + z[2]) + z[3]) / 3.0) AS p
  FROM (SELECT v0 FROM pex WHERE vec_id = 7) a,
       (SELECT v0 FROM pex WHERE vec_id = 11) b,
       (SELECT v0 FROM pex WHERE vec_id = 13) c
), qv AS (
  SELECT list_transform(list_zip(qp.p, n.v0),
                        z -> z[1] + (z[1] - z[2])) AS v0
  FROM qp, (SELECT v0 FROM pex WHERE vec_id = 5) n
), q AS (
  SELECT v0, list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM qv
)"""


@register(
    "ann_recommend_topk",
    description="Qdrant recommend API on the persisted index "
    "(client.recommend(positive=[7,11,13], negative=[5]), the "
    "average_vector strategy: search P + (P - N) with the examples "
    "excluded — the 'more like these' flow the reference's dashboard "
    "approximates with raw per-point searches, app.py:208-264): "
    "example vectors come from the INDEX state (7 carries its "
    "upserted re-embedding, not the corpus row), the derived point "
    "serves through the standard pruned probe, and the oracle spells "
    "out the identical sequential-IEEE average arithmetic before "
    "replaying the whole probe → ADC → re-rank chain",
    survey_ref="M5,J8,S14",
    oracle=_ann_serve_sql(
        _ANN_RECO_Q_CTE,
        " AND sn.vec_id NOT IN (5, 7, 11, 13)",
        _ANN_TOPK_TAIL,
    ),
)
def ann_recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ann_index

    root = _ann_index_root(spark, sf_dir)
    return ann_index.ann_index_recommend(
        spark, root, positive_ids=[7, 11, 13], negative_ids=[5],
        k=10, n_probe=4, shortlist=100,
    )


@register(
    "ann_payload_topk",
    description="Payload-on-point filtered serve (Qdrant's payload "
    "model, one step past the allowed_ids side-table shape): the "
    "index stores the label column IN its rows (build_ann_index "
    "payload_cols), and payload_filter='label = 2' applies BEFORE "
    "the shortlist with no join at all — the predicate pushes into "
    "the probed segments' parquet scans (plan-gated in "
    "tests/test_ann_payload.py). The fixture then RE-LABELS points "
    "through ann_index_set_payload (round 10 — Qdrant set_payload: "
    "payload-only mutation, vectors untouched), so this member also "
    "hash-checks that the filter sees the overlay-merged values: the "
    "oracle replays the flip rule (plabel CTE) as the equivalent id "
    "set over the same index state",
    survey_ref="M5,J8,S14,M2",
    oracle=_ann_serve_sql(
        _ANN_Q0_CTE,
        " AND sn.vec_id IN (SELECT vec_id FROM plabel WHERE label = 2)",
        _ANN_TOPK_TAIL,
    ),
)
def ann_payload_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ann_index

    root = _ann_index_root(spark, sf_dir)
    return ann_index.ann_index_top_k(
        spark, root, _query_list(spark, sf_dir, 0), k=10, n_probe=4,
        shortlist=100, payload_filter="label = 2",
    )


_ANN_GROUPED_TAIL = """, flat AS (
  SELECT p.vec_id,
         round(list_dot_product(p.v0, q.v0)
               / (sqrt(list_dot_product(p.v0, p.v0)) * sqrt(list_dot_product(q.v0, q.v0))),
               6) AS cosine_sim
  FROM probed p JOIN short s ON p.vec_id = s.vec_id, q
  ORDER BY cosine_sim DESC, p.vec_id ASC
  LIMIT 40
), tagged AS (
  SELECT f.vec_id, f.cosine_sim, e.label
  FROM flat f JOIN embeddings e ON f.vec_id = e.vec_id
), ranked AS (
  SELECT label, vec_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY label
              ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank_in_group
  FROM tagged
), best AS (
  SELECT label, CAST(row_number() OVER (
              ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS group_rank
  FROM ranked WHERE rank_in_group = 1
)
SELECT r.label, b.group_rank, r.rank_in_group, r.vec_id, r.cosine_sim
FROM ranked r JOIN best b ON r.label = b.label
WHERE r.rank_in_group <= 2 AND b.group_rank <= 3"""


@register(
    "ann_grouped_topk",
    description="Qdrant search-groups analog on the persisted index "
    "(client.search_groups(group_by='label', limit=3, group_size=2)): "
    "one flat pruned serve fetches top-40, the group key joins on "
    "those 40 rows only, groups rank by their BEST hit (cosine desc, "
    "id asc) and each shows at most group_size hits — the diversified "
    "provider-level page the reference's flat Qdrant order cannot "
    "produce (app.py:208-264 over a provider-skewed heritage corpus)",
    survey_ref="M5,J8,W5,W4",
    oracle=_ann_serve_sql(_ANN_Q0_CTE, "", _ANN_GROUPED_TAIL),
)
def ann_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ann_index

    root = _ann_index_root(spark, sf_dir)
    return ann_index.ann_index_top_k_grouped(
        spark, root, _query_list(spark, sf_dir, 0),
        groups=_emb(spark, sf_dir).select("vec_id", "label"),
        group_col="label", k_groups=3, group_size=2, fetch_k=40,
    )


@register(
    "ann_scroll_page",
    description="Qdrant scroll analog over the persisted index — the "
    "keyset-paged point listing the reference's dedup job sweeps with "
    "(deduplicate_from_qdrant.py: client.scroll(limit=1000, "
    "offset=next_page)): one mid-stream page (after_id=13, limit=17) "
    "of the live fold under a payload filter (even ids), returning "
    "(vec_id, ann_list) — the stored list placements, so the page "
    "hash-checks the post-upsert assignment state; keyset predicate "
    "pushes below the fold, page order is data-derived (W1, never "
    "OFFSET)",
    survey_ref="M5,W1,S14",
    oracle=f"""
WITH {_ANN_IDX_CTES}
SELECT s.vec_id, CAST(a.list_id AS INTEGER) AS ann_list
FROM state s JOIN assign a ON s.vec_id = a.vec_id
WHERE s.vec_id > 13 AND s.vec_id % 2 = 0
ORDER BY s.vec_id ASC
LIMIT 17
""",
)
def ann_scroll_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ann_index

    root = _ann_index_root(spark, sf_dir)
    allowed = _emb(spark, sf_dir).filter(F.col("vec_id") % 2 == 0).select(
        "vec_id"
    )
    return ann_index.ann_index_scroll(
        spark, root, limit=17, after_id=13, allowed_ids=allowed
    )


@register(
    "ann_set_payload_page",
    description="Qdrant set_payload analog served back (round 10): the "
    "fixture re-labels points payload-only (ann_index_set_payload — "
    "an O(batch) overlay segment, vectors and posting layout "
    "untouched; the reference does this flow by full upsert, "
    "deduplicate_from_qdrant.py:188-210), and this member pages the "
    "live fold WITH payload, hash-checking that every returned label "
    "is the overlay-merged value (flip rule replayed by the plabel "
    "CTE) — the re-labeling-without-re-embedding flow end-to-end",
    survey_ref="M5,M2,S14,W1",
    oracle=f"""
WITH {_ANN_IDX_CTES}
SELECT s.vec_id, CAST(a.list_id AS INTEGER) AS ann_list, p.label
FROM state s
JOIN assign a ON s.vec_id = a.vec_id
JOIN plabel p ON s.vec_id = p.vec_id
WHERE s.vec_id > 20
ORDER BY s.vec_id ASC
LIMIT 15
""",
)
def ann_set_payload_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ann_index

    root = _ann_index_root(spark, sf_dir)
    return ann_index.ann_index_scroll(
        spark, root, limit=15, after_id=20, with_payload=True
    )


@register(
    "ann_index_count",
    description="Qdrant count-points analog (client.count(collection, "
    "count_filter=...)): live (latest-per-key, tombstone-aware) point "
    "count under a payload filter (label = 2) — the collection-size "
    "bookkeeping the reference's dedup sweep runs before scrolling; "
    "the scan reads ONLY id/epoch/flag columns and partial-aggregates "
    "map-side",
    survey_ref="M5,A1,S14",
    oracle="""
SELECT count(*) AS n_points
FROM embeddings
WHERE vec_id <> 0
  AND vec_id IN (SELECT vec_id FROM embeddings WHERE label = 2)
""",
)
def ann_index_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ann_index

    root = _ann_index_root(spark, sf_dir)
    allowed = _emb(spark, sf_dir).filter(F.col("label") == 2).select("vec_id")
    return ann_index.ann_index_count(spark, root, allowed_ids=allowed)


# The MMR greedy chain, unrolled as CTEs over a caller-supplied `cand`
# CTE (vec_id, v, rel) and `q` CTE (qv) — factored once (round 10) so
# the corpus-shortlist member (mmr_rerank_topk) and the index-served
# member (mmr_rerank_indexed) replay the IDENTICAL selection
# arithmetic; only the candidate source differs.
_MMR_UNROLL_TAIL = """, pair AS (
  SELECT a.vec_id AS ai, b.vec_id AS bi,
         round(list_dot_product(
                 list_transform(a.v, x -> x / sqrt(list_dot_product(a.v, a.v))),
                 list_transform(b.v, x -> x / sqrt(list_dot_product(b.v, b.v)))),
               6) AS sim
  FROM cand a, cand b
), lam AS (
  SELECT CAST(0.7 AS DOUBLE) AS l,
         CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE) AS m
), s1 AS (
  SELECT c.vec_id, c.rel, lam.l * c.rel AS score
  FROM cand c, lam ORDER BY score DESC, c.vec_id ASC LIMIT 1
), s2 AS (
  SELECT c.vec_id, c.rel,
         lam.l * c.rel - lam.m * (
           SELECT max(p.sim) FROM pair p
           WHERE p.ai = c.vec_id AND p.bi IN (SELECT vec_id FROM s1)) AS score
  FROM cand c, lam WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
), sel2 AS (
  SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2
), s3 AS (
  SELECT c.vec_id, c.rel,
         lam.l * c.rel - lam.m * (
           SELECT max(p.sim) FROM pair p
           WHERE p.ai = c.vec_id AND p.bi IN (SELECT vec_id FROM sel2)) AS score
  FROM cand c, lam WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
), sel3 AS (
  SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3
), s4 AS (
  SELECT c.vec_id, c.rel,
         lam.l * c.rel - lam.m * (
           SELECT max(p.sim) FROM pair p
           WHERE p.ai = c.vec_id AND p.bi IN (SELECT vec_id FROM sel3)) AS score
  FROM cand c, lam WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
), sel4 AS (
  SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4
), s5 AS (
  SELECT c.vec_id, c.rel,
         lam.l * c.rel - lam.m * (
           SELECT max(p.sim) FROM pair p
           WHERE p.ai = c.vec_id AND p.bi IN (SELECT vec_id FROM sel4)) AS score
  FROM cand c, lam WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
)
SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id,
       rel AS cosine_sim, score AS mmr_score
FROM (
  SELECT 1 AS mmr_rank, vec_id, rel, score FROM s1
  UNION ALL SELECT 2, vec_id, rel, score FROM s2
  UNION ALL SELECT 3, vec_id, rel, score FROM s3
  UNION ALL SELECT 4, vec_id, rel, score FROM s4
  UNION ALL SELECT 5, vec_id, rel, score FROM s5
)
ORDER BY mmr_rank
"""


@register(
    "mmr_rerank_topk",
    description="M5 MMR diversified re-rank (Carbonell/Goldstein 1998): "
    "greedy top-5 over the exact-cosine top-20 shortlist, "
    "lambda=0.7 — the diversification pass over raw kNN order the "
    "reference never applies (app.py:208-264 serves raw order). The "
    "greedy argmax chain is deterministic (round-6 sims, id "
    "tie-break), so the oracle UNROLLS the five selection steps as "
    "CTEs: both engines compute lambda*rel - (1-lambda)*max_sim from "
    "bit-identical rounded inputs with identical IEEE "
    "parenthesization (the (1.0 - 0.7) subtraction is spelled out on "
    "both sides because its result is NOT the literal 0.3)",
    survey_ref="J8,M5,W4",
    oracle="""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         round(list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS rel
  FROM embeddings e, q
  WHERE e.vec_id <> 0
  ORDER BY rel DESC, e.vec_id ASC
  LIMIT 20
)"""
    + _MMR_UNROLL_TAIL,
)
def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
    return similarity.mmr_rerank(
        vectors, _query_list(spark, sf_dir, 0), k=5, lambda_=0.7, top_n=20
    )


@register(
    "mmr_rerank_indexed",
    description="MMR diversified top-k served from the PERSISTED ANN "
    "index (round-10 promotion into the checked window): the probed "
    "index rows supply both the relevance shortlist and the pairwise "
    "diversity vectors — zero corpus scans, completing the "
    "index-served stack beside raw kNN / recommend / grouped. Probes "
    "ALL 16 lists so the candidate set is exactly the post-upsert "
    "top-20 (vec_id%7 carry their re-embedded vectors) and the oracle "
    "replays the identical greedy chain over the state CTE through "
    "the shared unroll; the pruned-probe recall path is pinned "
    "separately in tests/test_retrieval.py",
    survey_ref="J8,M5,W4,S14",
    oracle="""
WITH eb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id <> 0
), state AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 0 THEN list_reverse(v0) ELSE v0 END AS v0
  FROM eb
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT s.vec_id, s.v0 AS v,
         round(list_dot_product(s.v0, q.qv)
               / (sqrt(list_dot_product(s.v0, s.v0))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS rel
  FROM state s, q
  ORDER BY rel DESC, s.vec_id ASC
  LIMIT 20
)"""
    + _MMR_UNROLL_TAIL,
)
def mmr_rerank_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ann_index

    root = _ann_index_root(spark, sf_dir)
    return ann_index.mmr_rerank_indexed(
        spark, root, _query_list(spark, sf_dir, 0),
        k=5, lambda_=0.7, top_n=20, n_probe=16,
    )


# ---------------------------------------------------------------- indexed
# hybrid serving (round-11 promotion into the checked window): both
# persisted-index fixtures replayed in ONE oracle — the lexical branch
# is the post-upsert text-fixture BM25 (the bm25_index_search corpus
# replay, text mutations spelled out), the semantic branch is the ANN
# fixture's BQ-hamming probe replay over _ANN_IDX_CTES (post-
# update_vectors state), and the fusion is the RRF arithmetic of
# hybrid_rrf_search. CTE names are disjoint from _ANN_IDX_CTES by
# construction.
_HYBRID_LEX_CTES = """t AS (
  SELECT doc_id, string_split(lower(trim(
           CASE WHEN doc_id % 5 = 0 THEN text || ' merge merge'
                WHEN doc_id % 7 = 3 THEN text || ' spark'
                ELSE text END)), ' ') AS toks
  FROM documents
), tbase AS (
  SELECT doc_id, toks, len(toks) AS dl FROM t
), corpus AS (
  SELECT count(*) AS n_docs, sum(len(toks)) / count(*) AS avgdl FROM t
), hits AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM tbase)
  WHERE term IN ('merge', 'spark', 'window')
  GROUP BY doc_id, dl, term
), dfreq AS (
  SELECT term, count(*) AS dfr FROM hits GROUP BY term
), lexsc AS (
  SELECT h.doc_id,
         ((cast(c.n_docs AS DOUBLE) - d.dfr + 0.5) / (d.dfr + 0.5))
         * ((cast(h.tf AS DOUBLE) * 2.2)
            / (cast(h.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (h.dl / c.avgdl)))) AS s
  FROM hits h JOIN dfreq d USING (term), corpus c
), lexall AS (
  SELECT doc_id, cast(sum(cast(s AS DECIMAL(38, 6))) AS DOUBLE) AS bm25
  FROM lexsc GROUP BY doc_id
), lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM lexall QUALIFY lex_rank <= 50
)"""

# BQ-hamming probe replay of the ANN branch (codec='bq', n_probe=4,
# shortlist=200, top_n=50 over the post-update state) + the RRF fuse.
_HYBRID_FUSE_CTES = (
    "WITH "
    + _HYBRID_LEX_CTES
    + ", "
    + _ANN_IDX_CTES
    + ", "
    + _ANN_Q0_CTE
    + """, qprobe AS (
  SELECT c.list_id FROM cent c, q
  ORDER BY list_distance(q.v0, c.v), c.list_id LIMIT 4
), probed AS (
  SELECT sn.vec_id, sn.v0 FROM sn
  JOIN assign a ON sn.vec_id = a.vec_id
  WHERE a.list_id IN (SELECT list_id FROM qprobe)
), ham AS (
  SELECT p.vec_id,
         CAST(sum(CASE WHEN (p.v0[j.j] > 0) <> (q.v0[j.j] > 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS hamming
  FROM probed p CROSS JOIN generate_series(1, 64) AS j(j), q
  GROUP BY p.vec_id
), shortb AS (
  SELECT vec_id, hamming FROM ham
  ORDER BY hamming ASC, vec_id ASC LIMIT 200
), semall AS (
  SELECT p.vec_id AS doc_id,
         round(list_dot_product(p.v0, q.v0)
               / (sqrt(list_dot_product(p.v0, p.v0))
                  * sqrt(list_dot_product(q.v0, q.v0))), 6) AS cosine_sim
  FROM probed p JOIN shortb s ON p.vec_id = s.vec_id, q
  ORDER BY cosine_sim DESC, p.vec_id ASC LIMIT 50
), semr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine_sim DESC, doc_id ASC) AS sem_rank
  FROM semall
), fusedall AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0) AS lex_rank,
         coalesce(s.sem_rank, 0) AS sem_rank,
         coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
           + coalesce(1.0 / (60.0 + s.sem_rank), 0.0) AS rrf_score
  FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
)"""
)


@register(
    "hybrid_indexed_search",
    description="Hybrid lexical+semantic retrieval served ENTIRELY "
    "from persisted state (round-11 promotion): the lexical branch "
    "reads the inverted text index (bit-equal to corpus-scan BM25 "
    "over the post-upsert fixture corpus), the semantic branch reads "
    "the persisted ANN index (BQ hamming shortlist + exact cosine "
    "re-rank over the post-update_vectors state), both top-50 lists "
    "fuse by reciprocal-rank (sum 1/(60+rank), absent = rank 0) — "
    "the deployment-hot query path while the streaming sinks "
    "maintain both indexes behind it (the reference serves the two "
    "modalities separately, app.py:208-264 vs :331-349). The oracle "
    "replays BOTH index fixtures and the fusion arithmetic in one "
    "SQL program",
    survey_ref="J8,W4,M5,S14,J1",
    oracle=_HYBRID_FUSE_CTES
    + """
SELECT doc_id, lex_rank, sem_rank, rrf_score
FROM fusedall
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
""",
)
def hybrid_indexed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_text import _text_index_root

    t_root = _text_index_root(spark, sf_dir)
    a_root = _ann_index_root(spark, sf_dir)
    return similarity.hybrid_rrf_search_indexed(
        spark, t_root, a_root, ["merge", "spark", "window"],
        _query_list(spark, sf_dir, 0),
        k=10, top_n=50, rrf_k=60, n_probe=4, shortlist=200,
    )


@register(
    "hybrid_grouped_page",
    description="Search-groups over the fully index-served HYBRID "
    "page (round-11 promotion, and the r10 verdict's top fix): fused "
    "top-25 diversified by the ANN index's STORED label payload — "
    "the label rides the fused hits via payload_out (zero extra "
    "reads), lexical-only hits resolve through ONE pushed-IN point "
    "lookup (row-group-pruned), label-less hits drop (Qdrant "
    "search_groups semantics), and the live fold is NEVER scanned. "
    "Groups rank by their best fused hit, 2 hits per group, top 3 "
    "groups — the full diversified dashboard page the reference's "
    "flat Qdrant + flat SQL orders cannot produce (app.py:94-264). "
    "Hash-checked against the dual-fixture replay INCLUDING the "
    "set_payload flips (plabel CTE)",
    survey_ref="J8,W5,W4,M5,M2,S14",
    oracle=_HYBRID_FUSE_CTES
    + """, flat AS (
  SELECT doc_id, rrf_score FROM fusedall
  ORDER BY rrf_score DESC, doc_id ASC
  LIMIT 25
), tagged AS (
  SELECT f.doc_id, f.rrf_score, p.label
  FROM flat f JOIN plabel p ON f.doc_id = p.vec_id
), ranked AS (
  SELECT label, doc_id, rrf_score,
         CAST(row_number() OVER (PARTITION BY label
              ORDER BY rrf_score DESC, doc_id ASC) AS INTEGER) AS rank_in_group
  FROM tagged
), best AS (
  SELECT label, CAST(row_number() OVER (
              ORDER BY rrf_score DESC, doc_id ASC) AS INTEGER) AS group_rank
  FROM ranked WHERE rank_in_group = 1
)
SELECT r.label, b.group_rank, r.rank_in_group, r.doc_id, r.rrf_score
FROM ranked r JOIN best b ON r.label = b.label
WHERE r.rank_in_group <= 2 AND b.group_rank <= 3
""",
)
def hybrid_grouped_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_text import _text_index_root

    t_root = _text_index_root(spark, sf_dir)
    a_root = _ann_index_root(spark, sf_dir)
    return similarity.hybrid_grouped_search_indexed(
        spark, t_root, a_root, ["merge", "spark", "window"],
        _query_list(spark, sf_dir, 0),
        groups=None, group_col="label", k_groups=3, group_size=2,
        fetch_k=25, top_n=50, rrf_k=60, n_probe=4, shortlist=200,
        id_col="doc_id", vec_id_col="vec_id",
    )


# ---------------------------------------------------------------- named-
# vector collection (operators/collection.py): built ONCE per process per
# sf_dir — two spaces on one point set (image = dims 1..32, combined =
# all 64) with a SHARED payload, one shared re-label through
# collection_set_payload, consistency published as one pin pair.
_MV_FIXTURE: dict[str, str] = {}

# shared replay of the collection's IMAGE space (dims 1..32): its own
# md5-sample quantizers (16 centroids, m=8 so sd=4 over the sliced
# vectors), query = vec 0's slice, n_probe=4 probe, ADC shortlist 100.
# collection_image_search takes the flat top-10; collection_grouped_page
# re-ranks the SAME flat page through the search-groups windows.
_MV_IMG_CTES = """eb2 AS (
  SELECT vec_id, (embedding::DOUBLE[])[1:32] AS v0
  FROM embeddings WHERE vec_id <> 0
), sn2 AS (
  SELECT vec_id, v0,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM eb2
), cent2 AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS list_id, v0 AS v
  FROM eb2 ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
), cw2 AS (
  SELECT row_number() OVER (ORDER BY md5(eb2.vec_id::VARCHAR), eb2.vec_id) - 1 AS c,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM eb2 ORDER BY md5(eb2.vec_id::VARCHAR), eb2.vec_id LIMIT 16
), dims2 AS (
  SELECT len(v0) // 8 AS sd FROM eb2 LIMIT 1
), assign2 AS (
  SELECT vec_id, list_id FROM (
    SELECT s.vec_id, c.list_id,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY list_distance(s.v0, c.v), c.list_id) AS rn
    FROM eb2 s CROSS JOIN cent2 c
  ) WHERE rn = 1
), q2 AS (
  SELECT (embedding::DOUBLE[])[1:32] AS v0,
         list_transform((embedding::DOUBLE[])[1:32],
                        x -> x / sqrt(list_dot_product((embedding::DOUBLE[])[1:32],
                                                       (embedding::DOUBLE[])[1:32]))) AS v
  FROM embeddings WHERE vec_id = 0
), qprobe2 AS (
  SELECT c.list_id FROM cent2 c, q2
  ORDER BY list_distance(q2.v0, c.v), c.list_id LIMIT 4
), probed2 AS (
  SELECT sn2.vec_id, sn2.v0, sn2.v FROM sn2
  JOIN assign2 a ON sn2.vec_id = a.vec_id
  WHERE a.list_id IN (SELECT list_id FROM qprobe2)
), codes2 AS (
  SELECT vec_id, j, c FROM (
    SELECT p.vec_id, j.j, cwc.c,
           row_number() OVER (PARTITION BY p.vec_id, j.j
               ORDER BY list_distance(p.v[j.j*sd+1 : (j.j+1)*sd],
                                      cwc.v[j.j*sd+1 : (j.j+1)*sd]), cwc.c) AS rn
    FROM probed2 p CROSS JOIN generate_series(0, 7) AS j(j) CROSS JOIN cw2 cwc, dims2
  ) WHERE rn = 1
), lut2 AS (
  SELECT j.j, cwc.c,
         CAST(trunc(list_dot_product(q2.v[j.j*sd+1 : (j.j+1)*sd],
                                     cwc.v[j.j*sd+1 : (j.j+1)*sd]) * 1e6) AS BIGINT) AS ipm
  FROM generate_series(0, 7) AS j(j) CROSS JOIN cw2 cwc, q2, dims2
), short2 AS (
  SELECT cds.vec_id, CAST(sum(l.ipm) AS BIGINT) AS adc_micro
  FROM codes2 cds JOIN lut2 l ON cds.j = l.j AND cds.c = l.c
  GROUP BY cds.vec_id
  ORDER BY adc_micro DESC, vec_id LIMIT 100
)"""


def _mv_collection_root(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _MV_FIXTURE:
        import atexit
        import hashlib
        import os
        import shutil
        import tempfile

        from ..operators import collection

        tag = hashlib.md5(
            os.path.abspath(sf_dir).encode("utf-8")
        ).hexdigest()[:10]
        root = os.path.join(
            tempfile.gettempdir(), f"spark_graft_mvcoll_{tag}_p{os.getpid()}"
        )
        shutil.rmtree(root, ignore_errors=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        pts = _emb(spark, sf_dir).filter(F.col("vec_id") != 0).select(
            "vec_id",
            F.slice(F.col("embedding"), 1, 32).alias("image_emb"),
            F.col("embedding").alias("combined_emb"),
            F.col("label"),
            F.lit("pending").alias("status"),
        )
        collection.collection_create(
            spark, pts, root,
            spaces={
                "image": {"vec_col": "image_emb"},
                "combined": {"vec_col": "combined_emb"},
            },
            payload_cols=["label", "status"],
        )
        # ONE shared re-label: visible to filtered serves and
        # retrieves on EVERY space together (the Qdrant point-payload
        # atomicity the two-root composition pin-publishes)
        flips = pts.filter(F.col("vec_id") % 10 == 1).select(
            "vec_id", F.lit("validated").alias("status")
        )
        collection.collection_set_payload(spark, flips, root)
        _MV_FIXTURE[sf_dir] = root
    return _MV_FIXTURE[sf_dir]


@register(
    "collection_image_search",
    description="Named-vector collection serve (round 11 — the "
    "reference's actual Qdrant shape: image + combined named vectors "
    "on ONE point with a shared status payload, "
    "extracting_embeddings.py:60-84; its dedup job searches the "
    "image space, deduplicate_from_qdrant.py:53-83): kNN against the "
    "32-d image space only, served at the collection's pin-published "
    "pair through the ordinary pruned probe — the oracle replays the "
    "image space's own quantizers (md5-sample centroids + codebook "
    "over the SLICED vectors, sd = 4) end-to-end through the ADC "
    "shortlist and exact re-rank",
    survey_ref="M5,J8,M2,S14",
    oracle=f"""
WITH {_MV_IMG_CTES}
SELECT p.vec_id, s.adc_micro,
       round(list_dot_product(p.v0, q2.v0)
             / (sqrt(list_dot_product(p.v0, p.v0)) * sqrt(list_dot_product(q2.v0, q2.v0))),
             6) AS cosine_sim
FROM probed2 p JOIN short2 s ON p.vec_id = s.vec_id, q2
ORDER BY cosine_sim DESC, p.vec_id ASC
LIMIT 10
""",
)
def collection_image_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import collection

    root = _mv_collection_root(spark, sf_dir)
    q = _query_list(spark, sf_dir, 0)[:32]
    return collection.collection_search(
        spark, root, "image", q, k=10, n_probe=4, shortlist=100
    )


@register(
    "collection_relabel_page",
    description="Shared-payload retrieve over the named-vector "
    "collection (round 11): ONE collection_set_payload re-labeled "
    "status pending→validated for vec_id%10==1 and the flip is "
    "visible to every space together (atomic pin-pair publish — the "
    "point-payload atomicity a real Qdrant multi-vector point has, "
    "which two independent index roots lack; reference "
    "deduplicate_from_qdrant.py:188-210). This member retrieves a "
    "50-id page with the shared payload and hash-checks the merged "
    "values — pushed-IN point reads, never a fold scan",
    survey_ref="M2,M5,S14,W1",
    oracle="""
SELECT vec_id, label,
       CASE WHEN vec_id % 10 = 1 THEN 'validated' ELSE 'pending' END AS status
FROM embeddings
WHERE vec_id <> 0 AND vec_id BETWEEN 40 AND 89
""",
)
def collection_relabel_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import collection

    root = _mv_collection_root(spark, sf_dir)
    return collection.collection_retrieve(
        spark, root, list(range(40, 90))
    )


@register(
    "collection_grouped_page",
    description="Qdrant search_groups over the named-vector collection "
    "(round 12 — collection-surface completion into the checked "
    "window): the diversified provider page on the IMAGE space, "
    "grouped by the SHARED payload label that rides the probed rows "
    "(groups=None stored-payload mode — zero extra reads), served at "
    "the collection's pinned pair. The oracle replays the image "
    "space's quantizers through the same flat top-20 page, then the "
    "search-groups windows: rank within label (cosine desc, id asc, "
    "keep 2), groups by their best hit (keep 3)",
    survey_ref="M5,J8,W5,M2,S14",
    oracle=f"""
WITH {_MV_IMG_CTES}, flatg AS (
  SELECT p.vec_id,
         round(list_dot_product(p.v0, q2.v0)
               / (sqrt(list_dot_product(p.v0, p.v0))
                  * sqrt(list_dot_product(q2.v0, q2.v0))), 6) AS cosine_sim
  FROM probed2 p JOIN short2 s ON p.vec_id = s.vec_id, q2
  ORDER BY cosine_sim DESC, p.vec_id ASC
  LIMIT 20
), taggedg AS (
  SELECT f.vec_id, f.cosine_sim, e.label
  FROM flatg f JOIN embeddings e ON f.vec_id = e.vec_id
), rankedg AS (
  SELECT label, vec_id, cosine_sim,
         CAST(row_number() OVER (PARTITION BY label
              ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS rank_in_group
  FROM taggedg
), bestg AS (
  SELECT label, CAST(row_number() OVER (
              ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS group_rank
  FROM rankedg WHERE rank_in_group = 1
)
SELECT r.label, b.group_rank, r.rank_in_group, r.vec_id, r.cosine_sim
FROM rankedg r JOIN bestg b ON r.label = b.label
WHERE r.rank_in_group <= 2 AND b.group_rank <= 3
""",
)
def collection_grouped_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import collection

    root = _mv_collection_root(spark, sf_dir)
    q = _query_list(spark, sf_dir, 0)[:32]
    return collection.collection_search_grouped(
        spark, root, "image", q, "label",
        k_groups=3, group_size=2, fetch_k=20, n_probe=4, shortlist=100,
    )


# replay of the collection's COMBINED space (the full 64-d vectors —
# the space the reference dashboard actually recommends on): its own
# md5-sample quantizers (16 centroids, m=8 so sd=8 over the full
# vectors), plus the positive-only Qdrant average_vector query — the
# mean of the stored example vectors, accumulated in ascending-id
# order with the exact parenthesization recommend_query_vector uses,
# examples excluded BEFORE the shortlist (ann_index.py:781-786).
_MV_CMB_RECO_CTES = """eb3 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v0
  FROM embeddings WHERE vec_id <> 0
), sn3 AS (
  SELECT vec_id, v0,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM eb3
), cent3 AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS list_id, v0 AS v
  FROM eb3 ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
), cw3 AS (
  SELECT row_number() OVER (ORDER BY md5(eb3.vec_id::VARCHAR), eb3.vec_id) - 1 AS c,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM eb3 ORDER BY md5(eb3.vec_id::VARCHAR), eb3.vec_id LIMIT 16
), dims3 AS (
  SELECT len(v0) // 8 AS sd FROM eb3 LIMIT 1
), assign3 AS (
  SELECT vec_id, list_id FROM (
    SELECT s.vec_id, c.list_id,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY list_distance(s.v0, c.v), c.list_id) AS rn
    FROM eb3 s CROSS JOIN cent3 c
  ) WHERE rn = 1
), pex3 AS (
  SELECT vec_id, v0 FROM eb3 WHERE vec_id IN (3, 9)
), qv3 AS (
  SELECT list_transform(list_zip(a.v0, b.v0), z -> (z[1] + z[2]) / 2.0) AS v0
  FROM (SELECT v0 FROM pex3 WHERE vec_id = 3) a,
       (SELECT v0 FROM pex3 WHERE vec_id = 9) b
), q3 AS (
  SELECT v0, list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM qv3
), qprobe3 AS (
  SELECT c.list_id FROM cent3 c, q3
  ORDER BY list_distance(q3.v0, c.v), c.list_id LIMIT 4
), probed3 AS (
  SELECT sn3.vec_id, sn3.v0, sn3.v FROM sn3
  JOIN assign3 a ON sn3.vec_id = a.vec_id
  WHERE a.list_id IN (SELECT list_id FROM qprobe3)
    AND sn3.vec_id NOT IN (3, 9)
), codes3 AS (
  SELECT vec_id, j, c FROM (
    SELECT p.vec_id, j.j, cwc.c,
           row_number() OVER (PARTITION BY p.vec_id, j.j
               ORDER BY list_distance(p.v[j.j*sd+1 : (j.j+1)*sd],
                                      cwc.v[j.j*sd+1 : (j.j+1)*sd]), cwc.c) AS rn
    FROM probed3 p CROSS JOIN generate_series(0, 7) AS j(j) CROSS JOIN cw3 cwc, dims3
  ) WHERE rn = 1
), lut3 AS (
  SELECT j.j, cwc.c,
         CAST(trunc(list_dot_product(q3.v[j.j*sd+1 : (j.j+1)*sd],
                                     cwc.v[j.j*sd+1 : (j.j+1)*sd]) * 1e6) AS BIGINT) AS ipm
  FROM generate_series(0, 7) AS j(j) CROSS JOIN cw3 cwc, q3, dims3
), short3 AS (
  SELECT cds.vec_id, CAST(sum(l.ipm) AS BIGINT) AS adc_micro
  FROM codes3 cds JOIN lut3 l ON cds.j = l.j AND cds.c = l.c
  GROUP BY cds.vec_id
  ORDER BY adc_micro DESC, vec_id LIMIT 100
)"""


@register(
    "collection_recommend_topk",
    description="Qdrant recommend at the COLLECTION surface (round 12 "
    "— the reference dashboard's 'more like these' flow on the "
    "combined space, streamlit/app/app.py:208-264, joins the checked "
    "window): collection_recommend fetches the positive examples' "
    "STORED vectors and serves their average_vector through the "
    "combined space's pruned probe, BOTH reads at the collection's "
    "pinned pair (one manifest resolve — a concurrent mutation is "
    "never half-visible inside one recommendation). Positive-only "
    "branch (ann_recommend_topk covers P+(P-N)): the oracle spells "
    "out the ascending-id sequential mean over the full 64-d vectors, "
    "replays the combined space's own quantizers (sd = 8) through the "
    "ADC shortlist with the examples excluded BEFORE it, then the "
    "exact re-rank",
    survey_ref="M5,J8,M2,S14",
    oracle=f"""
WITH {_MV_CMB_RECO_CTES}
SELECT p.vec_id, s.adc_micro,
       round(list_dot_product(p.v0, q3.v0)
             / (sqrt(list_dot_product(p.v0, p.v0)) * sqrt(list_dot_product(q3.v0, q3.v0))),
             6) AS cosine_sim
FROM probed3 p JOIN short3 s ON p.vec_id = s.vec_id, q3
ORDER BY cosine_sim DESC, p.vec_id ASC
LIMIT 10
""",
)
def collection_recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import collection

    root = _mv_collection_root(spark, sf_dir)
    return collection.collection_recommend(
        spark, root, "combined", positive_ids=[3, 9],
        k=10, n_probe=4, shortlist=100,
    )


# the COMBINED space replayed for a PLAIN query (vec 0's full 64-d
# embedding, no example exclusion) — the semantic leg of the
# multi-space hybrid page. Same quantizer replay as the recommend
# member, different query CTE; suffix 4 keeps the two programs
# independent (each oracle must run standalone in DuckDB).
_MV_CMB_Q0_CTES = """eb4 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v0
  FROM embeddings WHERE vec_id <> 0
), sn4 AS (
  SELECT vec_id, v0,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM eb4
), cent4 AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS list_id, v0 AS v
  FROM eb4 ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
), cw4 AS (
  SELECT row_number() OVER (ORDER BY md5(eb4.vec_id::VARCHAR), eb4.vec_id) - 1 AS c,
         list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM eb4 ORDER BY md5(eb4.vec_id::VARCHAR), eb4.vec_id LIMIT 16
), dims4 AS (
  SELECT len(v0) // 8 AS sd FROM eb4 LIMIT 1
), assign4 AS (
  SELECT vec_id, list_id FROM (
    SELECT s.vec_id, c.list_id,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY list_distance(s.v0, c.v), c.list_id) AS rn
    FROM eb4 s CROSS JOIN cent4 c
  ) WHERE rn = 1
), q4 AS (
  SELECT embedding::DOUBLE[] AS v0,
         list_transform(embedding::DOUBLE[],
                        x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                       embedding::DOUBLE[]))) AS v
  FROM embeddings WHERE vec_id = 0
), qprobe4 AS (
  SELECT c.list_id FROM cent4 c, q4
  ORDER BY list_distance(q4.v0, c.v), c.list_id LIMIT 4
), probed4 AS (
  SELECT sn4.vec_id, sn4.v0, sn4.v FROM sn4
  JOIN assign4 a ON sn4.vec_id = a.vec_id
  WHERE a.list_id IN (SELECT list_id FROM qprobe4)
), codes4 AS (
  SELECT vec_id, j, c FROM (
    SELECT p.vec_id, j.j, cwc.c,
           row_number() OVER (PARTITION BY p.vec_id, j.j
               ORDER BY list_distance(p.v[j.j*sd+1 : (j.j+1)*sd],
                                      cwc.v[j.j*sd+1 : (j.j+1)*sd]), cwc.c) AS rn
    FROM probed4 p CROSS JOIN generate_series(0, 7) AS j(j) CROSS JOIN cw4 cwc, dims4
  ) WHERE rn = 1
), lut4 AS (
  SELECT j.j, cwc.c,
         CAST(trunc(list_dot_product(q4.v[j.j*sd+1 : (j.j+1)*sd],
                                     cwc.v[j.j*sd+1 : (j.j+1)*sd]) * 1e6) AS BIGINT) AS ipm
  FROM generate_series(0, 7) AS j(j) CROSS JOIN cw4 cwc, q4, dims4
), short4 AS (
  SELECT cds.vec_id, CAST(sum(l.ipm) AS BIGINT) AS adc_micro
  FROM codes4 cds JOIN lut4 l ON cds.j = l.j AND cds.c = l.c
  GROUP BY cds.vec_id
  ORDER BY adc_micro DESC, vec_id LIMIT 100
)"""


@register(
    "collection_hybrid_fused_page",
    description="MULTI-SPACE hybrid page over the named-vector "
    "collection (round 12 — Qdrant's Query-API hybrid: prefetch per "
    "named vector + RRF fusion; the reference dashboard could fuse "
    "its image and combined rankings of one item this way instead of "
    "serving one space raw, app.py:208-264): each leg is the flat "
    "top-50 of its space's pruned probe served at the collection's "
    "PINNED pair (one manifest resolve — the fused page can never mix "
    "two pin sets' states), fused as sum(1/(60+rank)) with absent "
    "legs reporting rank 0 and contributing nothing, plus the SHARED "
    "status payload (with its set_payload flips) riding one pushed-IN "
    "point retrieve at the SAME pin. The oracle replays BOTH spaces' "
    "quantizer chains (image sd=4 over the sliced vectors, combined "
    "sd=8 over the full vectors), both rank windows, the fusion "
    "arithmetic in the engine's term order (combined + image, sorted "
    "space names), and the payload flip rule",
    survey_ref="M5,J8,W4,W5,M2,S14",
    oracle=f"""
WITH {_MV_IMG_CTES}, {_MV_CMB_Q0_CTES}, img_rank AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS r
  FROM (
    SELECT p.vec_id,
           round(list_dot_product(p.v0, q2.v0)
                 / (sqrt(list_dot_product(p.v0, p.v0))
                    * sqrt(list_dot_product(q2.v0, q2.v0))), 6) AS cosine_sim
    FROM probed2 p JOIN short2 s ON p.vec_id = s.vec_id, q2
    ORDER BY cosine_sim DESC, p.vec_id ASC
    LIMIT 50
  )
), cmb_rank AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY cosine_sim DESC, vec_id ASC) AS INTEGER) AS r
  FROM (
    SELECT p.vec_id,
           round(list_dot_product(p.v0, q4.v0)
                 / (sqrt(list_dot_product(p.v0, p.v0))
                    * sqrt(list_dot_product(q4.v0, q4.v0))), 6) AS cosine_sim
    FROM probed4 p JOIN short4 s ON p.vec_id = s.vec_id, q4
    ORDER BY cosine_sim DESC, p.vec_id ASC
    LIMIT 50
  )
), fids AS (
  SELECT vec_id FROM img_rank UNION SELECT vec_id FROM cmb_rank
), fpage AS (
  SELECT i.vec_id,
         CAST(COALESCE(c.r, 0) AS INTEGER) AS rank_combined,
         CAST(COALESCE(g.r, 0) AS INTEGER) AS rank_image,
         (CASE WHEN c.r IS NULL THEN 0.0 ELSE 1.0 / (60.0 + c.r) END
          + CASE WHEN g.r IS NULL THEN 0.0 ELSE 1.0 / (60.0 + g.r) END)
           AS rrf_score
  FROM fids i
  LEFT JOIN cmb_rank c ON i.vec_id = c.vec_id
  LEFT JOIN img_rank g ON i.vec_id = g.vec_id
)
SELECT vec_id, rank_combined, rank_image, rrf_score,
       CASE WHEN vec_id % 10 = 1 THEN 'validated' ELSE 'pending' END AS status
FROM fpage
ORDER BY rrf_score DESC, vec_id ASC
LIMIT 10
""",
)
def collection_hybrid_fused_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import collection

    root = _mv_collection_root(spark, sf_dir)
    q_full = _query_list(spark, sf_dir, 0)
    return collection.collection_hybrid_page(
        spark, root,
        {"image": q_full[:32], "combined": q_full},
        k=10, rrf_k=60.0, top_n=50, n_probe=4, shortlist=100,
        payload_out=["status"],
    )


# dedicated collection fixture for the PURGE flow (the purge mutates, so
# it cannot share _MV_FIXTURE): the embeddings points plus planted
# EXACT image-space duplicates (vec_id%9==2 cloned to vec_id+100000 with
# the same image vector, different combined vector). The whole-collection
# dedup job runs ONCE at build — detection via one batch self-serve at
# the pinned image space with an exhaustive probe (n_probe=16 covers all
# lists; shortlist >> corpus), so the detected loser set is EXACTLY the
# all-pairs exact-cosine losers the oracle computes — and the losers are
# recorded before collection_delete removes them from every space.
_MV_PURGE_FIXTURE: dict[str, str] = {}

_MV_PURGE_LOSERS_SQL = """ptsd AS (
  SELECT vec_id, (embedding::DOUBLE[])[1:32] AS v, label
  FROM embeddings WHERE vec_id <> 0
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, (embedding::DOUBLE[])[1:32] AS v, label
  FROM embeddings WHERE vec_id <> 0 AND vec_id % 9 = 2
), lose AS (
  SELECT DISTINCT a.vec_id
  FROM ptsd a JOIN ptsd b ON b.vec_id < a.vec_id
  WHERE round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.97
)"""


def _mv_purge_root(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _MV_PURGE_FIXTURE:
        import atexit
        import hashlib
        import os
        import shutil
        import tempfile

        from ..operators import collection

        tag = hashlib.md5(
            os.path.abspath(sf_dir).encode("utf-8")
        ).hexdigest()[:10]
        root = os.path.join(
            tempfile.gettempdir(), f"spark_graft_mvpurge_{tag}_p{os.getpid()}"
        )
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_losers", ignore_errors=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        atexit.register(shutil.rmtree, root + "_losers", ignore_errors=True)
        base = _emb(spark, sf_dir).filter(F.col("vec_id") != 0)
        pts = base.select(
            "vec_id",
            F.slice(F.col("embedding"), 1, 32).alias("image_emb"),
            F.col("embedding").alias("combined_emb"),
            F.col("label"),
            F.lit("pending").alias("status"),
        )
        clones = base.filter(F.col("vec_id") % 9 == 2).select(
            (F.col("vec_id") + 100000).cast("long").alias("vec_id"),
            F.slice(F.col("embedding"), 1, 32).alias("image_emb"),
            F.reverse(F.col("embedding")).alias("combined_emb"),
            F.col("label"),
            F.lit("pending").alias("status"),
        )
        collection.collection_create(
            spark, pts.unionByName(clones), root,
            spaces={
                "image": {"vec_col": "image_emb"},
                "combined": {"vec_col": "combined_emb"},
            },
            payload_cols=["label", "status"],
        )
        losers = collection.collection_dedup_purge(
            spark, root, space="image", threshold=0.97,
            n_probe=16, shortlist=1_000_000, top_n=20,
        )
        losers.write.parquet(root + "_losers")
        _MV_PURGE_FIXTURE[sf_dir] = root
    return _MV_PURGE_FIXTURE[sf_dir]


@register(
    "collection_dedup_purge",
    description="The reference's WHOLE dedup job against the "
    "named-vector collection, in the checked window (round 12 — "
    "verdict item 6; deduplicate_from_qdrant.py:160-210 loops "
    "per-point HTTP searches then deletes duplicates point-by-point): "
    "one batch self-serve of the image space at the PINNED version "
    "detects >= 0.97 neighbors, min-id canonicals win, and the loser "
    "set — hash-checked here against an exact all-pairs replay over "
    "the planted-duplicate fixture — is deleted from EVERY space in "
    "one atomic pin publish. Exhaustive probe makes detection exact, "
    "so the ANN job and the all-pairs SQL must agree id-for-id",
    survey_ref="M3,M5,J9,S14",
    oracle=f"""
WITH {_MV_PURGE_LOSERS_SQL}
SELECT vec_id FROM lose
""",
)
def collection_dedup_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _mv_purge_root(spark, sf_dir)
    return spark.read.parquet(root + "_losers")


@register(
    "collection_purged_scroll",
    description="Post-purge collection state replay (round 12): after "
    "collection_dedup_purge deleted every planted duplicate POINT "
    "(all named vectors at once, one pin publish), a whole-collection "
    "scroll with the shared payload hash-checks the SURVIVING point "
    "set — originals intact with label + status, clones gone from the "
    "live fold every space serves",
    survey_ref="M3,M5,W1,M2,S14",
    oracle=f"""
WITH {_MV_PURGE_LOSERS_SQL}
SELECT p.vec_id, p.label, 'pending' AS status
FROM ptsd p
WHERE p.vec_id NOT IN (SELECT vec_id FROM lose)
""",
)
def collection_purged_scroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import collection

    root = _mv_purge_root(spark, sf_dir)
    return collection.collection_scroll(
        spark, root, limit=1_000_000, with_payload=True
    ).select("vec_id", "label", "status")


def _hybrid_batch_oracle(queries) -> str:
    """Per-query replay blocks for the BATCH hybrid serve: the shared
    corpus/index-state CTEs are emitted once; each (q_id, terms,
    query_vec_id) gets its own lexical ranking (term-set-specific df),
    BQ probe replay, and RRF fusion, unioned with the query id — so
    `hybrid_rrf_search_all`'s one-pass-per-index batch plan is checked
    against N independent single-query replays."""
    blocks, selects = [], []
    for i, (qid, terms, vid) in enumerate(queries):
        s = str(i)
        terms_sql = ", ".join(f"'{t}'" for t in terms)
        blocks.append(f""", hits{s} AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM tbase)
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, dl, term
), dfreq{s} AS (
  SELECT term, count(*) AS dfr FROM hits{s} GROUP BY term
), lexsc{s} AS (
  SELECT h.doc_id,
         ((cast(c.n_docs AS DOUBLE) - d.dfr + 0.5) / (d.dfr + 0.5))
         * ((cast(h.tf AS DOUBLE) * 2.2)
            / (cast(h.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (h.dl / c.avgdl)))) AS s
  FROM hits{s} h JOIN dfreq{s} d USING (term), corpus c
), lexr{s} AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM (SELECT doc_id, cast(sum(cast(s AS DECIMAL(38, 6))) AS DOUBLE) AS bm25
        FROM lexsc{s} GROUP BY doc_id)
  QUALIFY lex_rank <= 50
), q{s} AS (
  SELECT v0, list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
  FROM (SELECT embedding::DOUBLE[] AS v0 FROM embeddings WHERE vec_id = {vid})
), qprobe{s} AS (
  SELECT c.list_id FROM cent c, q{s}
  ORDER BY list_distance(q{s}.v0, c.v), c.list_id LIMIT 4
), probed{s} AS (
  SELECT sn.vec_id, sn.v0 FROM sn
  JOIN assign a ON sn.vec_id = a.vec_id
  WHERE a.list_id IN (SELECT list_id FROM qprobe{s})
), ham{s} AS (
  SELECT p.vec_id,
         CAST(sum(CASE WHEN (p.v0[j.j] > 0) <> (q{s}.v0[j.j] > 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS hamming
  FROM probed{s} p CROSS JOIN generate_series(1, 64) AS j(j), q{s}
  GROUP BY p.vec_id
), shortb{s} AS (
  SELECT vec_id, hamming FROM ham{s}
  ORDER BY hamming ASC, vec_id ASC LIMIT 200
), semr{s} AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine_sim DESC, doc_id ASC) AS sem_rank
  FROM (
    SELECT p.vec_id AS doc_id,
           round(list_dot_product(p.v0, q{s}.v0)
                 / (sqrt(list_dot_product(p.v0, p.v0))
                    * sqrt(list_dot_product(q{s}.v0, q{s}.v0))), 6) AS cosine_sim
    FROM probed{s} p JOIN shortb{s} sb ON p.vec_id = sb.vec_id, q{s}
    ORDER BY cosine_sim DESC, p.vec_id ASC LIMIT 50
  )
), fused{s} AS (
  SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0) AS lex_rank,
         coalesce(r.sem_rank, 0) AS sem_rank,
         coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
           + coalesce(1.0 / (60.0 + r.sem_rank), 0.0) AS rrf_score
  FROM lexr{s} l FULL OUTER JOIN semr{s} r ON l.doc_id = r.doc_id
)""")
        selects.append(
            f"SELECT '{qid}' AS q_id, doc_id, lex_rank, sem_rank, rrf_score "
            f"FROM (SELECT * FROM fused{s} "
            f"ORDER BY rrf_score DESC, doc_id ASC LIMIT 10)"
        )
    shared = """WITH t AS (
  SELECT doc_id, string_split(lower(trim(
           CASE WHEN doc_id % 5 = 0 THEN text || ' merge merge'
                WHEN doc_id % 7 = 3 THEN text || ' spark'
                ELSE text END)), ' ') AS toks
  FROM documents
), tbase AS (
  SELECT doc_id, toks, len(toks) AS dl FROM t
), corpus AS (
  SELECT count(*) AS n_docs, sum(len(toks)) / count(*) AS avgdl FROM t
), """ + _ANN_IDX_CTES
    return shared + "".join(blocks) + "\n" + "\nUNION ALL\n".join(selects)


_HYBRID_BATCH_QUERIES = [
    ("qa", ["merge", "spark", "window"], 0),
    ("qb", ["vector", "filter", "scan"], 3),
]


@register(
    "hybrid_batch_search",
    description="BATCH hybrid serving (round-11 promotion — the last "
    "tests-only member of the indexed-hybrid family): RRF-fused "
    "results for EVERY query in one pass over each persisted index "
    "(text_index_search_all reads the probed posting buckets once "
    "for the whole batch; ann_index_top_k_all reads the probed lists "
    "once) — the recommendation-refresh / eval-sweep shape vs the "
    "reference's per-query HTTP loops. At this member's |Q|=2 the "
    "batch path costs MORE than two sequential single serves (its "
    "fixed two-batch-read cost is ~2x one single query; measured "
    "break-even |Q|~4, 0.09x per-query at |Q|=32 — "
    "tools/hybrid_batch_curve.py, round 12): it is benched here for "
    "snapshot-consistent batch semantics, not speed. Two queries with "
    "different term sets AND different query vectors; the oracle "
    "replays each as an independent single-query fusion and unions "
    "them, so the batch plan's per-query rows are hash-checked "
    "against the single-path arithmetic",
    survey_ref="J8,W4,M5,S14,J1",
    oracle=_hybrid_batch_oracle(_HYBRID_BATCH_QUERIES),
)
def hybrid_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_text import _text_index_root

    t_root = _text_index_root(spark, sf_dir)
    a_root = _ann_index_root(spark, sf_dir)
    rows = [
        (qid, terms, _query_list(spark, sf_dir, vid))
        for qid, terms, vid in _HYBRID_BATCH_QUERIES
    ]
    queries = local_df(
        spark, rows, "q_id string, terms array<string>, embedding array<double>"
    )
    return similarity.hybrid_rrf_search_all(
        spark, t_root, a_root, queries,
        k=10, top_n=50, rrf_k=60, n_probe=4, shortlist=200,
    )
