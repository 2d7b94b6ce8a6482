"""Corpus-assembly catalog (SURVEY.md §2.10 north-star, round 2):
deterministic splits and weighted mixing — the md5-hash selection is
replayed verbatim by the DuckDB oracle, so corpus membership itself is
hash-checked. ``pack_sequences`` (greedy FFD packing inside
applyInPandas groups) is sequential-per-group by nature, so it stays a
library operator pinned by invariant tests (tests/test_corpus.py)
rather than a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import corpus
from ..sources.tables import load_table
from .catalog import register


@register(
    "hash_split_sets",
    description="Deterministic train/val/test split (80/10/10) by md5 "
    "bucket of doc_id - partition-layout/engine independent corpus "
    "membership (what seeded randomSplit is NOT), one stateless "
    "projection",
    survey_ref="W2,A5,M1",
    oracle="""
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bk
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN bk < 8000 THEN 'train'
            WHEN bk < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
)
def hash_split_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return corpus.hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )


@register(
    "corpus_mix_weighted",
    description="Weighted corpus mix: per-language sources kept at "
    "en=0.5/de=1.0/fr=0.25 by seeded md5 thresholding - the data-mixture "
    "sampling step of a pretraining recipe, deterministic across "
    "engines/layouts; filter + union, no shuffle",
    survey_ref="M1,X1,A5",
    oracle="""
SELECT doc_id, n_chars, 'en' AS source FROM documents
WHERE lang = 'en'
  AND ('0x' || substr(md5('3:en:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 5000
UNION ALL
SELECT doc_id, n_chars, 'de' AS source FROM documents
WHERE lang = 'de'
  AND ('0x' || substr(md5('3:de:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 10000
UNION ALL
SELECT doc_id, n_chars, 'fr' AS source FROM documents
WHERE lang = 'fr'
  AND ('0x' || substr(md5('3:fr:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 2500
""",
)
def corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    sources = {
        lang: docs.filter(F.col("lang") == lang).drop("lang")
        for lang in ("en", "de", "fr")
    }
    return corpus.weighted_mix(
        sources, {"en": 0.5, "de": 1.0, "fr": 0.25}, seed=3
    )


@register(
    "corpus_temperature_mix",
    description="Multinomial temperature resampling (alpha=0.5): keep "
    "fraction per source = sqrt(c_min/c_s), so source shares flatten "
    "toward p^alpha without row duplication — the multilingual LLM "
    "mixing recipe. sqrt is IEEE-correctly-rounded, so the oracle "
    "replays the exact row selection; counts/thresholds broadcast, "
    "selection is seeded md5 thresholding (no RNG)",
    survey_ref="M1,X1",
    oracle="""
WITH c AS (
  SELECT source, count(*) AS c FROM documents GROUP BY source
), m AS (
  SELECT min(c) AS cmin FROM c
), t AS (
  SELECT source,
         CAST(round(10000 * sqrt(CAST(cmin AS DOUBLE) / CAST(c AS DOUBLE))) AS BIGINT) AS thr
  FROM c, m
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN t ON d.source = t.source
WHERE ('0x' || substr(md5('11:' || d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < t.thr
""",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = corpus.temperature_mix(docs, alpha=0.5, seed=11)
    return out.select("doc_id", "lang", "source")


_MINHASH_CTES = """
d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM e1
), s AS (
  SELECT doc_id,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, greatest(len(t) - 1, 1))]) AS sh
  FROM d WHERE len(t) >= 3
), ex AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s
), h AS (
  SELECT doc_id,
         ('0x'||substr(md5(shingle),1,8))::BIGINT & 2147483647 AS h1,
         ('0x'||substr(md5(shingle),9,8))::BIGINT & 2147483647 AS h2
  FROM ex
), sig AS (
  SELECT doc_id, i.i AS i, min(h1 + i.i * h2) AS m
  FROM h, range(64) i(i) GROUP BY doc_id, i.i
), band AS (
  SELECT doc_id, i // 4 AS band,
         md5(string_agg(m::VARCHAR, ',' ORDER BY i)) AS bkey
  FROM sig GROUP BY doc_id, i // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM band a JOIN band b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), ver AS (
  SELECT c.a_id, c.b_id
  FROM cand c JOIN s sa ON c.a_id = sa.doc_id JOIN s sb ON c.b_id = sb.doc_id
  WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0
              / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.6
)"""

_QUALITY_CTES = """
tq AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM e2
), q AS (
  SELECT doc_id,
         least(len(toks) / 64.0, 1.0) * 0.4
           + (len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1)) * 0.4
           + (len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in'], x)))
              * 1.0 / greatest(len(toks), 1)) * 0.2 AS quality
  FROM tq
), g2 AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS gram
  FROM tq WHERE len(toks) >= 2
), c2 AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY doc_id, gram
), rep AS (
  SELECT doc_id, cast(sum(cnt) AS BIGINT) AS n_grams,
         count(*) AS n_distinct, max(cnt) AS top_cnt
  FROM c2 GROUP BY doc_id
), e3 AS (
  SELECT e2.* FROM e2
  JOIN q ON q.doc_id = e2.doc_id
  LEFT JOIN rep ON rep.doc_id = e2.doc_id
  WHERE q.quality >= 0.45
    AND coalesce((rep.n_grams - rep.n_distinct) * 1.0 / rep.n_grams, 0.0) <= 0.05
    AND coalesce(rep.top_cnt * 1.0 / rep.n_grams, 0.0) <= 0.06
)"""

_CONTAM_CTES = """
tb AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
  WHERE doc_id % 89 = 0
), bench_g AS (
  SELECT DISTINCT unnest([array_to_string(toks[i:i+5], ' ')
                          for i in range(1, len(toks) - 4)]) AS gram
  FROM tb WHERE len(toks) >= 6
), t3 AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM e3
  WHERE doc_id % 89 <> 0
), tr_g AS (
  SELECT DISTINCT doc_id, unnest([array_to_string(toks[i:i+5], ' ')
                                  for i in range(1, len(toks) - 4)]) AS gram
  FROM t3 WHERE len(toks) >= 6
), contam AS (
  SELECT DISTINCT tr_g.doc_id FROM tr_g JOIN bench_g ON tr_g.gram = bench_g.gram
), e4 AS (
  SELECT * FROM e3
  WHERE doc_id % 89 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)
)"""


@register(
    "training_corpus_pipeline",
    description="End-to-end training-corpus assembly (the LLM-data "
    "flagship): length floor -> exact dedup (md5, keep min id) -> "
    "MinHash-LSH near-dup prune (>=0.6, keep smaller id) -> quality "
    "filter (score >= 0.45 + Gopher repetition caps) -> 6-gram benchmark "
    "decontamination -> deterministic 90/10 split -> per-(split, lang) "
    "corpus stats. Every stage is md5-portable, so the full pipeline is "
    "hash-checked end to end",
    survey_ref="A5,F7,M3,J9,M1,W2,A1",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, n_chars, text FROM documents WHERE n_chars >= 100
), fp AS (
  SELECT doc_id, md5(lower(trim(text))) AS f FROM base
), exact_keep AS (
  SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f
), e1 AS (
  SELECT b.* FROM base b JOIN exact_keep k ON b.doc_id = k.keep_id
),{_MINHASH_CTES},
e2 AS (
  SELECT * FROM e1 WHERE doc_id NOT IN (SELECT b_id FROM ver)
),{_QUALITY_CTES},{_CONTAM_CTES},
sp AS (
  SELECT lang, n_chars,
         CASE WHEN ('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 9000
              THEN 'train' ELSE 'val' END AS split
  FROM e4
)
SELECT split, lang, count(*) AS n_docs,
       cast(sum(n_chars) AS BIGINT) AS n_chars_total
FROM sp GROUP BY split, lang
""",
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup, text

    docs = load_table(spark, sf_dir, "documents")
    # 1. length floor (cleanse). Project to the columns the funnel
    # actually carries (doc_id/text for the dedup+quality stages,
    # lang/n_chars for the final stats) BEFORE the checkpoints below:
    # e1/e2/e3 are MATERIALIZED stage outputs, and unused columns
    # (source) would be written and re-read three times (guide §2.2).
    base = docs.filter(F.col("n_chars") >= 100).select(
        "doc_id", "text", "lang", "n_chars"
    )
    # 2. exact dedup: md5(normalized text), keep min doc_id
    fp = base.select(
        "doc_id", F.md5(F.trim(F.lower("text")).cast("binary")).alias("f")
    )
    keep = fp.groupBy("f").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    # e1/e2/e3 each feed MULTIPLE downstream branches (minhash + prune;
    # quality + repetition + survivor join; contamination + split) —
    # checkpoint the stage outputs or every branch re-executes the whole
    # upstream funnel (measured 16.7s -> ~6s at sf0.1).
    # repartition BEFORE each checkpoint (optimization round 12, guide
    # §2.5/§2.6): AQE coalesces the post-join output to ~1 partition at
    # this data size, and localCheckpoint FREEZES that layout — every
    # downstream branch (shingling, quality, repetition, contamination
    # grams) then ran single-task (profiled: three 0.6-0.7s one-task
    # jobs per run). An explicit repartition survives AQE, so the
    # checkpointed stage outputs keep cluster-wide parallelism; the
    # exchange itself is the same bytes the checkpoint materializes
    # anyway.
    par = spark.sparkContext.defaultParallelism
    e1 = (
        base.join(keep, on="doc_id", how="leftsemi")
        .repartition(par)
        .localCheckpoint(eager=False)
    )
    # 3. near-dup prune: MinHash-LSH verified >= 0.6; drop the larger id
    # (e1 is checkpointed at `par` partitions, so the tokenize/shingle
    # projections inherit full parallelism with no extra exchange)
    shingled = dedup.shingled_docs(e1)
    pairs = dedup.minhash_lsh_pairs(
        shingled,
        "doc_id",
        "sh",
        threshold=0.6,
        hash_family="md5-portable",
        pre_partitioned=True,  # e1 checkpoint already holds par partitions
    )
    dupes = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    e2 = (
        e1.join(dupes, on="doc_id", how="left_anti")
        .repartition(par)
        .localCheckpoint(eager=False)
    )
    # 4. quality: trigram-independent score floor + Gopher repetition caps
    quality = text.text_stats(e2.select("doc_id", "text")).select(
        "doc_id", "quality_score"
    )
    rep = text.repetition_stats(e2, max_dup_frac=0.05, max_top_frac=0.06)
    e3 = (
        e2.join(quality.filter(F.col("quality_score") >= 0.45), "doc_id", "leftsemi")
        .join(rep.filter(F.col("keep")), "doc_id", "leftsemi")
        .repartition(par)
        .localCheckpoint(eager=False)
    )
    # 5. decontamination vs the deterministic benchmark split
    bench = docs.filter(F.col("doc_id") % 89 == 0)
    train_side = e3.filter(F.col("doc_id") % 89 != 0)
    contam = text.ngram_contamination(train_side, bench, n=6).select("doc_id")
    e4 = train_side.join(contam, on="doc_id", how="left_anti")
    # 6. deterministic split + corpus stats
    from ..operators import corpus as corpus_ops

    sp = corpus_ops.hash_split(e4, {"train": 0.9, "val": 0.1}, seed=11)
    return sp.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )


@register(
    "incremental_dedup_snapshot",
    description="Incremental snapshot dedup (the daily-crawl pattern): "
    "new docs (doc_id%3=0) deduped against the SEEN corpus's persisted "
    "index only — exact md5 anti-join + minhash band-key collision "
    "verified by signature-estimate Jaccard (>=39/64 matching "
    "components, an integer threshold) — per-increment cost, no "
    "old-corpus reprocessing; full pipeline md5-portable and "
    "hash-checked",
    survey_ref="M3,A5,P5",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars, lower(trim(text)) AS nt,
         string_split(lower(trim(text)), ' ') AS t,
         doc_id % 3 = 0 AS is_new
  FROM documents
), fp AS (
  SELECT doc_id, md5(nt) AS f, is_new FROM d
), new_exact AS (
  -- exact stage: min doc_id per fingerprint within new, fingerprint
  -- absent from the seen corpus
  SELECT min(doc_id) AS doc_id FROM fp WHERE is_new GROUP BY f
  HAVING f NOT IN (SELECT f FROM fp WHERE NOT is_new)
), s AS (
  SELECT doc_id, is_new,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, greatest(len(t) - 1, 1))]) AS sh
  FROM d WHERE len(t) >= 3
), ex AS (
  SELECT doc_id, is_new, unnest(sh) AS shingle FROM s
), h AS (
  SELECT doc_id, is_new,
         ('0x'||substr(md5(shingle),1,8))::BIGINT & 2147483647 AS h1,
         ('0x'||substr(md5(shingle),9,8))::BIGINT & 2147483647 AS h2
  FROM ex
), sigc AS (
  SELECT doc_id, is_new, i.i AS i, min(h1 + i.i * h2) AS m
  FROM h, range(64) i(i) GROUP BY doc_id, is_new, i.i
), sig AS (
  SELECT doc_id, is_new, list(m ORDER BY i) AS sg FROM sigc
  GROUP BY doc_id, is_new
), band AS (
  SELECT doc_id, is_new, i // 4 AS band,
         md5(string_agg(m::VARCHAR, ',' ORDER BY i)) AS bkey
  FROM sigc GROUP BY doc_id, is_new, i // 4
), cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS seen_id
  FROM band n JOIN band o ON n.band = o.band AND n.bkey = o.bkey
  WHERE n.is_new AND NOT o.is_new
), near_dropped AS (
  SELECT DISTINCT c.new_id AS doc_id
  FROM cand c JOIN sig a ON c.new_id = a.doc_id
              JOIN sig b ON c.seen_id = b.doc_id
  WHERE list_sum([CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END
                  for i in range(1, 65)]) >= 39
)
SELECT d.doc_id, d.lang, d.n_chars
FROM new_exact ne JOIN d ON ne.doc_id = d.doc_id
WHERE ne.doc_id NOT IN (SELECT doc_id FROM near_dropped)
""",
)
def incremental_dedup_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    new = docs.filter(F.col("doc_id") % 3 == 0)
    seen = docs.filter(F.col("doc_id") % 3 != 0)

    # exact stage: persisted index side is just fingerprints
    fp = F.md5(F.trim(F.lower("text")).cast("binary"))
    new_fp = new.select("doc_id", fp.alias("f"))
    seen_fp = seen.select(fp.alias("f"))
    exact_kept = (
        new_fp.groupBy("f")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(seen_fp, on="f", how="left_anti")
        .select("doc_id")
    )

    # near stage: band-collision vs the seen index, signature verify
    def shingled(df: DataFrame) -> DataFrame:
        return dedup.shingled_docs(df.repartition(par))

    # pre_partitioned: shingled() spreads the TEXT above, so the index
    # build must not round-robin the heavy shingle arrays again
    # (optimization round 12 — one exchange per side removed)
    new_idx = dedup.minhash_index(
        shingled(new), "doc_id", "sh", pre_partitioned=True
    )
    seen_idx = dedup.minhash_index(
        shingled(seen), "doc_id", "sh", pre_partitioned=True
    )
    near_dropped = dedup.incremental_minhash_filter(
        new_idx, seen_idx, "doc_id", n_hashes=64, min_matches=39
    ).select(F.col("new_id").alias("doc_id"))

    survivors = exact_kept.join(near_dropped, on="doc_id", how="left_anti")
    return docs.join(survivors, on="doc_id", how="leftsemi").select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "domain_cap_sample",
    description="Per-domain document cap (the C4/CommonCrawl per-host "
    "cap): keep at most 10 docs per source, selected by seeded md5-hash "
    "order with id tiebreak — an unbiased reproducible per-domain "
    "sample, one window over the domain key",
    survey_ref="W1,A8,A5",
    oracle="""
SELECT doc_id, source, lang FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('5:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 10
""",
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return corpus.domain_cap(docs, cap=10, domain_col="source", seed=5)


@register(
    "epoch_upsample",
    description="Repeat-factor upsampling (the trainer's repeat-epochs "
    "knob, the complement of downsample-only temperature mixing): "
    "en x1.6, de x2.25, fr x0.5 epochs per language — floor(w) full "
    "copies + seeded md5-selected partial epoch, epoch column carried "
    "for audit. Broadcast threshold join + one map-side explode, no "
    "shuffle; write amplification IS the requested upsampling",
    survey_ref="M1,X1,A5,U1",
    oracle="""
WITH plan(lang, n_full, thr) AS (VALUES ('en', 1, 6000), ('de', 2, 2500), ('fr', 0, 5000)),
b AS (
  SELECT d.doc_id, d.lang, p.n_full, p.thr,
         ('0x' || substr(md5('17:' || d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bk
  FROM documents d JOIN plan p ON d.lang = p.lang
)
SELECT doc_id, lang,
       CAST(unnest(generate_series(1, n_full + CASE WHEN bk < thr THEN 1 ELSE 0 END)) AS INT) AS epoch
FROM b
""",
)
def epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return corpus.epoch_upsample(
        docs,
        {"en": 1.6, "de": 2.25, "fr": 0.5},
        source_col="lang",
        seed=17,
    )


@register(
    "corpus_shard_assign",
    description="Deterministic global corpus shuffle + shard "
    "assignment: shard = md5-hash mod 8, pos = rank of the hash key "
    "within the shard — the reproducible shuffled-shard layout a "
    "training job streams. Scale shape: no global total order; one hash "
    "partition on shard, per-shard row_number windows in parallel",
    survey_ref="W2,W5,M1",
    oracle="""
WITH k AS (
  SELECT doc_id, md5('11:' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents
), s AS (
  SELECT doc_id, key,
         CAST(('0x' || substr(key, 1, 15))::BIGINT % 8 AS INT) AS shard
  FROM k
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1
            AS BIGINT) AS pos
FROM s
""",
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return corpus.shard_assign(docs, n_shards=8, seed=11)


@register(
    "token_budget_select",
    description="Token-budget subset: walk the corpus in seeded "
    "md5-shuffled order, keep docs until the running token total "
    "reaches 20k — the corpus-sizing step of a scaling-law/ablation "
    "run. Scale shape: distributed exact prefix sum (256 hash-prefix "
    "buckets -> bounded 256-row driver offset pass -> parallel "
    "per-bucket running-sum windows), NOT a single-partition global "
    "ORDER BY window; buckets past the budget are pruned before any "
    "window work",
    survey_ref="W5,A1,M1",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         md5('13:' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY key, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 20000
""",
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # array_remove drops the one empty token a whitespace-only text
        # yields, matching the oracle's list_filter(x <> '') exactly —
        # split(' +') and string_split(' ') otherwise count differently
        # on runs of spaces (round-5 ADVICE parity fix)
        F.size(F.array_remove(F.split(F.trim(F.lower("text")), " +"), ""))
        .cast("long")
        .alias("n_tokens"),
    )
    return corpus.token_budget_select(docs, budget=20_000, seed=13)
