"""Text-analysis / document-dedup catalog (SURVEY.md §2.10 north-star).

Determinism: ratios are int/int double divisions (exact, identical
both sides); Jaccard is rounded to 6 digits (error between engines
~1e-15, boundary-flip probability negligible); md5 fingerprints are
engine-identical hex strings. MinHash/SimHash pairs depend on
xxhash64, which DuckDB lacks → rows-only entries, with recall checked
against the exact-Jaccard oracle in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, text
from ..sources.tables import load_table
from .catalog import register

_STOP_SQL = "['the', 'a', 'of', 'and', 'to', 'in']"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread across cores BEFORE any tokenize/shingle work:
    the fixture is a single parquet file -> a single input partition,
    which would serialize the whole shingling stage."""
    return _docs(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)


@register(
    "text_stats",
    description="Per-document token/length/quality statistics (token "
    "counting, quality scoring) — single-pass codegen projection",
    survey_ref="M1,F8",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS toks,
         lower(text) AS ltext
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(ltext, '[a-z0-9]+')) AS INTEGER) AS n_tokens_bpe,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
       list_sum(list_transform(toks, x -> len(x))) * 1.0
         / greatest(len(toks), 1) AS avg_token_len,
       len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
         / greatest(len(toks), 1) AS stopword_ratio,
       len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS distinct_ratio,
       least(len(toks) / 64.0, 1.0) * 0.4
         + (len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1)) * 0.4
         + (len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
            / greatest(len(toks), 1)) * 0.2 AS quality_score
FROM t
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.text_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_tokens_bpe",
        "n_distinct_tokens",
        "avg_token_len",
        "stopword_ratio",
        "distinct_ratio",
        "quality_score",
    )


def _langid_oracle() -> str:
    """DuckDB replay of the trigram-profile scorer — the VALUES list
    comes from the SAME functions.langid.profile_rows() the Spark
    operator broadcasts, so there is one source of truth."""
    from ..functions.langid import profile_values_sql

    score_cols = ",\n    ".join(
        f"coalesce(w.w_{lang}, 0) * 1.0 / greatest(b.n, 1) AS score_{lang}"
        for lang in ("en", "es", "de", "fr")
    )
    w_cols = ",\n    ".join(
        f"sum(CASE WHEN p.lang = '{lang}' THEN p.w ELSE 0 END) AS w_{lang}"
        for lang in ("en", "es", "de", "fr")
    )
    return f"""
WITH prof(lang, tg, w) AS (VALUES {profile_values_sql()}),
b AS (
  SELECT doc_id, ' ' || lower(text) || ' ' AS s,
         greatest(len(' ' || lower(text) || ' ') - 2, 0) AS n
  FROM documents
), ex AS (
  SELECT doc_id, unnest([substring(s, i, 3) for i in range(1, greatest(len(s) - 2, 0) + 1)]) AS tg
  FROM b
), w AS (
  SELECT e.doc_id,
    {w_cols}
  FROM ex e JOIN prof p ON e.tg = p.tg GROUP BY e.doc_id
), sc AS (
  SELECT b.doc_id,
    {score_cols}
  FROM b LEFT JOIN w ON b.doc_id = w.doc_id
)
SELECT doc_id, score_en, score_es, score_de, score_fr,
       CASE
         WHEN greatest(score_en, score_es, score_de, score_fr) < 0.2 THEN 'und'
         WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
         WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
         WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
         ELSE 'fr'
       END AS lang_pred
FROM sc
"""


@register(
    "language_id",
    description="Char-trigram profile language ID (Cavnar-Trenkle shape): "
    "trigram explode -> broadcast profile join -> per-doc aggregate -> "
    "thresholded argmax; >90% held-out accuracy asserted in "
    "tests/test_langid.py",
    survey_ref="M1",
    oracle=_langid_oracle(),
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.language_id(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "score_en", "score_es", "score_de", "score_fr", "lang_pred"
    )


@register(
    "duplicate_spans",
    description="Exact duplicated-span pairs (Lee et al. 2022 ExactSubstr "
    "signal over word 8-grams): doc pairs sharing >= 3 distinct exact "
    "8-token spans with the shared count as evidence — catches verbatim "
    "boilerplate reuse that set-overlap misses. Inverted-index bucket "
    "pairing, one shuffle; df-prune cap available for corpus scale",
    survey_ref="M3",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), s AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+7], ' ')
                        for i in range(1, greatest(len(t) - 6, 1))]) AS sp
  FROM d WHERE len(t) >= 8
), ex AS (
  SELECT doc_id, unnest(sp) AS span FROM s
), pair AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared_spans
  FROM ex a JOIN ex b ON a.span = b.span AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, n_shared_spans FROM pair WHERE n_shared_spans >= 3
""",
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain _docs: the operator repartitions internally — wrapping in
    # _docs_parallel would pay a second full shuffle for nothing
    return text.duplicate_spans(
        _docs(spark, sf_dir).select("doc_id", "text"), n=8, min_spans=3
    )


@register(
    "substring_dedup_clean",
    description="Exact-substring dedup REWRITE (the removal half of Lee "
    "et al. 2022, complementing duplicate_spans' pair signal): every "
    "word 8-gram span occurring >= 2 times keeps only its canonical "
    "min-(doc,pos) occurrence; all other occurrences' tokens are "
    "dropped and each doc's text reassembled in position order — "
    "linear plan (occurrence explode, one span-hash aggregate, one "
    "per-doc reassembly), no pair expansion anywhere",
    survey_ref="M3,A5",
    oracle="""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), ' +') AS t FROM documents
), occ AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS span
  FROM base, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
), marked_occ AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY span) AS cnt,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM occ
), removed AS (
  SELECT DISTINCT doc_id, pos + u AS tp
  FROM (SELECT doc_id, pos FROM marked_occ WHERE cnt >= 2 AND rn > 1) nc,
       UNNEST(generate_series(0, 7)) AS s(u)
), toks AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS tp
  FROM base, UNNEST(generate_series(1, len(t))) AS g(i)
)
SELECT t.doc_id AS doc_id,
       count(*) AS n_tokens,
       count(r.tp) AS n_removed_tokens,
       coalesce(string_agg(CASE WHEN r.tp IS NULL THEN t.tok END,
                           ' ' ORDER BY t.tp), '') AS clean_text
FROM toks t LEFT JOIN removed r ON r.doc_id = t.doc_id AND r.tp = t.tp
GROUP BY t.doc_id
""",
)
def substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.remove_duplicate_spans(
        _docs(spark, sf_dir).select("doc_id", "text"), n=8, min_count=2
    )


@register(
    "nfc_normalize_docs",
    description="Unicode NFC canonical-composition pass (the corpus "
    "normalization step that keeps decomposed/precomposed renderings "
    "of the same character from hashing apart in dedup): Arrow-batched "
    "unicodedata.normalize, one narrow pass, no shuffle; oracle = "
    "DuckDB's native nfc_normalize",
    survey_ref="P4,M3",
    oracle="""
SELECT doc_id, nfc_normalize(text) AS text_nfc,
       nfc_normalize(text) <> text AS changed
FROM documents
""",
)
def nfc_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.nfc_normalize(_docs(spark, sf_dir).select("doc_id", "text"))


def _charlm_oracle() -> str:
    from ..functions.langid import lm_norm_nano, lm_values_sql

    return f"""
WITH prof(tg, lnw_nano) AS (VALUES {lm_values_sql()}),
b AS (
  SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents
), b2 AS (
  SELECT doc_id, s, greatest(len(s) - 2, 0) AS n FROM b
), ex AS (
  SELECT doc_id, unnest([substring(s, i, 3) for i in range(1, greatest(len(s) - 2, 0) + 1)]) AS tg
  FROM b2
), w AS (
  SELECT e.doc_id, sum(p.lnw_nano) AS sn
  FROM ex e JOIN prof p ON e.tg = p.tg GROUP BY e.doc_id
)
SELECT b2.doc_id, b2.n AS n_trigrams,
       round((coalesce(w.sn, 0) / greatest(b2.n, 1) - {lm_norm_nano()}) / 1e9, 6)
         AS avg_logprob
FROM b2 LEFT JOIN w ON b2.doc_id = w.doc_id
"""


@register(
    "charlm_quality",
    description="Char-trigram LM quality score (CCNet/KenLM perplexity-"
    "proxy): per-doc avg add-one-smoothed log-prob under a pooled "
    "clean-text profile; log weights ship as nano-scaled integers so "
    "both engines replay an integer sum + IEEE divisions bit-exactly "
    "(no transcendental drift). Broadcast profile join, one per-doc "
    "aggregate",
    survey_ref="M1",
    oracle=_charlm_oracle(),
)
def charlm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.charlm_quality(_docs(spark, sf_dir))


def _ccnet_buckets_oracle() -> str:
    from ..functions.langid import lm_norm_nano, lm_values_sql

    return f"""
WITH prof(tg, lnw_nano) AS (VALUES {lm_values_sql()}),
b AS (
  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS s FROM documents
), b2 AS (
  SELECT doc_id, lang, s, greatest(len(s) - 2, 0) AS n FROM b
), ex AS (
  SELECT doc_id, unnest([substring(s, i, 3) for i in range(1, greatest(len(s) - 2, 0) + 1)]) AS tg
  FROM b2
), w AS (
  SELECT e.doc_id, sum(p.lnw_nano) AS sn
  FROM ex e JOIN prof p ON e.tg = p.tg GROUP BY e.doc_id
), sc AS (
  SELECT b2.doc_id, b2.lang, b2.n AS n_trigrams,
         round((coalesce(w.sn, 0) / greatest(b2.n, 1) - {lm_norm_nano()}) / 1e9, 6)
           AS avg_logprob
  FROM b2 LEFT JOIN w ON b2.doc_id = w.doc_id
), thr AS (
  SELECT lang, quantile_cont(avg_logprob, 1.0/3) AS t1,
         quantile_cont(avg_logprob, 2.0/3) AS t2
  FROM sc GROUP BY lang
)
SELECT sc.doc_id, sc.lang, sc.n_trigrams, sc.avg_logprob,
       CASE WHEN sc.avg_logprob >= thr.t2 THEN 'head'
            WHEN sc.avg_logprob >= thr.t1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc JOIN thr ON sc.lang = thr.lang
"""


@register(
    "train_charlm_profile",
    description="In-engine char-LM profile training (the missing half "
    "of charlm_quality's loop — CCNet re-trains its KenLM on the "
    "curated slice): trigram counts + add-one nano-int log weights "
    "over the English subcorpus, plug-compatible with "
    "charlm_quality(profile=...). One codegen trigram explode into one "
    "map-combined groupBy — shuffle volume is distinct trigrams, not "
    "corpus characters",
    survey_ref="M1,A1,A9",
    oracle="""
WITH b AS (
  SELECT ' ' || lower(text) || ' ' AS s FROM documents WHERE lang = 'en'
), ex AS (
  SELECT unnest([substring(s, i, 3) for i in range(1, greatest(len(s) - 2, 0) + 1)]) AS trigram
  FROM b
)
SELECT trigram, count(*) AS cnt,
       CAST(round(ln(count(*) + 1) * 1e9, 0) AS BIGINT) AS lnw_nano
FROM ex GROUP BY trigram
""",
)
def train_charlm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    return text.train_charlm_profile(docs)


@register(
    "bpe_word_counts",
    description="BPE training's corpus-sized pass (Sennrich et al. "
    "2016): the (word, count) table every merge round then operates on "
    "— one explode + one map-combined groupBy; the iterative merge "
    "learning itself (text.bpe_train_merges) is driver-coordinated and "
    "referee-tested, with this pass as its driver-checked foundation",
    survey_ref="A9,A1,M1",
    oracle="""
SELECT word, count(*) AS cnt
FROM (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
  FROM documents
)
WHERE word <> ''
GROUP BY word
""",
)
def bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_word_counts(_docs_parallel(spark, sf_dir))


# Fixed, training-valid merge list for the tokenizer-APPLY gate: every
# operand is a base char / earlier output, and every output symbol is
# unique, so a single rank-order pass of global replaces reaches the
# same fixpoint as the encoder's lowest-rank-repeat greedy loop (the
# referee test in tests/test_quality_ops.py asserts no mergeable pair
# survives on the real corpus vocabulary). The list is shared verbatim
# by the Spark query and the generated DuckDB oracle below.
_BPE_APPLY_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("e", "</w>"),
    ("the", "</w>"),
    ("i", "n"),
    ("a", "n"),
    ("o", "n"),
    ("e", "r"),
    ("an", "d"),
    ("and", "</w>"),
    ("in", "g"),
    ("ing", "</w>"),
    ("o", "f"),
    ("of", "</w>"),
    ("s", "</w>"),
    ("t", "o"),
    ("to", "</w>"),
    ("e", "d"),
    ("ed", "</w>"),
    ("er", "</w>"),
]


def _bpe_replace_chain_sql() -> str:
    """The sentinel-delimited replace chain: each symbol is encoded as
    •sym◦ (markers can never appear inside ^[a-z]+$ words or </w>), so
    a merge (l, r) is the literal string replace •l◦•r◦ → •lr◦ with
    symbol boundaries structurally intact."""
    s = "regexp_replace(word, '(.)', '•\\1◦', 'g') || '•</w>◦'"
    for left, right in _BPE_APPLY_MERGES:
        s = f"replace({s}, '•{left}◦•{right}◦', '•{left}{right}◦')"
    return s


@register(
    "bpe_token_histogram",
    description="Tokenizer APPLY at corpus scale: encode the corpus "
    "with a fixed BPE merge table and return the subword-token "
    "histogram. The Spark side runs the real greedy lowest-rank-repeat "
    "encoder (HuggingFace-tokenizers semantics) over the DISTINCT-word "
    "table — vocabulary-sized Arrow work, corpus-sized only in the one "
    "map-combined word-count pass — while the oracle derives the same "
    "segmentation by a completely different algorithm (a rank-order "
    "chain of sentinel-delimited global REPLACEs in SQL), so agreement "
    "checks the encoder itself, not a shared implementation",
    survey_ref="U2,A9,A1,M1",
    oracle=f"""
WITH w AS (
  SELECT word, count(*) AS cnt
  FROM (
    SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
    FROM documents
  )
  WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
), enc AS (
  SELECT cnt, {_bpe_replace_chain_sql()} AS s FROM w
), tok AS (
  SELECT cnt, unnest(regexp_extract_all(s, '•([^◦]+)◦', 1)) AS token
  FROM enc
)
SELECT token, CAST(sum(cnt) AS BIGINT) AS occurrences
FROM tok GROUP BY token
""",
)
def bpe_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_token_histogram(
        _docs_parallel(spark, sf_dir), _BPE_APPLY_MERGES
    )


@register(
    "ccnet_buckets",
    description="CCNet head/middle/tail bucketing (Wenzek et al. 2020 "
    "§3.2): per-language terciles of the char-LM perplexity-proxy score "
    "— head = most clean-like third; CCNet trains on head+middle. One "
    "Arrow scoring pass carrying lang, one tiny per-language percentile "
    "aggregate broadcast back; no global-order window",
    survey_ref="M1,A1,U2",
    oracle=_ccnet_buckets_oracle(),
)
def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.ccnet_perplexity_buckets(_docs(spark, sf_dir))


@register(
    "fingerprint_dedup",
    description="Document fingerprinting (md5 of 4-token prefix) + exact "
    "dedup groups, canonical = min doc_id (ref md5-identity "
    "extracting_embeddings.py:89-93)",
    survey_ref="F7,A5,M3",
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(string_split(lower(trim(text)), ' ')[1:4], ' '))
           AS fingerprint
  FROM documents
)
SELECT fingerprint, count(*) AS n_members, min(doc_id) AS canonical_id
FROM fp GROUP BY fingerprint
""",
)
def fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint_dedup(_docs(spark, sf_dir), n_tokens=4)


@register(
    "ngram_jaccard_pairs",
    description="Exact near-dup pairs: 3-gram shingle Jaccard >= 0.5 via "
    "inverted-index candidate join (no cross join)",
    survey_ref="M3,J9",
    oracle="""
WITH d AS (
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
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
SELECT c.a_id, c.b_id,
       round(len(list_intersect(sa.sh, sb.sh)) * 1.0
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
FROM cand c JOIN s sa ON c.a_id = sa.doc_id JOIN s sb ON c.b_id = sb.doc_id
WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0
            / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.5
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = dedup.shingled_docs(_docs_parallel(spark, sf_dir))
    pairs = dedup.jaccard_pairs(
        docs,
        "doc_id",
        "sh",
        threshold=0.5,
        pre_partitioned=True,  # _docs_parallel already spread the text
    )
    return pairs


@register(
    "minhash_lsh_dedup",
    description="MinHash(64)+LSH(16 bands) near-dup candidates verified "
    "with exact Jaccard >= 0.6 — sub-quadratic scale path. md5-portable "
    "hash family: the oracle re-derives the SAME signatures, band keys "
    "and candidate set in SQL, so the full LSH pipeline is hash-checked",
    survey_ref="M3,J9",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
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
)
SELECT c.a_id, c.b_id,
       round(len(list_intersect(sa.sh, sb.sh)) * 1.0
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
FROM cand c JOIN s sa ON c.a_id = sa.doc_id JOIN s sb ON c.b_id = sb.doc_id
WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0
            / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.6
""",
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = dedup.shingled_docs(_docs_parallel(spark, sf_dir))
    return dedup.minhash_lsh_pairs(
        docs,
        "doc_id",
        "sh",
        n_hashes=64,
        bands=16,
        threshold=0.6,
        hash_family="md5-portable",
        pre_partitioned=True,  # _docs_parallel already spread the text
    )


@register(
    "simhash_dedup",
    description="SimHash near-dup pairs, Hamming <= 3, complete by "
    "pigeonhole chunking (4 chunks x 15 bits). md5-portable 60-bit "
    "signatures: the oracle re-derives identical signatures and the "
    "same chunk-join candidate set in SQL",
    survey_ref="M3",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS token FROM d
), th AS (
  SELECT doc_id, ('0x'||substr(md5(token),1,15))::BIGINT AS h FROM tok
), vote AS (
  SELECT doc_id, b.b AS b,
         CASE WHEN sum(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) >= 0
              THEN 1::BIGINT << b.b ELSE 0 END AS bit
  FROM th, range(60) b(b) GROUP BY doc_id, b.b
), sig AS (
  SELECT doc_id, sum(bit)::BIGINT AS sim FROM vote GROUP BY doc_id
), chunk AS (
  SELECT doc_id, sim, c.c AS c, (sim >> (c.c * 15)) & 32767 AS ckey
  FROM sig, range(4) c(c)
), cand AS (
  SELECT DISTINCT a.doc_id AS a_id, a.sim AS a_sim, b.doc_id AS b_id, b.sim AS b_sim
  FROM chunk a JOIN chunk b
    ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST(bit_count(xor(a_sim, b_sim)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(a_sim, b_sim)) <= 3
""",
)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.lower("text")), " +").alias("t")
    )
    return dedup.simhash_pairs(
        docs, "doc_id", "t", max_hamming=3, hash_family="md5-portable"
    )


@register(
    "exact_dedup_docs",
    description="Exact text dedup: md5(full normalized text) groups "
    "(hash-groupBy; one shuffle)",
    survey_ref="A5,F7",
    oracle="""
SELECT md5(lower(trim(text))) AS fingerprint,
       count(*) AS n_members,
       min(doc_id) AS canonical_id
FROM documents GROUP BY 1
""",
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return dedup.exact_dedup_groups(
        d, F.md5(F.encode(F.lower(F.trim("text")), "utf-8")), "doc_id"
    )


@register(
    "multimodal_decode_meta",
    description="Multimodal plumbing: binary payload column → Arrow-batched "
    "mapInPandas 'decode' → typed metadata (stubbed codec, real plumbing; "
    "ref row-loop extracting_embeddings.py:279-413 replaced by mapInPandas)",
    survey_ref="U2,M1",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       CAST(octet_length(encode(text)) % 997 AS INTEGER) AS width,
       CAST(octet_length(encode(text)) % 991 AS INTEGER) AS height,
       3 AS channels,
       'OK' AS status
FROM documents
""",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    payload = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    return multimodal.decode_metadata(payload)


@register(
    "hash_ordered_sample",
    description="Deterministic stratified sampling (training-data op): "
    "k docs per lang, selected by md5-hash order — reproducible across "
    "engines and runs, unlike seeded RNG sampling",
    survey_ref="W2,A5",
    oracle="""
SELECT lang, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 20
""",
)
def hash_ordered_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "vocabulary_top_tokens",
    description="Corpus vocabulary statistics: token frequencies + document "
    "frequencies, top-50 by count (tie-broken) — the vocab-building pass of "
    "a tokenizer pipeline",
    survey_ref="A9,A1",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
  FROM documents
)
SELECT token,
       count(*) AS term_freq,
       count(DISTINCT doc_id) AS doc_freq
FROM tok GROUP BY token
ORDER BY term_freq DESC, token ASC
LIMIT 50
""",
)
def vocabulary_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_parallel(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), " +")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("term_freq").desc(), F.col("token").asc())
        .limit(50)
    )


@register(
    "repetition_filter",
    description="Gopher-style repetition quality filter (Rae et al. 2021 "
    "A1.1): per-doc duplicate-bigram fraction + top-bigram coverage with "
    "a keep flag - the boilerplate/keyword-stuffing screen of a "
    "pretraining corpus; int/int metrics, bit-exact cross-engine",
    survey_ref="M1,A1",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
), g AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS gram
  FROM t WHERE len(toks) >= 2
), c AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
), m AS (
  SELECT doc_id, cast(sum(cnt) AS BIGINT) AS n_grams,
         count(*) AS n_distinct, max(cnt) AS top_cnt
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(m.n_grams, 0) AS n_bigrams,
       coalesce((m.n_grams - m.n_distinct) * 1.0 / m.n_grams, 0.0) AS dup_bigram_frac,
       coalesce(m.top_cnt * 1.0 / m.n_grams, 0.0) AS top_bigram_frac,
       (coalesce((m.n_grams - m.n_distinct) * 1.0 / m.n_grams, 0.0) <= 0.05
        AND coalesce(m.top_cnt * 1.0 / m.n_grams, 0.0) <= 0.06) AS keep
FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
""",
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(
        _docs(spark, sf_dir), max_dup_frac=0.05, max_top_frac=0.06
    )


@register(
    "benchmark_contamination",
    description="Benchmark-contamination check (GPT-3 appx C style): "
    "training docs sharing any 6-gram with a deterministic held-out "
    "'benchmark' split (doc_id % 89 = 0), with distinct shared-gram "
    "counts - the decontamination pass before shipping a corpus; "
    "inverted-index join on the gram, no cross join",
    survey_ref="M3,J9,A1",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents
), g AS (
  SELECT doc_id, unnest([array_to_string(toks[i:i+5], ' ')
                         for i in range(1, len(toks) - 4)]) AS gram
  FROM t WHERE len(toks) >= 6
), tr AS (
  SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 89 <> 0
), b AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 89 = 0
)
SELECT tr.doc_id, count(*) AS n_shared_ngrams
FROM tr JOIN b ON tr.gram = b.gram
GROUP BY tr.doc_id
""",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    from pyspark.sql import functions as F

    train = docs.filter(F.col("doc_id") % 89 != 0)
    bench = docs.filter(F.col("doc_id") % 89 == 0)
    return text.ngram_contamination(train, bench, n=6)


@register(
    "winnow_dup_pairs",
    description="Rolling-hash document fingerprinting (MOSS winnowing, "
    "Schleimer et al. 2003): char-8-gram md5-portable hashes -> window-4 "
    "minima -> df-pruned (<=16 docs) inverted-index pair join; keep pairs "
    "with 2*|A∩B| >= |A∪B| (integer comparison, no float boundary)",
    survey_ref="M3,F7",
    oracle="""
WITH d AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
), g AS (
  SELECT doc_id,
         [('0x' || substr(md5(substr(t, i, 8)), 1, 15))::BIGINT
          for i in range(1, len(t) - 8 + 2)] AS hs
  FROM d WHERE len(t) >= 11
), w AS (
  SELECT doc_id,
         list_distinct([list_min(hs[j:j+3]) for j in range(1, len(hs) - 4 + 2)]) AS fps
  FROM g
), ex AS (
  SELECT doc_id, unnest(fps) AS fp FROM w
), keep AS (
  SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 16
), kept AS (
  SELECT e.doc_id, e.fp FROM ex e JOIN keep USING (fp)
), nfp AS (
  SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.a_id, s.b_id, s.n_shared,
       CAST(na.n + nb.n - s.n_shared AS BIGINT) AS n_union
FROM shared s
JOIN nfp na ON s.a_id = na.doc_id
JOIN nfp nb ON s.b_id = nb.doc_id
WHERE 2 * s.n_shared >= na.n + nb.n - s.n_shared
""",
)
def winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnow_dup_pairs(
        _docs_parallel(spark, sf_dir), k=8, window=4, max_df=16
    )


@register(
    "pii_scrub",
    description="PII redaction gate (email/IPv4/phone regex scrub + "
    "per-type counts) — pure JVM regexp projection, scan-speed; PII is "
    "synthesized deterministically from doc_id so redaction is "
    "observable; patterns restricted to Java-regex/RE2-identical syntax",
    survey_ref="F6,P1",
    oracle=r"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or 10.'
              || (doc_id % 200) || '.3.' || (doc_id % 250)
              || ' call 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(t, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS INTEGER) AS n_ip,
       CAST(len(regexp_extract_all(t, '\b555-\d{4}\b')) AS INTEGER) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
           '\b555-\d{4}\b', '<PHONE>', 'g')) AS scrub_md5
FROM d
""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".3."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" call 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ),
    )
    return text.pii_scrub(docs).select(
        "doc_id", "n_email", "n_ip", "n_phone", F.md5("scrubbed").alias("scrub_md5")
    )


@register(
    "quality_rule_filter",
    description="C4/Gopher rule-based quality gate with per-rule "
    "verdicts: word count in [20,80], mean word length in [3,5], >=1 "
    "stopword, distinct-token ratio >= 0.35 — each rule its own boolean "
    "column plus the conjunctive keep, so reject rates are auditable "
    "per rule; one codegen projection, no shuffle",
    survey_ref="P3,F4,M1",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks,
         length(replace(trim(text), ' ', '')) AS chars
  FROM documents
), s AS (
  SELECT doc_id,
         len(toks) AS n_words,
         chars * 1.0 / greatest(len(toks), 1) AS mean_word_len,
         len(list_intersect(list_distinct(toks), {_STOP_SQL})) AS stop_hits,
         len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS distinct_ratio
  FROM t
)
SELECT doc_id, n_words, mean_word_len, stop_hits, distinct_ratio,
       n_words >= 20 AND n_words <= 80 AS words_ok,
       mean_word_len >= 3.0 AND mean_word_len <= 5.0 AS word_len_ok,
       stop_hits >= 1 AS stop_ok,
       distinct_ratio >= 0.35 AS distinct_ok,
       (n_words >= 20 AND n_words <= 80)
         AND (mean_word_len >= 3.0 AND mean_word_len <= 5.0)
         AND stop_hits >= 1 AND distinct_ratio >= 0.35 AS keep
FROM s
""",
)
def quality_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_rule_filter(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stop_hits",
        "distinct_ratio",
        "words_ok",
        "word_len_ok",
        "stop_ok",
        "distinct_ok",
        "keep",
    )


@register(
    "bm25_search",
    description="BM25 ranked retrieval (top-10 docs for query terms "
    "merge/spark/window): tf per (doc,term) restricted to query terms, "
    "broadcast df + corpus-stats joins, rational idf (monotone ln-free "
    "form — libm log is the one cross-engine nondeterminism in the "
    "formula), decimal-exact term-score sum; the heavy stage shuffles "
    "only rows containing a query term",
    survey_ref="A1,A9,W4,J1",
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
)
SELECT doc_id,
       cast(sum(cast(s AS DECIMAL(38, 6))) AS DOUBLE) AS bm25,
       count(*) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_search(
        _docs(spark, sf_dir), ["merge", "spark", "window"], top_k=10
    )


# Persisted inverted text index (operators/text_index.py): built + upserted
# ONCE per process per sf_dir — bench/driver repeats time the PROBE, which
# is the point of a persisted index (same memo discipline as _ANN_FIXTURE).
_TIX_FIXTURE: dict[str, str] = {}


def _text_index_root(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _TIX_FIXTURE:
        import atexit
        import hashlib
        import os
        import shutil
        import tempfile

        from ..operators import text_index

        # keyed by the FULL sf_dir path + pid (round-8 ADVICE): two
        # concurrent bench/correctness processes on the same scale
        # factor — or distinct sf_dirs sharing a basename — must never
        # alias onto one root and destroy each other's index mid-probe;
        # the atexit hook reclaims this process's dir
        tag = hashlib.md5(
            os.path.abspath(sf_dir).encode("utf-8")
        ).hexdigest()[:10]
        root = os.path.join(
            tempfile.gettempdir(), f"spark_graft_tix_{tag}_p{os.getpid()}"
        )
        shutil.rmtree(root, ignore_errors=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
        base = docs.filter(F.col("doc_id") % 5 != 0)
        # lang stored IN the index (payload-on-doc, round 10): the
        # grouped member groups by it with no side table; storing it
        # changes nothing for the bm25 members' scores
        text_index.build_text_index(spark, base, root, payload_cols=["lang"])
        # incremental maintenance through the delta path: docs %5==0
        # arrive NEW with ' merge merge' appended (a true insert — the
        # upsert path, payload sent); docs %7==3 among the indexed are
        # UPDATED with ' spark' appended through the TEXT-ONLY update
        # path (round 10: text_index_update_docs — lang is read back
        # bucket-pruned from doclen, not re-sent; same end state, so
        # every oracle replays identically while the driver exercises
        # the readback). Deterministic, SQL-replayable; changes dl,
        # tf, df AND the corpus stats.
        text_index.text_index_upsert(
            spark,
            docs.filter(F.col("doc_id") % 5 == 0).withColumn(
                "text", F.concat(F.col("text"), F.lit(" merge merge"))
            ),
            root,
        )
        text_index.text_index_update_docs(
            spark,
            docs.filter(
                (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 3)
            ).select(
                "doc_id",
                F.concat(F.col("text"), F.lit(" spark")).alias("text"),
            ),
            root,
        )
        # payload-only re-label (text_index_set_payload, round 10):
        # docs %9==2 flip lang to 'zz' WITHOUT re-tokenizing — the
        # grouped member hash-checks the overlay-merged values via the
        # plang CTE replay of this rule
        flips = docs.filter(F.col("doc_id") % 9 == 2).select(
            "doc_id", F.lit("zz").alias("lang")
        )
        text_index.text_index_set_payload(spark, flips, root)
        _TIX_FIXTURE[sf_dir] = root
    return _TIX_FIXTURE[sf_dir]


@register(
    "bm25_index_search",
    description="BM25 served from the PERSISTED inverted index "
    "(operators/text_index.py — the Lucene-collection analog of the "
    "ANN index): md5-portable term-bucket segments selected driver-"
    "side + delta tail, doc-supersede fold, metadata-only corpus "
    "stats, then the SAME scoring tail as bm25_search — the oracle is "
    "the corpus-scan SQL over the post-upsert corpus, because an "
    "index must not change the answer; exercises the build AND the "
    "incremental path (new docs upserted + existing docs refreshed "
    "through text_index_update_docs, payload read back bucket-pruned)",
    survey_ref="A1,A9,W4,J1,S14",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(
           CASE WHEN doc_id % 5 = 0 THEN text || ' merge merge'
                WHEN doc_id % 7 = 3 THEN text || ' spark'
                ELSE text END)), ' ') AS toks
  FROM documents
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
)
SELECT doc_id,
       cast(sum(cast(s AS DECIMAL(38, 6))) AS DOUBLE) AS bm25,
       count(*) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text_index

    root = _text_index_root(spark, sf_dir)
    return text_index.text_index_search(
        spark, root, ["merge", "spark", "window"], top_k=10
    )


@register(
    "bm25_filtered_search",
    description="FILTERED BM25 served from the persisted inverted "
    "index: allowed_ids semi-joins the candidates BEFORE ranking "
    "(per-term df over the filtered universe, top-k of the filtered "
    "set, whole-corpus n_docs/avgdl) — the reference dashboard's "
    "facet-filter-then-serve flow (app.py:119-156 -> :208-264; Qdrant "
    "query_filter, deduplicate_from_qdrant.py:53-83), here over the "
    "same post-upsert fixture index as bm25_index_search; the oracle "
    "is the filtered corpus-scan SQL, so the index cannot change the "
    "filtered answer either",
    survey_ref="J8,M2,W4,S14",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(
           CASE WHEN doc_id % 5 = 0 THEN text || ' merge merge'
                WHEN doc_id % 7 = 3 THEN text || ' spark'
                ELSE text END)), ' ') AS toks
  FROM documents
), base AS (
  SELECT doc_id, toks, len(toks) AS dl FROM t
), corpus AS (
  SELECT count(*) AS n_docs, sum(len(toks)) / count(*) AS avgdl FROM t
), hits AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
  WHERE term IN ('merge', 'spark', 'window') AND doc_id % 3 = 0
  GROUP BY doc_id, dl, term
), dfreq AS (
  SELECT term, count(*) AS dfr FROM hits GROUP BY term
), scored AS (
  SELECT h.doc_id,
         ((cast(c.n_docs AS DOUBLE) - d.dfr + 0.5) / (d.dfr + 0.5))
         * ((cast(h.tf AS DOUBLE) * 2.2)
            / (cast(h.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (h.dl / c.avgdl)))) AS s
  FROM hits h JOIN dfreq d USING (term), corpus c
)
SELECT doc_id,
       cast(sum(cast(s AS DECIMAL(38, 6))) AS DOUBLE) AS bm25,
       count(*) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def bm25_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text_index

    root = _text_index_root(spark, sf_dir)
    allowed = _docs(spark, sf_dir).select("doc_id").filter(
        F.col("doc_id") % 3 == 0
    )
    return text_index.text_index_search(
        spark,
        root,
        ["merge", "spark", "window"],
        top_k=10,
        allowed_ids=allowed,
    )


@register(
    "text_grouped_search",
    description="Search-groups over the persisted LEXICAL index "
    "(round-10 promotion — the BM25 twin of ann_grouped_topk, Qdrant "
    "search_groups shape over payload-on-doc): flat top-15 from the "
    "pruned probe, the stored lang payload joined via a shortlist-"
    "restricted semi (the corpus-scale map never broadcasts), best 2 "
    "hits per lang, top 3 langs by their best hit — the diversified "
    "provider page over the reference's provider-skewed corpus "
    "(app.py:94-156 serves raw flat order). The fixture re-labels "
    "docs %9==2 payload-only (text_index_set_payload), so the hash "
    "also checks the overlay-merged group values (plang CTE)",
    survey_ref="W5,W4,M5,S14,M2",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(lower(trim(
           CASE WHEN doc_id % 5 = 0 THEN text || ' merge merge'
                WHEN doc_id % 7 = 3 THEN text || ' spark'
                ELSE text END)), ' ') AS toks
  FROM documents
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
), flat AS (
  SELECT doc_id,
         cast(sum(cast(s AS DECIMAL(38, 6))) AS DOUBLE) AS bm25
  FROM scored GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id ASC
  LIMIT 15
), plang AS (
  SELECT doc_id, CASE WHEN doc_id % 9 = 2 THEN 'zz' ELSE lang END AS lang
  FROM documents
), tagged AS (
  SELECT f.doc_id, f.bm25, p.lang FROM flat f JOIN plang p USING (doc_id)
), ranked AS (
  SELECT lang, doc_id, bm25,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS rank_in_group
  FROM tagged
), best AS (
  SELECT lang, CAST(row_number() OVER (
              ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS group_rank
  FROM ranked WHERE rank_in_group = 1
)
SELECT r.lang, b.group_rank, r.rank_in_group, r.doc_id, r.bm25
FROM ranked r JOIN best b ON r.lang = b.lang
WHERE r.rank_in_group <= 2 AND b.group_rank <= 3
""",
)
def text_grouped_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text_index

    root = _text_index_root(spark, sf_dir)
    return text_index.text_index_search_grouped(
        spark, root, ["merge", "spark", "window"], None, "lang",
        k_groups=3, group_size=2, fetch_k=15,
    )


@register(
    "chunk_documents",
    description="Sliding-window character chunking (size 120, stride 80): "
    "the context-window prep before embedding/training on long docs — "
    "overlapping chunks so no boundary content is lost; stateless "
    "posexplode fan-out, no shuffle, chunk md5/len emitted for "
    "chunk-level dedup",
    survey_ref="A9,F8,M1",
    oracle="""
WITH d AS (
  SELECT doc_id, text FROM documents
), st AS (
  SELECT doc_id, text, unnest(range(1, greatest(length(text), 1) + 1, 80)) AS start
  FROM d
)
SELECT doc_id,
       (start - 1) // 80 AS chunk_idx,
       substring(text, cast(start AS INT), 120) AS chunk_text,
       length(substring(text, cast(start AS INT), 120)) AS chunk_len,
       md5(substring(text, cast(start AS INT), 120)) AS chunk_md5
FROM st
""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(_docs(spark, sf_dir), size=120, stride=80)


# Deterministic line synthesis shared by the line-level queries: the
# fixtures carry no newlines, so line structure is derived (5 tokens
# per line) identically on both engines — same move as the queries
# that deterministically dirty 'part'.
_LINES_SQL = """
t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
lns AS (
  SELECT doc_id,
         [array_to_string(tk[(i-1)*5+1:(i-1)*5+5], ' ')
          for i in range(1, greatest(cast(ceil(len(tk)/5.0) AS int), 1) + 1)]
           AS ls
  FROM t
)
"""


@register(
    "line_quality_filter",
    description="C4-style line-level cleanup (Raffel et al. 2020 "
    "§2.2): drop lines with < 5 words or containing a deny "
    "substring, reassemble docs from surviving lines with auditable "
    "per-doc line counts. ONE HOF projection (split → filter "
    "→ array_join) in whole-stage codegen — no explode, no "
    "shuffle, no Python: the first pass of a C4 pipeline sees every "
    "raw byte, so it must run at scan speed",
    survey_ref="P3,M1,F4",
    oracle=f"""
WITH {_LINES_SQL},
f AS (
  SELECT doc_id, CAST(len(ls) AS INTEGER) AS n_lines,
         [l for l in ls
          if (CASE WHEN trim(l) = '' THEN 0
              ELSE len(string_split_regex(trim(l), ' +')) END) >= 5
             AND NOT contains(lower(l), 'vector')] AS ks
  FROM lns
)
SELECT doc_id, n_lines, CAST(len(ks) AS INTEGER) AS n_lines_kept,
       coalesce(array_to_string(ks, chr(10)), '') AS text_clean
FROM f
""",
)
def line_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.lines_from_tokens(
        _docs(spark, sf_dir).select("doc_id", "text"), tokens_per_line=5
    )
    return text.line_quality_filter(
        docs, min_words=5, deny_substrings=("vector",)
    ).select("doc_id", "n_lines", "n_lines_kept", "text_clean")


@register(
    "paragraph_dedup",
    description="CCNet-style corpus-wide paragraph dedup (Wenzek et "
    "al. 2020 §3.1): md5 every line, keep each distinct line only "
    "in its min-doc_id holder — boilerplate headers/footers "
    "vanish corpus-wide while unique content survives once. Skew-safe "
    "shape: two-phase groupBy(hash).min (map-side combine collapses "
    "hot boilerplate keys pre-shuffle) → AQE-skew equi-join back "
    "→ one reassembly groupBy",
    survey_ref="M3,A5,P4",
    oracle=f"""
WITH {_LINES_SQL},
d AS (SELECT doc_id, array_to_string(ls, chr(10)) AS text FROM lns),
l AS (
  SELECT d.doc_id, i AS pos, string_split(d.text, chr(10))[i] AS ln
  FROM d, unnest(generate_series(1, len(string_split(d.text, chr(10)))))
         AS u(i)
),
f AS (
  SELECT md5(lower(trim(ln))) AS h, min(doc_id) AS first_id
  FROM l WHERE trim(ln) <> '' GROUP BY 1
),
k AS (
  SELECT l.doc_id, l.pos, l.ln
  FROM l LEFT JOIN f ON md5(lower(trim(l.ln))) = f.h
  WHERE trim(l.ln) = '' OR l.doc_id = f.first_id
),
k2 AS (
  SELECT doc_id, count(*) AS n,
         array_to_string(list(ln ORDER BY pos), chr(10)) AS tc
  FROM k GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, chr(10))) AS INTEGER) AS n_lines,
       coalesce(k2.n, 0) AS n_lines_kept,
       coalesce(k2.tc, '') AS text_clean
FROM d LEFT JOIN k2 USING (doc_id)
""",
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.lines_from_tokens(
        _docs(spark, sf_dir).select("doc_id", "text"), tokens_per_line=5
    )
    return text.paragraph_dedup(docs)


def _dsir_oracle() -> str:
    from ..functions.langid import dsir_norm_nano, dsir_values_sql

    return f"""
WITH prof(tg, w_nano) AS (VALUES {dsir_values_sql("en")}),
b AS (
  SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents
), b2 AS (
  SELECT doc_id, s, greatest(len(s) - 2, 0) AS n FROM b
), ex AS (
  SELECT doc_id,
         unnest([substring(s, i, 3)
                 for i in range(1, greatest(len(s) - 2, 0) + 1)]) AS tg
  FROM b2
), w AS (
  SELECT e.doc_id, count(*) AS nm, sum(p.w_nano) AS sn
  FROM ex e JOIN prof p ON e.tg = p.tg GROUP BY e.doc_id
), scored AS (
  SELECT b2.doc_id, b2.n AS n_trigrams, coalesce(w.nm, 0) AS n_matched,
         CASE WHEN w.nm > 0 THEN
           round((w.sn / w.nm - {dsir_norm_nano("en")}) / 1e9, 6)
         END AS avg_log_ratio
  FROM b2 LEFT JOIN w ON b2.doc_id = w.doc_id
)
SELECT doc_id, n_trigrams, n_matched, avg_log_ratio
FROM scored ORDER BY avg_log_ratio DESC NULLS LAST, doc_id LIMIT 120
"""


@register(
    "dsir_select",
    description="DSIR data selection (Xie et al. 2023, arXiv:"
    "2302.03169): score every doc by the log-likelihood RATIO between "
    "an English target char-trigram LM and the pooled background LM, "
    "keep the top-120 by importance — the importance-resampling pass "
    "that picks domain-matched pretraining data from a raw crawl, "
    "made deterministic (rank + id tiebreak instead of Gumbel noise). "
    "Same single Arrow-pass shape as charlm_quality (exact nano-int "
    "log-ratio sums) + one TakeOrderedAndProject; both profiles are "
    "static int tables so score AND selection replay exactly in SQL",
    survey_ref="M1,W4",
    oracle=_dsir_oracle(),
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.dsir_select(_docs(spark, sf_dir), top_k=120, target_lang="en")
