"""Document-level text analysis (north-star surface, SURVEY.md §2.10).

The reference's only text handling is a driver-side Python join of
metadata fields into a CLIP prompt (extracting_embeddings.py:135-152).
A training-data pipeline needs distributed text statistics; every
operator here is a single-pass columnar projection (no shuffle, no
Python), so it runs at scan speed on 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    DEFAULT_STOPWORDS,
    TOKEN_REGEX,
    fingerprint_prefix,
    tokenize,
)

from ..functions.langid import LANGS, profile_rows
from ..functions.vectors import sql_literal
from .localrel import _unpersist_local_checkpoint


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/length/quality statistics.

    Adds: n_tokens (whitespace), n_tokens_bpe (regex runs),
    n_distinct_tokens, avg_token_len, stopword_ratio, distinct_ratio,
    quality_score ∈ [0,1]. All ratios are int/int divisions → exact
    doubles, oracle-comparable without rounding.
    """
    toks = tokenize(F.lower(F.col(text_col)))
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    sw = F.array(*[F.lit(s) for s in DEFAULT_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_bpe = F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0))
    stop_ratio = n_stop / F.greatest(n, F.lit(1))
    distinct_ratio = nd / F.greatest(n, F.lit(1))
    quality = (
        F.least(n / F.lit(64.0), F.lit(1.0)) * 0.4
        + distinct_ratio * 0.4
        + stop_ratio * 0.2
    )
    return df.select(
        "*",
        n.alias("n_tokens"),
        n_bpe.alias("n_tokens_bpe"),
        nd.alias("n_distinct_tokens"),
        (total_len / F.greatest(n, F.lit(1))).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        quality.alias("quality_score"),
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    floor: float = 0.2,
) -> DataFrame:
    """Char-trigram profile language ID (Cavnar–Trenkle shape): score
    per language = sum of profile weights over the document's char
    trigrams / n_trigrams, argmax with an 'und' (undetermined) floor.

    Plan shape: ONE shuffle-free Arrow pass (the ``charlm_quality``
    lesson applied here in round 6): the profile — a few hundred rows
    at any corpus scale — ships as a closure dict into a
    ``mapInPandas`` stage that emits per-doc integer weight sums per
    language; no trigram explode (the prior shape materialized
    ~len(text) rows per document), no broadcast join, no groupBy, no
    join back — zero Exchanges, measured 2.83 s → 0.97 s at sf0.1 and
    12.26 s → 2.20 s on the 5× fixture (sweep artifact). Weights are exact ints summed in
    Python (fold order immaterial) and the score an int/int division
    performed in Spark SQL, so the DuckDB oracle (same profile rows
    via functions.langid.profile_values_sql, explode-join shape —
    deliberately a DIFFERENT algorithm) still matches bitwise.
    Accuracy on held-out per-language sentences is asserted >90% in
    tests/test_langid.py. At 100 TB the dict rides the task closure,
    loaded once per executor worker, like any distilled model.
    """
    import pandas as pd

    prof: dict[str, list[tuple[int, int]]] = {}
    lang_idx = {lang: i for i, lang in enumerate(LANGS)}
    for lang, tg, w in profile_rows():
        prof.setdefault(tg, []).append((lang_idx[lang], int(w)))

    n_langs = len(LANGS)

    def score(batches):
        get = prof.get
        for pdf in batches:
            ns: list[int | None] = []
            sums: list[list[int | None]] = [[] for _ in range(n_langs)]
            for t in pdf["__t"]:
                if t is None:
                    ns.append(None)
                    for col in sums:
                        col.append(None)
                    continue
                s = " " + t.lower() + " "
                n = max(len(s) - 2, 0)
                ns.append(n)
                acc = [0] * n_langs
                for i in range(n):
                    for li, w in get(s[i : i + 3], ()):
                        acc[li] += w
                for li in range(n_langs):
                    sums[li].append(acc[li])
            out = {"__id": pdf["__id"], "__n": pd.array(ns, dtype="Int64")}
            for li, lang in enumerate(LANGS):
                out[f"__w_{lang}"] = pd.array(sums[li], dtype="Int64")
            yield pd.DataFrame(out)

    schema = "__id long, __n long, " + ", ".join(
        f"__w_{lang} long" for lang in LANGS
    )
    scored = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .mapInPandas(score, schema)
        .select(
            "__id",
            *[
                (
                    F.coalesce(F.col(f"__w_{lang}"), F.lit(0))
                    / F.greatest(F.col("__n"), F.lit(1))
                ).alias(f"score_{lang}")
                for lang in LANGS
            ],
        )
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANGS])
    pred = F.lit("und")
    # argmax with first-wins tie semantics, matching the oracle's CASE
    for lang in reversed(LANGS):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best >= floor), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn("lang_pred", pred).withColumnRenamed("__id", id_col)


def train_charlm_profile(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Train the char-trigram LM quality profile IN-ENGINE from a clean
    subcorpus — the missing half of ``charlm_quality``'s loop (its
    shipped profile is a static table; a real 100 TB pipeline re-trains
    the profile from its own curated slice every refresh, exactly like
    CCNet trains KenLM on Wikipedia).

    Output: (trigram, cnt, lnw_nano) with lnw_nano =
    round(ln(cnt+1)·1e9) — the same add-one-smoothed nano-int encoding
    as ``functions.langid.lm_rows``, so the trained rows are
    plug-compatible with ``charlm_quality(profile=...)``.

    Plan: one projection exploding each doc's ~n_chars trigrams
    (whole-stage codegen, no Python) into ONE groupBy(trigram) count —
    map-side combine collapses the (tiny, ~|alphabet|³-bounded) key
    space before the shuffle, so the exchanged volume is per-task
    distinct trigrams, not corpus characters.
    """
    base = df.select(
        F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" ")).alias("__s")
    ).filter(F.col("__s").isNotNull())
    tg = F.expr(
        # sequence(1, 0) would generate DESCENDING [1, 0]; guard short docs
        "explode(CASE WHEN length(__s) >= 3 THEN"
        " transform(sequence(1, length(__s) - 2), i -> substring(__s, i, 3))"
        " ELSE array() END)"
    )
    counts = base.select(tg.alias("trigram")).groupBy("trigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.select(
        "trigram",
        "cnt",
        F.round(F.log(F.col("cnt") + 1) * 1e9, 0).cast("long").alias("lnw_nano"),
    )


def trained_profile(profile_df: DataFrame) -> tuple[dict, int]:
    """Collect a ``train_charlm_profile`` result into the (dict,
    norm_nano) pair ``charlm_quality(profile=..., norm_nano=...)``
    scores with. Bounded driver work by construction: the key space is
    distinct trigrams (≈|alphabet|³ worst case, hundreds-to-thousands
    in practice) — the same "model ships to workers" size class as the
    static profile."""
    import math

    rows = profile_df.select("trigram", "cnt", "lnw_nano").collect()
    prof = {r["trigram"]: r["lnw_nano"] for r in rows}
    t = sum(r["cnt"] for r in rows)
    v = len(rows) + 1
    return prof, int(round(math.log(t + v) * 1_000_000_000))


def charlm_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
    profile: dict | None = None,
    norm_nano: int | None = None,
) -> DataFrame:
    """Char-trigram LM quality score: per-document average add-one-
    smoothed log-probability under a pooled clean-text profile — the
    CCNet/KenLM perplexity-proxy quality signal (lower = less like
    clean text), shrunk to an engine-portable trigram model.

    Plan shape: ONE shuffle-free Arrow pass. The 656-entry profile
    ships as a closure dict into a ``mapInPandas`` stage that emits
    per-doc (n_trigrams, integer weight sum) — a Python dict lookup is
    O(1) per trigram. Measured history at sf0.1: the round-3
    ``map_from_arrays`` literal + ``aggregate(transform(...))`` fold
    ran 7.5 s because Spark's ``element_at`` on a map LITERAL is a
    LINEAR SCAN (656 string comparisons per character); the round-2
    explode→broadcast-join→agg shape ran 3.2 s because it shuffled
    ~len(text) rows per doc; this shape runs the corpus in one Arrow
    pass with no explode, no join, no groupBy, zero exchanges. The
    profile's log weights are PRE-COMPUTED nano-scaled integers
    (functions.langid.lm_rows), so the per-doc sum is integer-exact
    (fold order immaterial); the FINAL division/round stays in Spark
    SQL so both engines run the same IEEE ops on identical operands —
    the DuckDB oracle matches bit-for-bit with no transcendental
    drift. At 100 TB the plan is unchanged: the dict rides the task
    closure (a real KenLM-distilled profile ships the same way, loaded
    once per executor Python worker).

    ``passthrough``: extra input columns carried through the Arrow pass
    unchanged (so downstream per-group logic — e.g. per-language
    bucketing — needs no join back against the corpus).

    ``profile``/``norm_nano``: score under a custom trigram profile
    (e.g. one trained in-engine by ``train_charlm_profile`` +
    ``trained_profile``) instead of the shipped static table; pass
    both or neither."""
    import pandas as pd

    from ..functions.langid import lm_norm_nano, lm_rows

    if (profile is None) != (norm_nano is None):
        raise ValueError("pass both profile and norm_nano, or neither")
    prof = dict(lm_rows()) if profile is None else dict(profile)
    norm = lm_norm_nano() if norm_nano is None else int(norm_nano)

    def score(batches):
        get = prof.get
        for pdf in batches:
            ns: list[int | None] = []
            sums: list[int | None] = []
            for t in pdf["__t"]:
                if t is None:
                    ns.append(None)
                    sums.append(None)
                    continue
                s = " " + t.lower() + " "
                n = max(len(s) - 2, 0)
                ns.append(n)
                sums.append(sum(get(s[i : i + 3], 0) for i in range(n)))
            out = {
                "__id": pdf["__id"],
                "__n": pd.array(ns, dtype="Int64"),
                "__sn": pd.array(sums, dtype="Int64"),
            }
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    pass_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in passthrough
    )
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t"), *passthrough
    ).mapInPandas(score, "__id long, __n long, __sn long" + pass_schema)
    return base.select(
        F.col("__id").alias(id_col),
        *passthrough,
        F.col("__n").alias("n_trigrams"),
        F.round(
            (
                F.col("__sn") / F.greatest(F.col("__n"), F.lit(1))
                - F.lit(norm)
            )
            / F.lit(1e9),
            6,
        ).alias("avg_logprob"),
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet head/middle/tail quality bucketing (Wenzek et al. 2020
    §3.2): score every document with the char-LM perplexity proxy
    (``charlm_quality``), then split each language at the terciles of
    its score distribution — ``head`` (most clean-like third),
    ``middle``, ``tail``. CCNet trains on head+middle and discards
    tail; the bucket column keeps that decision auditable instead of
    baked in.

    Plan: the scoring Arrow pass carries ``lang`` through (no join back
    against the corpus), then per-language exact tercile thresholds are
    ONE tiny aggregate (2 percentiles × n_languages rows) broadcast
    back — two passes over the corpus total, no window over a global
    order. Thresholds compare the ROUNDED score, so the same documents
    land in the same buckets on any engine; CCNet production freezes
    thresholds from a held-out sample, which is this same shape with
    the aggregate replaced by a literal table.
    """
    scored = charlm_quality(
        df, text_col=text_col, id_col=id_col, passthrough=(lang_col,)
    )
    thr = scored.groupBy(lang_col).agg(
        F.percentile("avg_logprob", 1.0 / 3).alias("__t1"),
        F.percentile("avg_logprob", 2.0 / 3).alias("__t2"),
    )
    return (
        scored.join(F.broadcast(thr), on=lang_col)
        .withColumn(
            "bucket",
            F.when(F.col("avg_logprob") >= F.col("__t2"), F.lit("head"))
            .when(F.col("avg_logprob") >= F.col("__t1"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("__t1", "__t2")
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_frac: float = 0.05,
    max_top_frac: float = 0.06,
) -> DataFrame:
    """Gopher-style repetition quality filter (Rae et al. 2021 §A1.1):
    per-document duplicate-bigram fraction and top-bigram coverage,
    with a keep flag under the given thresholds. Highly repetitive
    documents (boilerplate, keyword stuffing, degenerate generations)
    are the classic pretraining-corpus pollutant these metrics catch.

    Plan shape: bigram explode → (doc, gram) count → per-doc aggregate
    → left join back (docs under 2 tokens keep zero metrics). Two
    shuffles, both on keys whose cardinality grows with the corpus —
    no per-doc quadratic work, no Python. All metrics are int/int
    divisions → bit-exact across engines.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), " ")
    base = df.select(F.col(id_col).alias("__id"), toks.alias("t"))
    grams = base.filter(F.size("t") >= 2).select(
        "__id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("gram"),
    )
    m = (
        grams.groupBy("__id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("__id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("top_cnt"),
        )
    )
    dup = (F.col("n_grams") - F.col("n_distinct")) / F.col("n_grams")
    top = F.col("top_cnt") / F.col("n_grams")
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(m, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(dup, F.lit(0.0)).alias("dup_bigram_frac"),
            F.coalesce(top, F.lit(0.0)).alias("top_bigram_frac"),
            (
                (F.coalesce(dup, F.lit(0.0)) <= max_dup_frac)
                & (F.coalesce(top, F.lit(0.0)) <= max_top_frac)
            ).alias("keep"),
        )
    )


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 6,
) -> DataFrame:
    """Benchmark-contamination check (GPT-3 appx C / PaLM style):
    training documents sharing any word n-gram with a held-out
    benchmark set, with the count of distinct shared n-grams.

    Plan shape (optimization round 12, guide §2.3/§2.4): n-gram
    explode on both sides → benchmark grams distinct (small side) →
    equi-join on the gram → distinct (doc, gram) on the MATCHES → per-
    doc count. The distinct on the training side used to run BEFORE
    the join, which hash-exchanged every training n-gram in the corpus
    (the single largest shuffle of the decontamination pass); since
    the benchmark side is distinct, joining first and deduping the
    matched pairs after yields the identical (doc, gram) set while the
    exchange now carries only grams that actually hit the benchmark —
    orders of magnitude fewer on a clean corpus. The join key is the
    n-gram itself (high cardinality at n≥6, so no hot keys); the
    benchmark side is typically tiny and AQE broadcasts it, so the
    training side is never shuffled at all. This is the
    decontamination pass every pretraining pipeline runs before
    shipping a corpus.
    """

    def grams(d: DataFrame) -> DataFrame:
        toks = F.split(F.trim(F.lower(F.col(text_col))), " ")
        return (
            d.select(F.col(id_col).alias("__id"), toks.alias("t"))
            .filter(F.size("t") >= n)
            .select(
                "__id",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(t) - {n - 1}),"
                        f" i -> concat_ws(' ', slice(t, i, {n})))"
                    )
                ).alias("gram"),
            )
        )

    tr = grams(train)
    bg = grams(bench).select("gram").distinct()
    return (
        tr.join(bg, on="gram")
        .select("__id", "gram")
        .distinct()
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .withColumnRenamed("__id", id_col)
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_spans: int = 3,
    max_df: int | None = None,
    observation=None,
) -> DataFrame:
    """Exact duplicated-span pair finder (the ExactSubstr-dedup signal
    of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499 — expressed over word n-grams):
    document pairs sharing >= ``min_spans`` distinct exact ``n``-token
    spans, with the shared-span count as evidence. Complements the
    approximate family: n-gram Jaccard measures SET overlap, winnowing
    samples fingerprints, this one counts exhaustive exact spans — the
    signal that catches verbatim boilerplate/quotation reuse between
    otherwise-different documents.

    Plan shape: distinct span hashes per doc → explode → inverted-index
    bucket pairing on the span (one shuffle; reuses dedup's
    collect_list bucketing so upstream evaluates once) → per-pair
    count >= min_spans. Span join keys are xxhash64 of the span text
    (64-bit long keys beat strings in the highest-volume stage; the
    output counts are unaffected modulo 2^-64 collisions). ``max_df``
    document-frequency-prunes spans appearing in more than that many
    docs (hot boilerplate), same cap/Observation contract as
    ``dedup.jaccard_pairs`` — off by default for oracle exactness, ON
    at corpus scale per DEPLOYMENT.md.
    """
    from .dedup import _bucket_pair_occurrences

    toks = F.split(F.trim(F.lower(F.col(text_col))), " +")
    spans = (
        df.select(F.col(id_col).alias("__id"), toks.alias("t"))
        .filter(F.size("t") >= n)
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(
            "__id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(t) - {n - 1}),"
                        f" i -> concat_ws(' ', slice(t, i, {n})))"
                    )
                )
            ).alias("__span"),
        )
        .select("__id", F.xxhash64("__span").alias("__sp"))
    )
    return (
        _bucket_pair_occurrences(
            spans, ["__sp"], "__id", max_bucket=max_df, observation=observation
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= min_spans)
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup REWRITE (the removal half of Lee et al.
    2022 ExactSubstr-dedup, arXiv:2107.06499, over word ``n``-grams —
    `duplicate_spans` is the pair-level SIGNAL; this produces the
    cleaned corpus): every span text occurring >= ``min_count`` times
    anywhere keeps exactly its canonical occurrence — min (doc, pos)
    over all occurrences — and the tokens under every other occurrence
    are dropped from that document's text. Deterministic by
    construction (no order dependence on which copy survives, unlike
    the reference's first-seen dedup).

    Returns ``(id, n_tokens, n_removed_tokens, clean_text)`` for every
    input document (unchanged docs included, with 0 removed).

    Plan shape — LINEAR end to end, no pair expansion anywhere (the
    property that makes exact-substring dedup viable at 100 TB where
    pairwise comparison is not): span occurrences explode O(tokens);
    one hash shuffle groups occurrences by span to count + pick the
    canonical (an aggregate, never a join of occurrences against
    occurrences); non-canonical occurrences explode to covered token
    positions (O(removed tokens)); one reassembly aggregate per doc
    rebuilds the kept text in position order. A boilerplate span in a
    million documents costs exactly its million occurrence rows — the
    rows that must be touched to remove them.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), " +")
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__t"))
    occ = (
        base.filter(F.size("__t") >= n)
        .select(
            "__id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(__t) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(__t, i, {n})))"
                )
            ).alias("__pos", "__span"),
        )
        .select("__id", "__pos", F.xxhash64("__span").alias("__sp"))
    )
    dup = (
        occ.groupBy("__sp")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct("__id", "__pos")).alias("__canon"),
        )
        .filter(F.col("__cnt") >= min_count)
        .select("__sp", "__canon")
    )
    noncanon = occ.join(dup, on="__sp").filter(
        ~(
            (F.col("__id") == F.col("__canon.__id"))
            & (F.col("__pos") == F.col("__canon.__pos"))
        )
    )
    removed = noncanon.select(
        "__id",
        F.explode(F.expr(f"sequence(__pos, __pos + {n - 1})")).alias("__tp"),
    ).distinct()
    tokens = base.select("__id", F.posexplode("__t").alias("__tp", "__tok"))
    marked = tokens.join(
        removed.withColumn("__rm", F.lit(1)), on=["__id", "__tp"], how="left"
    )
    kept = F.when(
        F.col("__rm").isNull(),
        F.struct(F.col("__tp").alias("p"), F.col("__tok").alias("t")),
    )
    return (
        marked.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("__rm"), F.lit(0))).cast("long").alias(
                "n_removed_tokens"
            ),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["t"]
                ),
            ).alias("clean_text"),
        )
        .withColumnRenamed("__id", id_col)
    )


def fingerprint_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_tokens: int = 4
) -> DataFrame:
    """Prefix-fingerprint dedup groups (F7-style md5 identity —
    ref extracting_embeddings.py:89-93): one shuffle on the
    fingerprint; canonical = min id (deterministic)."""
    fp = fingerprint_prefix(F.col(text_col), n_tokens)
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(id_col).alias("canonical_id"),
        )
    )


# ------------------------------------------------- winnowing fingerprints


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD 2003):
    hash every character k-gram of the normalized text, then keep the
    minimum hash of each sliding window of ``window`` consecutive k-gram
    hashes. Guarantee: any shared substring of length >= k + window - 1
    between two documents yields at least one shared fingerprint, so
    fingerprint overlap is a sound near-dup candidate signal at ~1/window
    the k-gram volume.

    Output: one row per distinct (id, fingerprint). Docs shorter than
    k + window - 1 normalized chars produce no rows (no full window).

    Scale shape: one Arrow batch per input partition does the k-gram
    hashing (C hashlib md5) and the window-min (numpy sliding-window
    view) — no interpreted HOF lambdas, no shuffle; output volume is
    ~len/window rows per doc. The hash is the md5-portable 60-bit
    family (``md5_hash60_sql``): DuckDB replays it as
    ``('0x' || substr(md5(substr(t, i, k)), 1, 15))::BIGINT`` so the
    driver hash-checks the full pipeline.

    The reference has no fingerprinting beyond whole-field md5 identity
    (extracting_embeddings.py:89-93); this is the north-star rolling
    fingerprint operator a training-data pipeline needs.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    min_len = k + window - 1

    def fps(batches):
        for pdf in batches:
            ids: list = []
            vals: list = []
            for rid, t in zip(pdf["__id"], pdf["__t"]):
                n_grams = len(t) - k + 1
                if n_grams < window:
                    continue
                h = np.empty(n_grams, dtype=np.int64)
                for i in range(n_grams):
                    h[i] = int(
                        hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()[:15],
                        16,
                    )
                mins = np.unique(
                    np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
                )
                ids.extend([rid] * len(mins))
                vals.extend(mins.tolist())
            yield pd.DataFrame({"__id": ids, "fp": vals})

    normalized = df.select(
        F.col(id_col).alias("__id"),
        F.lower(F.trim(F.col(text_col))).alias("__t"),
    ).filter(F.length("__t") >= min_len)
    return normalized.mapInPandas(fps, "__id long, fp long").withColumnRenamed(
        "__id", id_col
    )


def winnow_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    max_df: int = 16,
    observation=None,
) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap: pairs whose
    shared fingerprints cover >= half their fingerprint union
    (2·|A∩B| >= |A∪B|, an integer comparison — no float boundary).

    ``max_df`` document-frequency-prunes fingerprints appearing in more
    than that many documents BEFORE pair expansion — the standard
    inverted-index df-pruning: an ultra-common fingerprint carries no
    near-dup signal but expands quadratically (on the low-entropy test
    corpus a single fingerprint reaches df=328 of 500 docs ⇒ 94M pair
    expansions uncapped vs ~25 real pairs capped). Per-doc fingerprint
    counts are taken AFTER pruning so the overlap ratio is consistent.
    ``observation`` (a ``pyspark.sql.Observation``) reports the prune
    volume when the plan executes — ``dropped_occurrences`` (pruned
    (id, fp) rows) and ``max_fp_df`` — the same observability contract
    as ``dedup.jaccard_pairs``'s hot-bucket cap, so production can
    alert on runaway boilerplate instead of silently pruning.

    Plan: fingerprints (mapInPandas, no shuffle) → window count over fp
    (1 shuffle) → in-bucket pair expansion reusing that partitioning →
    pair-count shuffle → two small joins for the per-doc counts.
    """
    from pyspark.sql.window import Window

    ex = winnow_fingerprints(df, id_col, text_col, k=k, window=window)
    # df-prune with a window count: one shuffle on fp, and the bucket
    # groupBy below reuses the resulting hash partitioning (no second
    # exchange on fp).
    flagged = ex.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )
    if observation is not None:
        flagged = flagged.observe(
            observation,
            F.sum(
                F.when(F.col("__df") > max_df, F.lit(1)).otherwise(F.lit(0))
            ).alias("dropped_occurrences"),
            F.max("__df").alias("max_fp_df"),
        )
    # reused by nfp AND pair branches; with an observation the
    # checkpoint must be EAGER — a lazy checkpoint's RDD
    # materialization path never reports CollectMetrics, so the
    # Observation would block/return empty (and without a checkpoint
    # the doubly-referenced subtree could double-count the metrics)
    kept = (
        flagged.filter(F.col("__df") <= max_df)
        .drop("__df")
        .localCheckpoint(eager=observation is not None)
    )
    nfp = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    from .dedup import _bucket_pair_occurrences

    shared = (
        _bucket_pair_occurrences(kept, ["fp"], id_col)
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = nfp.withColumnRenamed(id_col, "a_id").withColumnRenamed("__n", "__na")
    nb = nfp.withColumnRenamed(id_col, "b_id").withColumnRenamed("__n", "__nb")
    return (
        shared.join(na, "a_id")
        .join(nb, "b_id")
        .withColumn("n_union", F.col("__na") + F.col("__nb") - F.col("n_shared"))
        .filter(2 * F.col("n_shared") >= F.col("n_union"))
        .select("a_id", "b_id", "n_shared", "n_union")
    )


# ------------------------------------------------------------ PII scrub

# (name, regex, replacement) — patterns restricted to syntax with
# identical semantics in Java regex (Spark) and RE2 (DuckDB, Go, Rust
# engines): no alternation (leftmost-longest vs leftmost-first would
# diverge), no backrefs, ASCII classes only. Order matters: emails are
# scrubbed before IPs so an address's host dots can't be half-eaten.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>"),
    ("phone", r"\b555-\d{4}\b", "<PHONE>"),
)


def pii_scrub(
    df: DataFrame, text_col: str = "text", patterns=PII_PATTERNS
) -> DataFrame:
    """Redact PII spans and count them per document.

    Adds ``n_<name>`` (match count BEFORE scrubbing, int) per pattern
    and ``scrubbed`` (all patterns replaced, in declaration order).
    Pure JVM regexp expressions — single-pass whole-stage-codegen
    projection, no shuffle, no Python: runs at scan speed on 100 TB.

    The reference ships raw UGC text straight into CLIP prompts
    (extracting_embeddings.py:135-152) with no scrubbing pass; this is
    the compliance-gate operator a training-data pipeline needs before
    text leaves the curated zone.
    """
    out = df
    for name, regex, _ in patterns:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(regex))
        )
    scrubbed = F.col(text_col)
    for _, regex, token in patterns:
        scrubbed = F.regexp_replace(scrubbed, regex, token)
    return out.withColumn("scrubbed", scrubbed)


def quality_rule_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 80,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 5.0,
    min_stop_hits: int = 1,
    min_distinct_ratio: float = 0.35,
    stopwords=DEFAULT_STOPWORDS,
) -> DataFrame:
    """C4/Gopher-style rule-based quality gate with per-rule verdicts.

    The published heuristic filters (Raffel et al. C4 §2.2, Rae et al.
    Gopher A1.1) are hard thresholds on cheap document statistics; this
    operator computes each rule as its own boolean column plus the
    conjunctive ``keep``, so a pipeline can both filter and audit
    *which* rule rejected a document (the per-rule reject rates are the
    first thing to inspect when a corpus shrinks unexpectedly).

    Rules: word count ∈ [min_words, max_words]; mean word length ∈
    [min_mean_word_len, max_mean_word_len]; ≥ min_stop_hits distinct
    stopwords present; distinct-token ratio ≥ min_distinct_ratio.

    Every statistic is a built-in expression over one tokenization —
    single-pass columnar projection, no shuffle, no Python: scan speed
    at 100 TB. Ratios are int/int divisions (exact doubles), so the
    whole verdict replays bit-identically in the SQL oracle.
    """
    toks = tokenize(F.lower(F.col(text_col)))
    n = F.size(toks)
    n1 = F.greatest(n, F.lit(1))
    # token chars / token count: length with the separators removed
    chars = F.length(F.regexp_replace(F.trim(F.col(text_col)), " ", ""))
    mean_len = chars / n1
    sw = F.array(*[F.lit(s) for s in stopwords])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), sw)).cast("long")
    distinct_ratio = F.size(F.array_distinct(toks)) / n1
    n = n.cast("long")
    words_ok = (n >= min_words) & (n <= max_words)
    word_len_ok = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    stop_ok = stop_hits >= min_stop_hits
    distinct_ok = distinct_ratio >= min_distinct_ratio
    return df.select(
        "*",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        distinct_ratio.alias("distinct_ratio"),
        words_ok.alias("words_ok"),
        word_len_ok.alias("word_len_ok"),
        stop_ok.alias("stop_ok"),
        distinct_ok.alias("distinct_ok"),
        (words_ok & word_len_ok & stop_ok & distinct_ok).alias("keep"),
    )


def chunk_documents(
    df: DataFrame,
    size: int = 120,
    stride: int = 80,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window character chunking with overlap — the
    context-window preparation step before embedding or training on
    long documents (stride < size ⇒ consecutive chunks overlap by
    ``size - stride`` chars, so no boundary-spanning content is lost).

    Chunk ``i`` starts at char ``1 + i*stride`` (1-based); starts run
    while ≤ len(text), so trailing chunks may be shorter than ``size``
    but every char is covered. One ``posexplode`` over a generated
    start sequence — stateless row-local fan-out, no shuffle, output
    rows ≈ n_chars/stride per doc: scan-bound at 100 TB. Emits the
    chunk text plus its md5/length so downstream dedup can run on
    chunks without re-reading the parent document.
    """
    n = F.length(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    chunk = F.substring(F.col(text_col), F.col("__start"), size)
    return (
        df.select(F.col(id_col), F.col(text_col), F.explode(starts).alias("__start"))
        .select(
            F.col(id_col),
            F.expr(f"(__start - 1) div {stride}").cast("long").alias("chunk_idx"),
            chunk.alias("chunk_text"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk.cast("binary")).alias("chunk_md5"),
        )
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus for one bag of query terms.

    ``allowed_ids`` (a DataFrame whose ``id_col`` names the permitted
    docs) applies BEFORE ranking — the retrieval universe becomes the
    filtered candidate set (per-term df over it, top-k of it), while
    the corpus stats (n_docs, avgdl) stay whole-corpus, matching the
    persisted-index path (`text_index.text_index_search`) bit-for-bit
    under the same filter.

    Classic Robertson/Spärck Jones BM25 shape with a *rational* idf,
    ``(N - df + 0.5) / (df + 0.5)`` — the standard ``ln(·+1)`` wrapper
    is monotone, so rankings are preserved, while avoiding the one
    cross-engine nondeterminism in the formula (libm ``log`` is not
    guaranteed correctly rounded; every remaining operation is a single
    IEEE op with identical parenthesization on both engines).

    Plan shape: one stateless tokenize→explode pass keeping only query
    terms (the explode output is |terms|-bounded per doc, not |doc|),
    per-(doc, term) tf aggregate, a broadcast-size per-term df
    aggregate joined back, and a single-row (N, avgdl) corpus aggregate
    attached as a 1×1 broadcast nested-loop join — no driver collect.
    Per-term scores are summed as decimal(38,6) (exact addition ⇒
    fold-order independent) and the top-k carries the id tiebreak.
    At 100 TB the heavy stage is the tf aggregate, which shuffles only
    rows that actually contain a query term.
    """
    terms = sorted(set(query_terms))
    toks = tokenize(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__t"), F.size(toks).alias("__dl"))
    corpus = base.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        (F.sum("__dl") / F.count(F.lit(1))).alias("__avgdl"),
    )
    hits = (
        base.select(id_col, "__dl", F.explode("__t").alias("__term"))
        .filter(F.col("__term").isin(terms))
        .groupBy(id_col, "__dl", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    if allowed_ids is not None:
        hits = hits.join(allowed_ids.select(F.col(id_col)), on=id_col, how="leftsemi")
    return bm25_rank_hits(hits, corpus, top_k=top_k, k1=k1, b=b, id_col=id_col)


def bm25_rank_hits(
    hits: DataFrame,
    corpus: DataFrame,
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """The shared BM25 scoring tail: ``hits`` carries one row per
    (doc, query term) as ``(id_col, __dl, __term, __tf)``; ``corpus``
    is the corpus stats (`_bm25_scores`). Factored out so the
    corpus-scan path (`bm25_search`) and the persisted inverted-index
    path (`text_index.text_index_search`) run the IDENTICAL IEEE
    expression tree — their scores are bit-equal by construction, not
    by luck."""
    return (
        _bm25_scores(hits, corpus, k1, b, id_col)
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(top_k)
    )


def _bm25_scores(
    hits: DataFrame,
    corpus,
    k1: float,
    b: float,
    id_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """``(*by, id_col, bm25, n_terms_hit)``: one BM25 score per
    ``(*by, doc)``, with per-term df counted per ``(*by, term)``. The
    batch serve (`text_index.text_index_search_all`) passes its query
    id as ``by``; each query's terms are distinct, so its df per
    ``(query, term)`` is the term's df and its scores equal the
    single-query serve's bit for bit.

    ``corpus`` is either the exact ``(n_docs, sum_dl)`` a persisted
    index records (inlined as DOUBLE literals; ``avgdl`` is
    ``float(sum_dl) / float(n_docs)``, the double division Spark runs
    for long / long) or the scan path's one-row
    ``(__n_docs, __avgdl)`` relation, cross-joined. Both feed the same
    formula text."""
    dfreq = hits.groupBy(*by, "__term").agg(F.expr("count(1) AS __df"))
    scored = hits.join(F.broadcast(dfreq), on=[*by, "__term"])
    if isinstance(corpus, DataFrame):
        scored = scored.crossJoin(F.broadcast(corpus))
        n_docs, avgdl = "CAST(__n_docs AS DOUBLE)", "__avgdl"
    else:
        n, sum_dl = (int(x) for x in corpus)
        n_docs, avgdl = sql_literal(float(n)), sql_literal(float(sum_dl) / float(n))
    idf = f"(({n_docs} - __df) + 0.5D) / (__df + 0.5D)"
    tf = "CAST(__tf AS DOUBLE)"
    dl_norm = (
        f"(1.0D - {sql_literal(float(b))}) + "
        f"({sql_literal(float(b))} * (__dl / {avgdl}))"
    )
    term_score = (
        f"({idf}) * (({tf} * {sql_literal(k1 + 1.0)}) / "
        f"({tf} + ({sql_literal(float(k1))} * ({dl_norm}))))"
    )
    return (
        scored.selectExpr(*by, id_col, f"{term_score} AS __s")
        .groupBy(*by, id_col)
        .agg(
            F.expr("CAST(sum(CAST(__s AS DECIMAL(38,6))) AS DOUBLE) AS bm25"),
            F.expr("count(1) AS n_terms_hit"),
        )
    )


def nfc_normalize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode NFC normalization — the canonical-composition pass every
    corpus pipeline runs before hashing/dedup (decomposed and
    precomposed renderings of the same character otherwise hash apart
    and defeat exact dedup). Returns (id, text_nfc, changed).

    Spark SQL has no Unicode-normalize builtin, so this is an
    Arrow-batched mapInPandas over ``unicodedata.normalize`` (CPython's
    C implementation) — vectorized batches, not per-row Python. Plan:
    one narrow pass, no shuffle. The DuckDB oracle replays with its
    native ``nfc_normalize`` (agreement verified in tests on combining
    characters, not just ASCII). NULL text yields NULL ``text_nfc``
    AND NULL ``changed`` — SQL three-valued semantics, matching the
    oracle's ``nfc_normalize(text) <> text`` (round-3 advice; a False
    there would diverge the cross-engine hash on NULL-bearing
    fixtures).
    """
    import unicodedata

    import pandas as pd

    def norm(batches):
        for pdf in batches:
            texts = pdf["__t"]
            out = [
                unicodedata.normalize("NFC", t) if t is not None else None
                for t in texts
            ]
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "text_nfc": out,
                    "changed": [
                        (None if t is None else o != t)
                        for t, o in zip(texts, out)
                    ],
                }
            )

    return (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .mapInPandas(norm, "__id long, text_nfc string, changed boolean")
        .withColumnRenamed("__id", id_col)
    )


def lines_from_tokens(
    df: DataFrame,
    text_col: str = "text",
    tokens_per_line: int = 5,
) -> DataFrame:
    """Re-chunk whitespace text into newline-separated lines of
    ``tokens_per_line`` tokens — the deterministic line synthesizer the
    line-level catalog queries share (the parquet fixtures carry no
    newlines, so line structure is derived identically on both
    engines: DuckDB replays it with a list-comprehension slice).
    Pure HOF projection, no shuffle."""
    tk = F.split(F.trim(F.col(text_col)), " ")
    n_lines = F.ceil(F.size(tk) / F.lit(float(tokens_per_line))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(1), F.greatest(n_lines, F.lit(1))),
        lambda i: F.array_join(
            F.slice(tk, (i - F.lit(1)) * tokens_per_line + 1, tokens_per_line),
            " ",
        ),
    )
    return df.withColumn(text_col, F.array_join(lines, "\n"))


def _line_word_count(ln):
    """Words in a line, '' counting as zero — identical on both
    engines (split('') yields [''], so the empty case is special)."""
    return (
        F.when(F.trim(ln) == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(ln), " +")))
    )


def line_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    deny_substrings: tuple[str, ...] = ("lorem ipsum", "javascript", "{"),
    require_terminal_punct: bool = False,
) -> DataFrame:
    """C4-style LINE-level cleanup (Raffel et al. 2020 §2.2 — the rules
    C4 applies before any document-level filter): drop lines with fewer
    than ``min_words`` words, lines containing any deny substring
    (C4 drops 'javascript'/'lorem ipsum'/curly-brace lines), and —
    when ``require_terminal_punct`` — lines not ending in terminal
    punctuation. Documents are reassembled from their surviving lines;
    per-doc ``n_lines``/``n_lines_kept`` make reject rates auditable.

    Scale design: the whole operator is ONE higher-order-function
    projection (split → filter → array_join) inside whole-stage
    codegen — no explode, no shuffle, no Python. At 100 TB it runs at
    scan speed, which matters because line cleanup is the FIRST pass
    of a C4-shaped pipeline and therefore sees every byte of the raw
    corpus. (The obvious explode → filter → groupBy(doc) reassembly
    shape would shuffle ~every line of the corpus twice for the same
    answer.)
    """
    def keep(ln):
        cond = _line_word_count(ln) >= min_words
        low = F.lower(ln)
        for d in deny_substrings:
            cond = cond & ~low.contains(d.lower())
        if require_terminal_punct:
            cond = cond & ln.rlike('[.!?"]\\s*$')
        return cond

    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, keep)
    return df.select(
        "*",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_lines_kept"),
        F.array_join(kept, "\n").alias("text_clean"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style corpus-wide PARAGRAPH deduplication (Wenzek et al.
    2020 §3.1: hash every paragraph, drop re-occurrences corpus-wide —
    boilerplate headers/footers/licenses vanish while each unique
    paragraph survives exactly once). Paragraphs are newline-separated;
    a paragraph is kept only in the document with the MINIMUM id among
    all documents containing it (the repo's deterministic
    first-occurrence convention — CCNet's own 'seen before' rule
    depends on processing order). Blank lines are structural, not
    content: they are never deduplicated (hashing them would collapse
    every document's blank lines into one arbitrary winner).

    Returns (id, n_lines, n_lines_kept, text_clean) with surviving
    lines rejoined in original order; documents losing every line
    yield ''.

    Scale design: explode to (id, pos, line) → two-phase
    groupBy(hash).min(id) (map-side combine collapses hot boilerplate
    hashes BEFORE the shuffle — the skew-safe shape; a window over the
    hash would sort entire hot-key partitions) → equi-join back on the
    hash (AQE skew-join splits any residual hot hash) → one
    groupBy(id) reassembly. Three line-granularity shuffles total, all
    on co-located keys, no Python.
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__ln"),
    ).withColumn("__h", F.md5(F.lower(F.trim(F.col("__ln")))))
    first = lines.filter(F.trim(F.col("__ln")) != "").groupBy("__h").agg(
        F.min("__id").alias("__first_id")
    )
    kept = (
        lines.join(first, on="__h", how="left")
        .filter(
            (F.trim(F.col("__ln")) == "") | (F.col("__id") == F.col("__first_id"))
        )
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_lines_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__pos"), F.col("__ln")))
                    ),
                    lambda s: s["__ln"],
                ),
                "\n",
            ).alias("text_clean"),
        )
    )
    base = df.select(
        F.col(id_col),
        F.col(id_col).alias("__id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
    )
    return (
        base.join(kept, on="__id", how="left")
        .select(
            id_col,
            "n_lines",
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


def dsir_select(
    df: DataFrame,
    top_k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_lang: str = "en",
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    every raw document by the log-likelihood ratio between a
    target-domain char-trigram LM and the pooled background LM, then
    keep the top-k by importance — the importance-resampling pass that
    picks domain-matched pretraining data out of a raw crawl. The
    paper resamples with Gumbel noise; this is the deterministic top-k
    variant (rank by rounded score, id tiebreak), so corpus membership
    is reproducible and engine-portable.

    Scoring is restricted to IN-VOCAB trigrams: naive add-one scoring
    hands every OOV trigram the constant bonus ln(T_b+V_b)-ln(T_t+V_t)
    (> 0 whenever the target corpus is smaller), so an all-OOV garbage
    document would OUTRANK genuine target-language text. In-vocab-only
    scoring is what hashed-feature DSIR does implicitly (every hashed
    bucket is in-vocab); a document with no in-vocab trigram carries no
    evidence and gets a NULL score, ranked last.

    Plan shape: the same single Arrow ``mapInPandas`` pass as
    `charlm_quality` (O(1) closure-dict lookups, exact integer
    log-ratio sums — functions.langid.dsir_rows), then ONE global
    TakeOrderedAndProject for the top-k: per-partition heaps, no full
    sort, no shuffle beyond the k-row reduction. Both profiles are
    static nano-int tables, so the DuckDB oracle replays score AND
    selection exactly.
    """
    import pandas as pd

    from ..functions.langid import dsir_norm_nano, dsir_rows

    prof = dict(dsir_rows(target_lang))

    def score(batches):
        for pdf in batches:
            ns: list[int | None] = []
            nms: list[int | None] = []
            sums: list[int | None] = []
            for t in pdf["__t"]:
                if t is None:
                    ns.append(None)
                    nms.append(None)
                    sums.append(None)
                    continue
                s = " " + t.lower() + " "
                n = max(len(s) - 2, 0)
                hits = [
                    prof[tg]
                    for tg in (s[i : i + 3] for i in range(n))
                    if tg in prof
                ]
                ns.append(n)
                nms.append(len(hits))
                sums.append(sum(hits))
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "__n": pd.array(ns, dtype="Int64"),
                    "__nm": pd.array(nms, dtype="Int64"),
                    "__sn": pd.array(sums, dtype="Int64"),
                }
            )

    scored = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .mapInPandas(score, "__id long, __n long, __nm long, __sn long")
        .select(
            F.col("__id").alias(id_col),
            F.col("__n").alias("n_trigrams"),
            F.col("__nm").alias("n_matched"),
            F.when(
                F.col("__nm") > 0,
                F.round(
                    (
                        F.col("__sn") / F.col("__nm")
                        - F.lit(dsir_norm_nano(target_lang))
                    )
                    / F.lit(1e9),
                    6,
                ),
            ).alias("avg_log_ratio"),
        )
    )
    return scored.orderBy(
        F.col("avg_log_ratio").desc_nulls_last(), F.col(id_col).asc()
    ).limit(top_k)


# --------------------------------------------- BPE vocabulary learning
#
# Sennrich et al. 2016 (arXiv:1508.07909): learn subword merges by
# repeatedly fusing the most frequent adjacent symbol pair. The
# distributed decomposition exploits BPE's defining property: after the
# first word-count pass, training only ever touches the DISTINCT-WORD
# table (vocab-sized, corpus-size-independent) — a 100 TB corpus and a
# 100 GB corpus with the same vocabulary train at the same speed.


def bpe_word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the whitespace-lowered corpus — the ONE
    corpus-sized pass of BPE training (one explode + one map-combined
    groupBy; everything after runs on this table)."""
    return (
        df.select(
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), " +")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_BPE_EOW = "</w>"


def bpe_train_merges(
    words: DataFrame,
    n_merges: int = 20,
    min_pair_count: int = 2,
    batch_k: int = 64,
    stats: dict | None = None,
    incremental: bool | None = None,
    incremental_threshold: int = 50_000,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, cnt) table.
    Returns [(left, right, pair_count), ...] in merge order —
    deterministic: ties on count break lexicographically, so any
    engine/layout learns the identical merge list.

    BATCHED rounds (round-4 verdict #3): one aggregation + one driver
    round-trip used to buy exactly ONE merge, so a 32k-merge vocab
    meant 32k Spark jobs. Each round now collects the top ``batch_k``
    pairs and accepts the longest rank-prefix that is PROVABLY the
    same sequence sequential BPE would pick:

    - mutually symbol-disjoint (pair i's count is then unchanged by
      applying pairs 1..i-1 — no shared symbol means no destroyed or
      created adjacency);
    - every accepted count strictly > G, the best count among pairs
      NOT accepted (first overlapping pair / first uncollected pair):
      any pair a prior merge creates or decreases is bounded by an
      overlapping pre-merge pair's count <= G, so nothing outside the
      prefix can outrank its tail mid-sequence;
    - no accepted merged string collides with an existing vocab symbol
      or another accepted pair's merged string (aliasing could grow a
      pre-existing pair's count past G, breaking the bound; on
      collision the batch truncates before the offender).

    If the rules trim the batch to nothing, the round falls back to
    the classic single top-1 merge, which is trivially sequential.
    Identity with the reference algorithm is pinned by the referee
    test (tests/test_quality_ops.py); ``stats["rounds"]`` (optional)
    reports how many aggregation rounds the merges cost.

    INCREMENTAL pair counts (round-5 verdict #5): at a large vocab a
    round used to re-explode EVERY word's adjacent pairs and
    re-aggregate — O(vocab symbols) per round, ~1 full vocab pass per
    merge once batching degrades (measured 0.94 rounds/merge at depth
    128: deep in training the top pairs share symbols, so the
    provably-sequential prefix is usually length 1). With
    ``incremental=True`` the loop instead maintains the (l, r, n)
    pair-count table across rounds — the standard BPE-trainer trick,
    distributed: only words CONTAINING an accepted pair's symbols
    (``arrays_overlap`` on the pre-split table) have their old pairs
    subtracted and new pairs re-counted in ONE fused delta-aggregate;
    everything else is untouched. Per round that is a bounded
    ``limit(batch_k+1)`` TakeOrdered on the counts table, one filter
    pass over the word table, and a delta over the AFFECTED words only
    — at a real 10⁷-word vocab the per-round explode drops from ~10⁸
    pair rows to the few thousand rows of words touching the merged
    symbols. The trade is ~3× the per-round fixed cost (three
    checkpointed stages instead of one), so the default
    (``incremental=None``) picks by vocab size: full recount below
    ``incremental_threshold`` distinct words (where a recount IS the
    cheap plan — test fixtures, small corpora), incremental at or
    above it (where the recount is the 10⁸-row pass). Both paths
    learn the identical merge list — the incremental table is exactly
    a from-scratch recount by construction (unchanged words in the
    conservative affected-superset contribute +/- rows that cancel),
    and the referee tests pin both. Superseded checkpoint blocks are
    freed per round; ``stats`` (optional) records ``rounds`` and the
    chosen ``mode``.
    """
    import pandas as pd

    seg = words.select(
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(_BPE_EOW))
        ).alias("syms"),
        F.col("cnt"),
    ).localCheckpoint(eager=True)

    if incremental is None:
        incremental = seg.count() >= incremental_threshold

    merges: list[tuple[str, str, int]] = []
    rounds = 0
    # CASE-guard: a fully-merged word has ONE symbol, and
    # sequence(1, 0) would generate a DESCENDING [1, 0]
    pair_expr = F.expr(
        "CASE WHEN size(syms) >= 2 THEN"
        " transform(sequence(1, size(syms) - 1),"
        " i -> struct(syms[i - 1] AS l, syms[i] AS r))"
        " ELSE array() END"
    )

    def pair_counts(df):
        return (
            df.select(F.explode(pair_expr).alias("p"), "cnt")
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
        )

    counts = pair_counts(seg).localCheckpoint(eager=True) if incremental else None
    while len(merges) < n_merges:
        rounds += 1
        ranked = counts if incremental else pair_counts(seg)
        top = (
            ranked.orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(batch_k + 1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_count:
            break
        # G: best count sequential BPE could see OUTSIDE the accepted
        # prefix — uncollected pairs are bounded by the overflow row
        overflow = top[batch_k]["n"] if len(top) > batch_k else 0
        bound = int(overflow)
        used: set[str] = set()
        accepted: list[tuple[str, str, int]] = []
        for row in top[:batch_k]:
            l, r, n = row["l"], row["r"], int(row["n"])
            if n < min_pair_count:
                break
            if l in used or r in used:
                bound = max(bound, n)
                break
            accepted.append((l, r, n))
            used.update((l, r))
        while accepted and accepted[-1][2] <= bound:
            accepted.pop()
        if len(accepted) > 1:
            # aliasing probe: merged strings that equal a live vocab
            # symbol (bounded result: <= len(accepted) rows)
            cand = [l + r for l, r, _ in accepted]
            vocab_hits = {
                row["s"]
                for row in seg.select(F.explode("syms").alias("s"))
                .filter(F.col("s").isin(cand))
                .distinct()
                .collect()
            }
            seen: set[str] = set()
            cut = len(accepted)
            for i, (l, r, n) in enumerate(accepted):
                a = l + r
                if a in vocab_hits or a in seen or a in used:
                    cut = i
                    break
                seen.add(a)
            accepted = accepted[:cut]
        if not accepted:
            l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
            accepted = [(l, r, n)]
        accepted = accepted[: n_merges - len(merges)]
        merges.extend(accepted)

        def apply_merges(
            batches,
            _ms=tuple((l, r) for l, r, _ in accepted),
            _prefiltered=incremental,
        ):
            touch = {s for p in _ms for s in p}
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    syms = list(syms)
                    if not _prefiltered and touch.isdisjoint(syms):
                        out.append(syms)
                        continue
                    for _l, _r in _ms:  # rank order == sequential order
                        merged, i, ln = [], 0, len(syms)
                        while i < ln:
                            if (
                                i + 1 < ln
                                and syms[i] == _l
                                and syms[i + 1] == _r
                            ):
                                merged.append(_l + _r)
                                i += 2
                            else:
                                merged.append(syms[i])
                                i += 1
                        syms = merged
                    out.append(syms)
                yield pd.DataFrame({"syms": out, "cnt": pdf["cnt"]})

        if not incremental:
            new_seg = seg.mapInPandas(
                apply_merges, "syms array<string>, cnt long"
            ).localCheckpoint(eager=True)
            _unpersist_local_checkpoint(seg)
            seg = new_seg
            continue

        # incremental maintenance: only words that could contain an
        # accepted pair (symbol overlap — a cheap JVM filter, conservative
        # superset) are re-segmented and re-counted; their OLD pair
        # counts are subtracted and NEW ones added, so `counts` stays
        # exactly equal to a from-scratch recount (unchanged words in
        # the superset contribute identical +/- rows that cancel)
        touch_arr = F.array(
            *[F.lit(s) for p in accepted for s in (p[0], p[1])]
        )
        is_affected = F.arrays_overlap(F.col("syms"), touch_arr)
        affected = seg.filter(is_affected)
        # one Python pass over the affected rows only; checkpointed so
        # BOTH consumers (the new word table and the + delta) read it
        # without re-running the pass. The + side counts the TRANSFORMED
        # rows — a post-merge word may no longer contain l or r at all
        # (both consumed into "lr"), so re-filtering by symbol overlap
        # would miss its new pairs.
        new_affected = affected.mapInPandas(
            apply_merges, "syms array<string>, cnt long"
        ).localCheckpoint(eager=True)
        # coalesce BEFORE the checkpoint: the union's partition count is
        # |seg| + |new_affected|, which otherwise DOUBLES every round
        # (the checkpoint materializes it) — by depth 512 that is 10^5+
        # empty tasks per vocab-sized stage. Narrow coalesce, no shuffle.
        new_seg = (
            seg.filter(~is_affected)
            .unionByName(new_affected)
            .coalesce(seg.sparkSession.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        # fused delta: -old pairs and +new pairs in ONE aggregate pass
        delta = (
            affected.select(
                F.explode(pair_expr).alias("p"), (-F.col("cnt")).alias("c")
            )
            .unionByName(
                new_affected.select(
                    F.explode(pair_expr).alias("p"), F.col("cnt").alias("c")
                )
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("c").alias("n"))
        )
        new_counts = (
            counts.unionByName(delta)
            .groupBy("l", "r")
            .agg(F.sum("n").alias("n"))
            .filter(F.col("n") > 0)
            .localCheckpoint(eager=True)
        )
        _unpersist_local_checkpoint(seg)
        _unpersist_local_checkpoint(counts)
        _unpersist_local_checkpoint(new_affected)
        seg, counts = new_seg, new_counts
    _unpersist_local_checkpoint(seg)
    if counts is not None:
        _unpersist_local_checkpoint(counts)
    if stats is not None:
        stats["rounds"] = rounds
        stats["mode"] = "incremental" if incremental else "recount"
    return merges


def _make_seg_word(merges: list[tuple]) -> callable:
    """Greedy BPE apply for one word: repeatedly fuse the lowest-rank
    adjacent symbol pair (HuggingFace-tokenizers semantics). Accepts
    (left, right) or (left, right, count) merge tuples."""
    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}

    def seg_word(word: str) -> list[str]:
        syms = list(word) + [_BPE_EOW]
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best_rank, best_i = rk, i
            if best_i is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    return seg_word


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to a corpus: per document, the BPE
    token sequence and its length — real learned-subword token counting
    (the budget unit of every pretraining recipe) instead of the
    whitespace/regex proxies in ``text_stats``.

    One Arrow pass; the merge ranks ride the closure like the char-LM
    profile does. Standard greedy application: per word, repeatedly
    fuse the lowest-rank adjacent pair until none applies.
    """
    import pandas as pd

    seg_word = _make_seg_word(merges)

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks_col, n_col = [], []
            for t in pdf["__t"]:
                if t is None:
                    toks_col.append(None)
                    n_col.append(None)
                    continue
                toks: list[str] = []
                for w in t.lower().strip().split():
                    got = cache.get(w)
                    if got is None:
                        got = seg_word(w)
                        if len(cache) > 1_000_000:
                            cache.clear()
                        cache[w] = got
                    toks.extend(got)
                toks_col.append(toks)
                n_col.append(len(toks))
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "bpe_tokens": toks_col,
                    "n_bpe_tokens": pd.array(n_col, dtype="Int64"),
                }
            )

    return (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .mapInPandas(run, "__id long, bpe_tokens array<string>, n_bpe_tokens long")
        .withColumnRenamed("__id", id_col)
    )


def bpe_token_histogram(
    df: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide subword-token histogram: tokenizer APPLY at scale.

    The scale insight is that BPE is a pure function of the word, so
    the corpus never needs per-document tokenization for corpus-level
    statistics: one map-combined (word, cnt) pass (``bpe_word_counts``,
    the same table training ran on), then the Arrow-batched greedy
    encoder runs once per DISTINCT word — vocabulary-sized work, not
    corpus-sized — and the token histogram is a weighted re-aggregation.
    At 100 TB the distinct-word table is orders of magnitude smaller
    than the corpus and the groupBy is map-side combined on both ends.

    Only ``^[a-z]+$`` words are tokenized (the classic pre-tokenizer
    boundary), which also keeps the symbol alphabet disjoint from any
    delimiter an engine-portable oracle needs.

    Returns (token, occurrences): total occurrences of each subword
    token across the corpus, token multiplicity within a word counted.
    """
    import pandas as pd

    seg_word = _make_seg_word(merges)
    words = bpe_word_counts(df, text_col).filter(F.col("word").rlike("^[a-z]+$"))

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks: list[str] = []
            cnts: list[int] = []
            for w, c in zip(pdf["word"], pdf["cnt"]):
                got = cache.get(w)
                if got is None:
                    got = seg_word(w)
                    if len(cache) > 1_000_000:
                        cache.clear()
                    cache[w] = got
                toks.extend(got)
                cnts.extend([c] * len(got))
            yield pd.DataFrame(
                {
                    "token": pd.array(toks, dtype="string"),
                    "cnt": pd.array(cnts, dtype="Int64"),
                }
            )

    return (
        words.mapInPandas(run, "token string, cnt long")
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("occurrences"))
    )
