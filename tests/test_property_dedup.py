"""Property-based checks (hypothesis) for the text-dedup family:
random token corpora validated against exhaustive in-Python referees.

- jaccard_pairs must equal the brute-force O(n²) pair set exactly
  (inverted-index candidate generation is an optimization, never a
  semantics change);
- minhash_lsh_pairs must be SOUND (every returned pair's exact Jaccard
  really is >= threshold) and a subset of the exact pair set — LSH may
  miss pairs (recall < 1 by design) but must never invent one;
- simhash_pairs must be COMPLETE for its contract: every pair within
  the Hamming radius is returned (pigeonhole chunk join), none outside.
"""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.operators import dedup

_pytest_spark = None  # filled by fixture


def _shingles(tokens: list[str], n: int = 3) -> set[str]:
    return {
        " ".join(tokens[i : i + n]) for i in range(max(len(tokens) - n + 1, 0))
    }


def _jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


VOCAB = ["red", "blue", "green", "fox", "dog", "run", "jump", "lazy"]

docs_st = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=3, max_size=10),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=docs_st)
def test_jaccard_pairs_equal_brute_force(spark, docs):
    threshold = 0.4
    sh = [(_i, sorted(_shingles(t))) for _i, t in enumerate(docs)]
    sh = [(i, s) for i, s in sh if s]
    expect = {}
    for i in range(len(sh)):
        for j in range(i + 1, len(sh)):
            a_id, a = sh[i]
            b_id, b = sh[j]
            jac = round(_jaccard(set(a), set(b)), 6)
            if jac >= threshold:
                expect[(min(a_id, b_id), max(a_id, b_id))] = jac
    df = spark.createDataFrame(sh, "doc_id long, sh array<string>")
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.jaccard_pairs(df, "doc_id", "sh", threshold=0.4).collect()
    }
    assert got == expect, (got, expect)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=docs_st)
def test_minhash_sound_and_subset_of_exact(spark, docs):
    threshold = 0.6
    sh = [(_i, sorted(_shingles(t))) for _i, t in enumerate(docs)]
    sh = [(i, s) for i, s in sh if s]
    shmap = {i: set(s) for i, s in sh}
    exact = {
        (a, b)
        for a in shmap
        for b in shmap
        if a < b and round(_jaccard(shmap[a], shmap[b]), 6) >= threshold
    }
    df = spark.createDataFrame(sh, "doc_id long, sh array<string>")
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "sh", threshold=threshold
        ).collect()
    }
    assert set(got) <= exact, (set(got), exact)
    for (a, b), jac in got.items():
        assert jac >= threshold
        assert jac == round(_jaccard(shmap[a], shmap[b]), 6)


def test_minhash_xxh_codegen_signature_matches_legacy(spark, monkeypatch):
    """The driver route's numpy xxhash64 signature and band keys must
    equal the distributed plan's element for element: the interpreted
    per-i lambda (``minhash_signature``, sig_i = min_j(h1[j] + i*h2[j]))
    and Spark's Murmur3 ``hash()`` of each 4-long band slice. Empty and
    NULL shingle arrays must never pair, in either hash family or route
    (two empty arrays used to share every all-NULL xxhash64 bucket and
    fail the verify with DIVIDE_BY_ZERO; a NULL array crashed the md5
    kernel's ``len``)."""
    rows = [
        (0, ["a b c", "b c d", "c d e"]),
        (1, ["a b c", "b c d", "c d e"]),
        (2, ["x y z"]),
        (3, []),  # empty shingle set: must never pair
        (4, None),  # NULL shingle array: must never pair
        (5, ["a b c", "b c d", "q r s"]),
        (6, []),
    ]
    df = spark.createDataFrame(rows, "doc_id long, sh array<string>")
    legacy = (
        df.filter(F.size("sh") > 0)
        .select(
            F.expr("transform(sh, s -> xxhash64(42, s) & 2147483647)").alias("h1"),
            F.expr("transform(sh, s -> xxhash64(43, s) & 2147483647)").alias("h2"),
        )
        .withColumn("sig", dedup.minhash_signature("h1", "h2", 64))
        .withColumn(
            "keys", F.array(*[F.hash(F.slice("sig", b * 4 + 1, 4)) for b in range(16)])
        )
        .collect()
    )
    assert len(legacy) == 4
    for r in legacy:
        sig = dedup._signature(
            np.array(r.h1, dtype=np.int64), np.array(r.h2, dtype=np.int64), 64
        )
        assert sig.tolist() == r.sig
        keys = dedup._spark_hash_bands(sig[None, :], 16)[0].view(np.int32)
        assert keys.tolist() == r.keys
    for bound in (dedup.MINHASH_DRIVER_MAX_DOCS, 0):
        monkeypatch.setattr(dedup, "MINHASH_DRIVER_MAX_DOCS", bound)
        for family in ("xxhash64", "md5-portable"):
            pairs = {
                (r.a_id, r.b_id)
                for r in dedup.minhash_lsh_pairs(
                    df, "doc_id", "sh", threshold=0.5, hash_family=family
                ).collect()
            }
            assert pairs == {(0, 1)}, (bound, family, pairs)


def test_minhash_index_skips_null_and_empty_arrays(spark):
    """NULL and empty shingle arrays have no signature: ``minhash_index``
    gives them no rows (a NULL array crashed the md5 kernel's ``len``)."""
    df = spark.createDataFrame(
        [(0, ["a b c", "b c d"]), (1, []), (2, None)], "doc_id long, sh array<string>"
    )
    got = dedup.minhash_index(df, "doc_id", "sh").collect()
    assert sorted((r.doc_id, r.band) for r in got) == [(0, b) for b in range(16)]


def _minhash_edge_rows() -> list[tuple[int, list[str]]]:
    """Rows the single-block parity test adds to the fixture corpus.

    - a duplicated id: 10000 appears twice, once identical to 10001, so
      (10000, 10001) is a candidate that is verified against BOTH rows
      of 10000 — the second at Jaccard 1/128 = 0.0078125, a tie at the
      7th digit that Spark's HALF_UP round makes 0.007813;
    - a bucket of three members: 10002-10004 share every band key;
    - a second tie, 77/128 = 0.6015625 → 0.601563, above 0.6: 10005's
      two rows are near-duplicates of each other, so the id can also
      pair with itself.
    """

    def sh(tag, lo, hi):
        return [f"{tag}{i} {tag}{i + 1} {tag}{i + 2}" for i in range(lo, hi)]

    s1, t = sh("p", 0, 64), sh("p", 63, 64) + sh("q", 0, 64)  # |∩|=1, |∪|=128
    a, b = sh("r", 0, 102), sh("r", 0, 77) + sh("s", 0, 26)  # |∩|=77, |∪|=128
    return [
        (10000, s1), (10000, t), (10001, s1),
        (10002, sh("u", 0, 40)), (10003, sh("u", 0, 40)), (10004, sh("u", 0, 40)),
        (10005, a), (10005, b), (10006, b),
    ]


def _fixture_with_edges(spark):
    from cultural_heritage_bigdata_project_spark.sources.tables import load_table

    from .conftest import SF_DIR

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.split(F.trim(F.lower("text")), " +").alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc_id", dedup.shingles_expr("t", 3).alias("sh"))
    )
    edges = spark.createDataFrame(_minhash_edge_rows(), "doc_id long, sh array<string>")
    return docs.unionByName(edges).localCheckpoint()


def test_minhash_single_block_matches_distributed(spark, monkeypatch):
    """An input of at most ``MINHASH_DRIVER_MAX_DOCS`` documents is paired
    on the driver; it must return exactly the rows (``jaccard``
    included) of the distributed plan, in both hash families."""
    docs = _fixture_with_edges(spark)
    assert docs.count() <= dedup.MINHASH_DRIVER_MAX_DOCS
    thresholds = (0.6, 0.3, 0.1, 0.007813)

    def run(family):
        return {
            t: sorted(
                dedup.minhash_lsh_pairs(
                    docs, "doc_id", "sh", threshold=t, hash_family=family
                ).collect()
            )
            for t in thresholds
        }

    for family in ("xxhash64", "md5-portable"):
        single = run(family)
        with monkeypatch.context() as m:
            m.setattr(dedup, "MINHASH_DRIVER_MAX_DOCS", 0)
            assert run(family) == single, family
        low = {tuple(r) for r in single[0.007813]}
        assert (10000, 10001, 0.007813) in low and (10000, 10001, 1.0) in low
        assert {(10002, 10003, 1.0), (10002, 10004, 1.0), (10003, 10004, 1.0)} <= low
        assert (10005, 10006, 0.601563) in {tuple(r) for r in single[0.6]}


def test_minhash_single_block_plan_has_no_exchange(spark, monkeypatch):
    """The driver route's executed plan has no shuffle and no Python
    worker, and 0/1-row inputs give an empty, typed frame; the forced
    distributed plan has both (md5-portable)."""
    docs = _fixture_with_edges(spark)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for family in ("xxhash64", "md5-portable"):
        p = plan(dedup.minhash_lsh_pairs(docs, "doc_id", "sh", hash_family=family))
        assert "Exchange" not in p and "MapInPandas" not in p, p
        for k in (0, 1):
            out = dedup.minhash_lsh_pairs(docs.limit(k), "doc_id", "sh", hash_family=family)
            assert out.schema.simpleString() == (
                "struct<a_id:bigint,b_id:bigint,jaccard:double>"
            )
            assert out.count() == 0
    monkeypatch.setattr(dedup, "MINHASH_DRIVER_MAX_DOCS", 0)
    p = plan(dedup.minhash_lsh_pairs(docs, "doc_id", "sh", hash_family="md5-portable"))
    assert "Exchange" in p and "MapInPandas" in p, p


def test_minhash_driver_fallback_and_uneven_bands_match_distributed(spark, monkeypatch):
    """Buckets holding more than ``MINHASH_DRIVER_MAX_PAIRS`` member
    pairs send a small input to the distributed plan, with the same
    rows; and ``bands`` that does not divide ``n_hashes`` (64/10: the
    last 4 hashes are in no band) gives the same rows on both routes
    (the driver's xxhash64 band keys used to fail to reshape)."""
    docs = spark.createDataFrame(_minhash_edge_rows(), "doc_id long, sh array<string>")

    def run(**kw):
        out = dedup.minhash_lsh_pairs(docs, "doc_id", "sh", threshold=0.007813, **kw)
        return out, sorted(out.collect())

    _, driver = run()
    _, uneven = run(bands=10)
    with monkeypatch.context() as m:
        m.setattr(dedup, "MINHASH_DRIVER_MAX_PAIRS", 2)
        out, fallback = run()
        assert "Exchange hashpartitioning(band" in (
            out._jdf.queryExecution().executedPlan().toString()
        )
        assert fallback == driver
        m.setattr(dedup, "MINHASH_DRIVER_MAX_DOCS", 0)
        assert run(bands=10)[1] == uneven


def test_simhash_codegen_signature_matches_legacy_and_edges(spark):
    """The round-12 explode+vote-sum simhash must equal the legacy
    `simhash_bits` interpreted aggregate bit-for-bit (including the
    two's-complement top bit), and the NULL/empty token-array edge
    docs must keep their legacy literal signatures: NULL array -> 0,
    empty array -> all-ones (vote 0 >= 0 sets every bit). So two NULL
    docs pair at hamming 0, two empty docs pair at hamming 0, and a
    NULL doc never pairs with an empty doc (hamming 64)."""
    rows = [
        (0, ["red", "fox", "jump"]),
        (1, ["red", "fox", "jump", "dog"]),
        (2, []),
        (3, []),
        (4, None),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, t array<string>")
    hashed = df.select(
        "doc_id", F.expr("transform(t, x -> xxhash64(x))").alias("__th")
    )
    legacy = {
        r.doc_id: r.sig
        for r in hashed.select(
            "doc_id", dedup.simhash_bits("__th", 64).alias("sig")
        ).collect()
    }
    assert legacy[2] == -1 and legacy[3] == -1  # all-ones, 64-bit
    assert legacy[4] == 0 and legacy[5] == 0
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in dedup.simhash_pairs(df, "doc_id", "t", max_hamming=3).collect()
    }
    expect = {
        (a, b): bin((legacy[a] ^ legacy[b]) & (2**64 - 1)).count("1")
        for a in legacy
        for b in legacy
        if a < b
        and bin((legacy[a] ^ legacy[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == expect, (got, expect)
    assert (2, 3) in got and (4, 5) in got
    assert (2, 4) not in got and (2, 5) not in got


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=docs_st)
def test_simhash_complete_within_radius(spark, docs):
    """Referee: compute every doc's 64-bit simhash in Python with the
    SAME xxhash64 token hashes Spark produces (pulled from one Spark
    projection, so the referee only re-implements the vote/pigeonhole
    logic), then check the pair set equals {hamming <= 3}."""
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, t array<string>")
    hashed = df.select(
        "doc_id", F.expr("transform(t, x -> xxhash64(x))").alias("h")
    ).collect()

    def simhash(hs):
        sig = 0
        for b in range(64):
            vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if vote >= 0:
                sig |= 1 << b
        return sig

    sigs = {r.doc_id: simhash([h & 0xFFFFFFFFFFFFFFFF for h in r.h]) for r in hashed}
    expect = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in dedup.simhash_pairs(df, "doc_id", "t", max_hamming=3).collect()
    }
    assert got == expect, (got, expect)
