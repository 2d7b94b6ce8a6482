"""Deduplication operators: exact, fingerprint, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine — plus canonical-group assignment.

The reference dedups three ways (SURVEY.md §2.10): key-based
``dropDuplicates`` (A5), Qdrant cosine-threshold semantic dedup with
``canonical_id`` groups (M3, deduplicate_from_qdrant.py:160-210), and
nothing for text — a large-scale training-data pipeline needs the
text family too, so it's first-class here.

Scale shapes:
- exact/fingerprint: one shuffle on the hash key.
- n-gram Jaccard: inverted-index candidate join (shared shingle) →
  verify; never an O(n²) cross join.
- MinHash-LSH: signature → band keys → shuffle on band key →
  within-bucket pairs → verify with exact Jaccard.
- SimHash: 64-bit signature via bitwise aggregation, chunk-keyed
  candidate join, Hamming verify.
- canonical groups: iterative min-label propagation to the connected-
  component fixpoint (deterministic replacement for the reference's
  order-dependent first-seen rule; SURVEY.md §7 hard-list #2).

All token/hash work is built-in expressions (xxhash64/md5, transform,
aggregate) — no Python in the hot path. MinHash/SimHash accept a
``hash_family``: "xxhash64" (fast JVM default) or "md5-portable"
(every hash derived from md5 hex digits, reproducible in any engine
with md5 — the catalog queries use it so the DuckDB oracle replays
the exact candidate sets). Candidate generators take an optional
``max_bucket`` hot-bucket cap (df-pruning) with drop counts published
via ``pyspark.sql.Observation``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

# ------------------------------------------------- portable hash family
#
# xxhash64 is the fast JVM-side default, but it exists only in Spark.
# The "md5-portable" family derives every hash from md5 hex digits, so
# any engine with md5 (DuckDB, Postgres, Trino) reproduces the exact
# candidate sets — that is what lets the driver hash-check the MinHash
# and SimHash queries instead of a rows-only pass. Cost: md5 is ~2-4x
# xxhash64 per call; both families share every other stage.


def md5_hash60_sql(expr: str) -> str:
    """60-bit hash from the first 15 md5 hex chars (fits a signed long).
    DuckDB equivalent: ('0x'||substr(md5(x),1,15))::BIGINT."""
    return f"cast(conv(substr(md5({expr}), 1, 15), 16, 10) as bigint)"


# --------------------------------------------------------------- shingles


def shingles_expr(token_col: str, n: int = 3) -> Column:
    """Distinct n-gram shingles of a named token-array column."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size({token_col}) - {n - 1}, 0)),"
            f" i -> concat_ws(' ', slice({token_col}, i, {n})))"
        )
    )


# ----------------------------------------------------- bucket pairing


def _bucket_pair_occurrences(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket: int | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """All (a_id < b_id) pairs co-occurring in a bucket, one output row
    per co-occurrence (NOT distinct).

    One groupBy + an in-bucket combination expansion. Compared to the
    textbook self-join on the bucket key this evaluates the upstream
    lineage ONCE (a self-join re-executes the signature/shingle stage
    per side) and shuffles each id once per bucket membership.

    ``max_bucket`` is the hot-bucket guard: a bucket with k members
    expands to k(k-1)/2 structs inside ONE task, so a degenerate key
    (a stop-shingle, an all-identical corpus) can OOM an executor.
    With a cap, buckets above it are dropped before expansion — the
    standard document-frequency pruning of inverted indexes (a shingle
    shared by thousands of docs carries no near-dup signal anyway).
    Dropped-bucket/member counts are published through ``observation``
    (``pyspark.sql.Observation``) so callers can log them without an
    extra job. Exact operators keep the default ``None``; at corpus
    scale pass a cap (typical 2-5x the expected duplicate-cluster
    size).
    """
    buckets = (
        keyed.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        if observation is not None:
            buckets = buckets.observe(
                observation,
                F.sum((F.size("ids") > max_bucket).cast("long")).alias(
                    "dropped_buckets"
                ),
                F.sum(
                    F.when(F.size("ids") > max_bucket, F.size("ids")).otherwise(0)
                ).alias("dropped_members"),
            )
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pair = F.explode(
        F.expr(
            "flatten(transform(ids, (x, i) ->"
            " transform(slice(ids, i + 2, size(ids)),"
            " y -> struct(x AS a, y AS b))))"
        )
    )
    return buckets.select(pair.alias("p")).select(
        F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id")
    )


# --------------------------------------------------------- exact / hash


def exact_dedup_groups(
    df: DataFrame, fingerprint: Column, id_col: str
) -> DataFrame:
    """Group rows by a content fingerprint; canonical = min id
    (deterministic stand-in for the reference's first-seen rule)."""
    return (
        df.select(fingerprint.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(id_col).alias("canonical_id"),
        )
    )


# ------------------------------------------------------ n-gram Jaccard


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    round_digits: int | None = 6,
    max_bucket: int | None = None,
    observation: Observation | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Near-dup pairs by n-gram-set Jaccard ≥ threshold — exact, via an
    inverted-index candidate join (pairs must share ≥1 shingle), so the
    plan is explode → shuffle on shingle → pair-distinct → verify.
    No cross join; candidate count ≈ near-dup count on real corpora.

    ``max_bucket`` (off by default: exact semantics) document-frequency-
    prunes hot shingle buckets before pair expansion — see
    ``_bucket_pair_occurrences``. With a cap the result can MISS pairs
    whose only shared shingles are ultra-common; the intersection count
    (and so the Jaccard value) of surviving pairs also excludes pruned
    shingles, which is the standard df-pruned approximation.
    """
    # Repartition first: small corpora often arrive as one file → one
    # partition, and the explode/hash fan-out below must not run on a
    # single core. At scale the input is already many partitions and
    # this exchange is proportional to the (small) doc count.
    # ``pre_partitioned=True`` (optimization round 12, guide §2.3):
    # callers that already spread the TEXT before shingling skip this
    # exchange — it would round-robin the heavy shingle arrays a second
    # time for no layout gain (round-robin placement carries no key
    # semantics downstream; the bucket join re-shuffles regardless).
    # localCheckpoint: the shingled relation feeds the inverted index
    # AND the size lookup — without it the tokenize/shingle lineage
    # re-executes per branch.
    base = df.select(F.col(id_col), F.col(shingle_col))
    if not pre_partitioned:
        base = base.repartition(df.sparkSession.sparkContext.defaultParallelism)
    base = base.localCheckpoint(eager=False)
    # join on a 64-bit hash of the shingle, not the string: long
    # shuffle keys + long equality beat string comparison in the
    # highest-volume stage (collision odds 2^-64 per shingle pair)
    ex = base.select(F.col(id_col), F.explode(shingle_col).alias("__s")).select(
        F.col(id_col), F.xxhash64("__s").alias("__sh")
    )
    # |A ∩ B| falls out of the inverted index itself (shingle sets are
    # distinct): each bucket co-occurrence is one shared shingle, so
    # counting pair occurrences gives the intersection size — no second
    # pass over the shingle arrays.
    shared = (
        _bucket_pair_occurrences(
            ex, ["__sh"], id_col, max_bucket=max_bucket, observation=observation
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    sizes = base.select(F.col(id_col), F.size(shingle_col).alias("__n"))
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("__n").alias("__nb"))
    jac = F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared"))
    if round_digits is not None:
        jac = F.round(jac, round_digits)
    return (
        shared.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ------------------------------------------------------------- MinHash


def minhash_signature(h1_col: str, h2_col: str, n_hashes: int) -> Column:
    """k min-hashes via Kirsch-Mitzenmacher double hashing:
    h_i(s) = h1(s) + i·h2(s), over PRE-HASHED shingle columns.

    ``h1_col``/``h2_col`` must be 31-bit-masked long arrays hashed once
    per shingle in an earlier projection (see ``minhash_lsh_pairs``) —
    hoisting matters because higher-order-function lambdas are
    interpreted and don't share subexpressions: hashing strings inside
    the per-i lambda would redo every string hash k times (it dominated
    the LSH stage before this change). The 31-bit mask keeps
    h1 + i·h2 ≤ 2^38, so ANSI overflow checking never fires.
    """
    return F.expr(
        f"""
        transform(sequence(0, {n_hashes - 1}),
                  i -> array_min(zip_with({h1_col}, {h2_col},
                                          (h1, h2) -> h1 + i * h2)))
        """
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    hash_family: str = "xxhash64",
    max_bucket: int | None = None,
    observation: Observation | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified with exact
    Jaccard ≥ threshold.

    b=16, r=4 → S-curve midpoint (1/16)^(1/4) ≈ 0.5: pairs above 0.6
    are caught w.h.p., pairs below 0.4 mostly skipped. Shuffle volume
    is bands × n_rows band keys — sub-quadratic; the exact verify runs
    only on candidates.

    ``hash_family``: "xxhash64" (fast JVM default) or "md5-portable"
    (hashes + band keys derived from md5 hex digits → any md5-capable
    engine reproduces the exact candidate set; this is what the DuckDB
    oracle for the catalog query replays). ``max_bucket`` df-prunes hot
    band buckets (see ``_bucket_pair_occurrences``) — off by default so
    the oracle can replay candidate generation exactly.
    """
    if hash_family not in ("xxhash64", "md5-portable"):
        raise ValueError(f"unknown hash_family {hash_family!r}")
    rows = n_hashes // bands
    par = df.sparkSession.sparkContext.defaultParallelism
    # the shingled input feeds the signature AND both verify sides —
    # checkpoint once (also spreads single-file inputs, see below).
    # ``pre_partitioned=True`` (optimization round 12, guide §2.3):
    # callers that already spread the text before shingling skip the
    # entry exchange — it round-robins the heavy shingle arrays a
    # second time for no layout gain (the band join re-shuffles on its
    # own keys regardless); the checkpoint alone still cuts the
    # multi-branch lineage.
    if not pre_partitioned:
        df = df.repartition(par)
    df = df.localCheckpoint(eager=False)
    # The repartitions below are real barriers, not just parallelism:
    # without an exchange between the string-hash projection and the
    # signature projection, CollapseProject inlines __h1/__h2 into the
    # per-i lambda and re-hashes every shingle string n_hashes times
    # (measured 6x slower). They also spread single-file inputs across
    # cores.
    if hash_family == "md5-portable":
        # Vectorized signature+banding: one Arrow batch does the shingle
        # md5s (C hashlib) and a (n_shingles × n_hashes) numpy min per
        # doc — replacing the interpreted per-i zip_with lambdas that
        # dominated this stage (same fix class as the LSH-signature GEMM
        # in similarity.py; measured ~2× on the bench query). The
        # arithmetic is bit-identical to the DuckDB oracle:
        #   h1/h2 = first/second 8 md5 hex chars & 2^31-1,
        #   sig_i = min(h1 + i·h2),
        #   band key = md5(','.join(sig[band*r : (band+1)*r])).
        import hashlib

        import numpy as np
        import pandas as pd

        nh, nb, nr = n_hashes, bands, rows

        def band_keys(batches):
            i_arr = np.arange(nh, dtype=np.int64)
            # per-task memo: shingles repeat heavily across docs in
            # exactly the corpora worth deduping, so each distinct
            # shingle is md5'd once per partition, not once per
            # occurrence (bounded by the partition's distinct-shingle
            # count; freed with the task)
            memo: dict[str, tuple[int, int]] = {}
            for pdf in batches:
                out_id, out_band, out_bkey = [], [], []
                for rid, shingles in zip(pdf["__id"], pdf["__sh"]):
                    k = len(shingles)
                    if k == 0:
                        continue
                    h1 = np.empty(k, dtype=np.int64)
                    h2 = np.empty(k, dtype=np.int64)
                    if len(memo) > 1_000_000:
                        memo.clear()  # bound worker memory on huge partitions
                    for j, s in enumerate(shingles):
                        hv = memo.get(s)
                        if hv is None:
                            hx = hashlib.md5(s.encode("utf-8")).hexdigest()
                            hv = (
                                int(hx[:8], 16) & 0x7FFFFFFF,
                                int(hx[8:16], 16) & 0x7FFFFFFF,
                            )
                            memo[s] = hv
                        h1[j], h2[j] = hv
                    sig = (h1[:, None] + i_arr[None, :] * h2[:, None]).min(axis=0)
                    for b in range(nb):
                        joined = ",".join(
                            str(int(v)) for v in sig[b * nr : (b + 1) * nr]
                        )
                        out_id.append(rid)
                        out_band.append(b)
                        out_bkey.append(hashlib.md5(joined.encode()).hexdigest())
                yield pd.DataFrame(
                    {"__id": out_id, "band": out_band, "bkey": out_bkey}
                )

        keyed = (
            df.select(
                F.col(id_col).alias("__id"), F.col(shingle_col).alias("__sh")
            )
            .mapInPandas(band_keys, "__id long, band int, bkey string")
            .withColumnRenamed("__id", id_col)
        )
    else:
        hashed = df.select(
            F.col(id_col),
            F.col(shingle_col),
            F.expr(
                f"transform({shingle_col}, s -> xxhash64(42, s) & 2147483647)"
            ).alias("__h1"),
            F.expr(
                f"transform({shingle_col}, s -> xxhash64(43, s) & 2147483647)"
            ).alias("__h2"),
        ).repartition(par)
        sig = hashed.select(
            F.col(id_col),
            F.col(shingle_col),
            minhash_signature("__h1", "__h2", n_hashes).alias("__sig"),
        )
        band_structs = [
            F.struct(
                F.lit(b).alias("band"),
                F.hash(F.slice("__sig", b * rows + 1, rows)).cast("string").alias("bkey"),
            )
            for b in range(bands)
        ]
        keyed = sig.select(
            F.col(id_col), F.explode(F.array(*band_structs)).alias("bs")
        ).select(id_col, "bs.band", "bs.bkey")
    cand = _bucket_pair_occurrences(
        keyed, ["band", "bkey"], id_col, max_bucket=max_bucket, observation=observation
    ).distinct()
    # The exact verify below is compute-dense (array_intersect/union
    # over the full shingle arrays per candidate pair) while its input
    # is bytes-tiny (id pairs): AQE sizes post-shuffle partitions by
    # BYTES, so the distinct's output coalesced to ONE task and the
    # whole verify ran serially (profiled 0.6-0.7 s single-task per
    # bench run at sf0.1; guide §2.5 — compute density is invisible to
    # byte-based coalescing). Spread the candidates round-robin to
    # cluster parallelism before attaching the arrays — a KB-scale
    # exchange, sized by defaultParallelism so it scales with the
    # cluster, not the fixture (optimization round 13).
    cand = cand.repartition(par)
    sa = df.select(F.col(id_col).alias("a_id"), F.col(shingle_col).alias("a_sh"))
    sb = df.select(F.col(id_col).alias("b_id"), F.col(shingle_col).alias("b_sh"))
    jac = F.round(
        F.size(F.array_intersect("a_sh", "b_sh"))
        / F.size(F.array_union("a_sh", "b_sh")),
        6,
    )
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ------------------------------------------------------------- SimHash


def simhash_bits(hash_col: str, n_bits: int = 64) -> Column:
    """``n_bits``-bit SimHash over a PRE-HASHED token column
    (array<long>): per bit position, sign of the ±1 vote sum across
    token hashes.

    Takes hashes, not tokens, for the same reason as
    ``minhash_signature``: the per-bit lambda is interpreted, so
    hashing strings inside it would hash every token n_bits times.
    """
    return F.expr(
        f"""
        aggregate(
          sequence(0, {n_bits - 1}),
          0L,
          (acc, i) -> acc + CASE WHEN
            aggregate({hash_col},
                      0L,
                      (s, h) -> s + CASE WHEN (shiftright(h, i) & 1) = 1
                                    THEN 1L ELSE -1L END) >= 0
            THEN shiftleft(1L, i) ELSE 0L END)
        """
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount via
    bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    token_col: str,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
    max_bucket: int | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming — exact.

    Candidate generation: the signature is split into
    ``max_hamming + 1`` chunks; by pigeonhole any pair within Hamming ≤
    max_hamming differs in at most max_hamming chunks, so at least one
    chunk matches exactly → equi-join on (chunk_index, chunk_value)
    generates a complete candidate set, then the true Hamming distance
    verifies. Shuffle on chunk keys only; no cross join. (This is the
    classic 64-bit/k=3 SimHash dedup operating point.)

    ``hash_family``: "xxhash64" → 64-bit signatures (fast default);
    "md5-portable" → 60-bit signatures from the first 15 md5 hex chars
    of each token, so the DuckDB oracle re-derives identical signatures
    (60 = 4 chunks x 15 bits keeps the pigeonhole guarantee).
    ``max_bucket`` caps hot chunk buckets; capping can drop pairs whose
    only matching chunk is hot, so the exact/oracle mode leaves it off.
    """
    if hash_family not in ("xxhash64", "md5-portable"):
        raise ValueError(f"unknown hash_family {hash_family!r}")
    n_bits = 60 if hash_family == "md5-portable" else 64
    n_chunks = max_hamming + 1
    width = n_bits // n_chunks
    mask = (1 << width) - 1
    token_hash = (
        md5_hash60_sql("t") if hash_family == "md5-portable" else "xxhash64(t)"
    )
    hashed = df.select(
        F.col(id_col),
        F.expr(f"transform({token_col}, t -> {token_hash})").alias("__th"),
    )
    # barrier: prevents CollapseProject from inlining the string-hash
    # transform into the per-bit vote loop, and spreads single-file
    # inputs across cores (same rationale as minhash_lsh_pairs)
    hashed = hashed.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sig = hashed.select(F.col(id_col), simhash_bits("__th", n_bits).alias("__sim"))
    chunks = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright("__sim", c * width).bitwiseAND(F.lit(mask)).alias("ckey"),
        )
        for c in range(n_chunks)
    ]
    keyed = sig.select(
        F.col(id_col), F.col("__sim"), F.explode(F.array(*chunks)).alias("cs")
    ).select(id_col, "__sim", "cs.chunk", "cs.ckey")
    # in-bucket pair expansion over (id, sig) structs — sort_array
    # orders by id (first struct field), so a < b by construction
    buckets = (
        keyed.groupBy("chunk", "ckey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("__sim").alias("s")))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    if max_bucket is not None:
        if observation is not None:
            buckets = buckets.observe(
                observation,
                F.sum((F.size("ms") > max_bucket).cast("long")).alias(
                    "dropped_buckets"
                ),
                F.sum(
                    F.when(F.size("ms") > max_bucket, F.size("ms")).otherwise(0)
                ).alias("dropped_members"),
            )
        buckets = buckets.filter(F.size("ms") <= max_bucket)
    pair = F.explode(
        F.expr(
            "flatten(transform(ms, (x, i) ->"
            " transform(slice(ms, i + 2, size(ms)),"
            " y -> struct(x.i AS a_id, x.s AS a_sim, y.i AS b_id, y.s AS b_sim))))"
        )
    )
    return (
        buckets.select(pair.alias("p"))
        .select(
            F.col("p.a_id").alias("a_id"),
            F.col("p.b_id").alias("b_id"),
            hamming64(F.col("p.a_sim"), F.col("p.b_sim")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------- canonical connected components


def _unpersist_local_checkpoint(df: DataFrame) -> None:
    """Free the block storage behind a ``localCheckpoint(eager=True)``
    DataFrame once it is superseded. ``DataFrame.unpersist`` only
    covers ``persist()`` caches; the checkpoint's blocks live on the
    underlying ``LogicalRDD`` — without this, every iteration of an
    iterative operator leaks a persistent RDD for the session's
    lifetime (executor-memory erosion in a long-lived 100 TB job).
    Best-effort: internal-API drift must degrade to the old leak, not
    break correctness."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass


def _components_via_driver(sym: DataFrame, nodes: DataFrame, id_col: str) -> DataFrame:
    """Exact connected components for a BOUNDED edge list, sized for
    the driver it actually runs on: the edges land via Arrow
    (``toPandas`` — two flat columns, no per-row ``Row`` objects) and
    are factorized to dense int codes, so union-find state is two
    numpy arrays (~16 bytes/edge endpoint), not Python dicts — the
    collected footprint of the 2M-edge default is tens of MB, as the
    ``driver_edges_max`` contract claims (round-7 ADVICE, low). Labels
    are the min node id per component, shipped back as one broadcast
    left join; nodes without edges are their own canonicals via the
    coalesce."""
    import numpy as np
    import pandas as pd

    spark = sym.sparkSession
    id_type = nodes.schema[id_col].dataType.simpleString()
    pdf = sym.toPandas()
    if len(pdf) == 0:
        mapping = spark.createDataFrame([], f"{id_col} {id_type}, __canon {id_type}")
    else:
        codes, uniques = pd.factorize(
            pd.concat(
                [pdf.iloc[:, 0], pdf.iloc[:, 1]], ignore_index=True
            )
        )
        n_edges = len(pdf)
        a, b = codes[:n_edges], codes[n_edges:]
        parent = np.arange(len(uniques), dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for i in range(n_edges):
            ra, rb = find(int(a[i])), find(int(b[i]))
            if ra != rb:
                parent[rb] = ra
        roots = np.fromiter(
            (find(i) for i in range(len(uniques))), dtype=np.int64
        )
        # min ORIGINAL id per component (factorize order is first-seen,
        # so the min must be taken over the real values, not the codes)
        ids = pd.Series(uniques)
        mapping_pdf = pd.DataFrame(
            {id_col: ids, "__canon": ids.groupby(roots).transform("min")}
        )
        mapping = spark.createDataFrame(mapping_pdf).select(
            F.col(id_col).cast(id_type), F.col("__canon").cast(id_type)
        )
    return nodes.select(F.col(id_col)).join(
        F.broadcast(mapping), on=id_col, how="left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("__canon"), F.col(id_col)).alias("canonical_id"),
    )


def canonical_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    max_iter: int = 20,
    driver_edges_max: int = 2_000_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Deterministic batch replacement for the reference's order-dependent
    first-seen canonical assignment (deduplicate_from_qdrant.py:183-186;
    SURVEY.md §7 hard-list #2): every node's ``canonical_id`` is the
    min node id reachable in its similarity component.

    ``edges`` must have columns (a_id, b_id). Each iteration does a
    propagate step (label ← min(label, neighbors' labels)) AND a
    pointer-doubling step (label ← min(label, label-of-label), the
    Shiloach–Vishkin shortcut), so the round count is O(log diameter)
    instead of O(diameter) — a path component of length 10^6 converges
    in ~20 rounds, not 10^6 (round-1 advice: the bare propagation
    silently returned partial labels on deep components). Each round's
    result is checkpoint-light (localCheckpoint) so the plan doesn't
    grow unboundedly, and convergence is detected by the monotone
    label-sum probe (one cheap aggregate per round).

    Similarity graphs are usually SPARSE relative to the corpus (a
    0.42-threshold graph over 2000 fixture vectors has ~440 edges; a
    production near-dup graph is bounded by the pair-expansion caps),
    and the iterative loop's per-round cost is scheduler floor, not
    data. So when the materialized edge list is small
    (``<= driver_edges_max`` rows, default 2M — collected via Arrow and
    factorized to numpy codes, ~tens of MB on the driver, never Row
    objects) the components are solved EXACTLY with a driver-side
    union-find over the collected edges and joined back as one
    broadcast map — same answer, zero iterations, profiled 2x faster
    end-to-end at sf0.1 (round-6 VERDICT item 2). The edge count rides
    the edge checkpoint's own materialization job (observe), so the
    decision costs nothing; above the bound, the distributed loop runs
    unchanged — that path is the 100 TB design.

    Raises ``RuntimeError`` when the distributed loop has not reached
    its fixpoint after ``max_iter`` rounds: the labels at that point
    are only partially propagated, so there is no correct answer to
    return.
    """
    from pyspark.sql import Observation

    # Materialize the EDGE list once, before symmetrizing (optimization
    # round 13, guide §2.4): the sym union below references the edge
    # subtree twice (a→b and b→a), so checkpointing sym executed the
    # edge computation — the block-GEMM threshold join, the Jaccard
    # pair expansion — TWICE inside one job (measured: the 5×-amplified
    # text dedup spent ~2× its pair cost here). One eager checkpoint of
    # the raw edges makes both directions read the cached blocks; the
    # edge count rides its materialization job unchanged.
    obs_e = Observation()
    e = edges.select(F.col("a_id"), F.col("b_id")).observe(
        obs_e, F.count(F.lit(1)).alias("n")
    )
    e = e.localCheckpoint(eager=True)
    n_edges = obs_e.get["n"]
    if n_edges <= driver_edges_max:
        # union-find is undirected: the driver path collects the RAW
        # edge list (half the Arrow transfer sym carried)
        out = _components_via_driver(e, nodes, id_col)
        # the collect inside already happened; the returned plan joins
        # a broadcast local mapping and never references the checkpoint
        _unpersist_local_checkpoint(e)
        return out
    sym = e.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(
        e.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    )
    # Scale-adaptive loop parallelism (r12-VERDICT item 6, guide §2.5):
    # every round's join/groupBy inherits the edge checkpoint's layout,
    # so a 2-partition edge list would serialize the whole fixpoint
    # loop no matter how many cores exist. Size partitions by the edge
    # count (~500k edge rows ≈ a few tens of MB per task), capped at
    # the session's parallelism; the repartition is one narrow-input
    # exchange over the cached blocks, paid once before the loop.
    par = edges.sparkSession.sparkContext.defaultParallelism
    p = int(min(par, max(2, (n_edges * 2) // 500_000 + 1)))
    sym = sym.repartition(p, "dst")
    sym = sym.localCheckpoint(eager=True)
    _unpersist_local_checkpoint(e)
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    )
    obs_0 = Observation()
    labels = labels.observe(obs_0, F.sum("label").alias("s"))
    labels = labels.localCheckpoint(eager=True)
    prev_sum = obs_0.get["s"]
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer doubling: hop to the label's own label — halves the
        # pointer depth every round, giving O(log diameter) convergence
        hop = propagated.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        new_labels = (
            propagated.join(hop, propagated.label == hop.pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                ).alias("label"),
            )
        )
        # labels only ever decrease, so the label sum is strictly
        # monotone until the fixpoint: an unchanged sum ⟺ convergence.
        # The probe rides the eager checkpoint's own materialization job
        # via observe() — one Spark job per round, not two (the probe
        # was ~half of each round's wall time at small scale, and at
        # cluster scale it saves a full scheduler round-trip per round).
        from pyspark.sql import Observation

        obs = Observation()
        new_labels = new_labels.observe(obs, F.sum("label").alias("s"))
        new_labels = new_labels.localCheckpoint(eager=True)
        new_sum = obs.get["s"]
        # the superseded round's checkpoint blocks are dead weight now
        _unpersist_local_checkpoint(labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    # the edge checkpoint is only referenced inside the loop; the
    # returned labels are a materialized (eager) checkpoint, so freeing
    # sym here cannot recompute anything
    _unpersist_local_checkpoint(sym)
    if not converged:
        # partially-propagated labels are WRONG canonical ids; a caller
        # must never receive them as if converged
        _unpersist_local_checkpoint(labels)
        raise RuntimeError(
            f"canonical_components did not reach its fixpoint within "
            f"max_iter={max_iter} rounds (component diameter exceeds the "
            f"budget). Raise max_iter or pre-contract the graph."
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("canonical_id"))


# ------------------------------------------------- incremental dedup
#
# The daily-snapshot pattern: a 100 TB corpus is not re-deduped from
# scratch when a new crawl lands — the pipeline persists a fingerprint
# index (exact md5 + minhash signatures/band keys) and processes ONLY
# the increment: new-vs-seen candidate join on band keys, then a
# signature-estimate verify (no shingle sets needed for old docs).
# The reference's closest shape is its incremental HWM reprocessing
# (eu_raw_to_cleansed_merge.py) — this is that idea applied to dedup.


def minhash_index(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    pre_partitioned: bool = False,
) -> DataFrame:
    """The persisted minhash index of a corpus (md5-portable family):
    one row per (id, band) carrying (sig array<bigint>, band, bkey).

    Denormalized (sig repeated per band row) for joinability in tests;
    a production layout stores sigs once and bands separately — the
    join keys and values are identical. One Arrow batch per partition:
    C hashlib md5s + one (n_shingles × n_hashes) numpy min per doc,
    same arithmetic as ``minhash_lsh_pairs`` (hash_family
    "md5-portable"), so any md5-capable engine replays it.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    rows = n_hashes // bands
    if rows * bands != n_hashes:
        raise ValueError("bands must divide n_hashes")

    def index_rows(batches):
        i_arr = np.arange(n_hashes, dtype=np.int64)
        memo: dict[str, tuple[int, int]] = {}  # see minhash_lsh_pairs
        for pdf in batches:
            out_id, out_sig, out_band, out_bkey = [], [], [], []
            for rid, shingles in zip(pdf["__id"], pdf["__sh"]):
                k = len(shingles)
                if k == 0:
                    continue
                h1 = np.empty(k, dtype=np.int64)
                h2 = np.empty(k, dtype=np.int64)
                if len(memo) > 1_000_000:
                    memo.clear()  # bound worker memory on huge partitions
                for j, s in enumerate(shingles):
                    hv = memo.get(s)
                    if hv is None:
                        hx = hashlib.md5(s.encode("utf-8")).hexdigest()
                        hv = (
                            int(hx[:8], 16) & 0x7FFFFFFF,
                            int(hx[8:16], 16) & 0x7FFFFFFF,
                        )
                        memo[s] = hv
                    h1[j], h2[j] = hv
                sig = (h1[:, None] + i_arr[None, :] * h2[:, None]).min(axis=0)
                sig_list = [int(v) for v in sig]
                for b in range(bands):
                    joined = ",".join(
                        str(int(v)) for v in sig[b * rows : (b + 1) * rows]
                    )
                    out_id.append(rid)
                    out_sig.append(sig_list)
                    out_band.append(b)
                    out_bkey.append(hashlib.md5(joined.encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "__id": out_id,
                    "sig": out_sig,
                    "band": out_band,
                    "bkey": out_bkey,
                }
            )

    # ``pre_partitioned=True`` (optimization round 12, guide §2.3):
    # callers that already spread the text before shingling skip the
    # exchange — it round-robined the heavy shingle arrays a second
    # time purely for parallelism the input already has.
    out = df.select(F.col(id_col).alias("__id"), F.col(shingle_col).alias("__sh"))
    if not pre_partitioned:
        out = out.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return out.mapInPandas(
        index_rows, "__id long, sig array<bigint>, band int, bkey string"
    ).withColumnRenamed("__id", id_col)


def incremental_minhash_filter(
    new_index: DataFrame,
    seen_index: DataFrame,
    id_col: str,
    n_hashes: int = 64,
    min_matches: int = 39,
) -> DataFrame:
    """New-snapshot ids near-duplicating an already-seen doc, verified
    by the SIGNATURE-estimate Jaccard: a candidate (band-key collision)
    is a duplicate iff >= ``min_matches`` of its ``n_hashes`` minhash
    components equal the seen doc's (E[matches/n] = true Jaccard;
    default 39/64 ≈ the 0.6 threshold, an INTEGER comparison — no
    float boundary, no shingle sets for the seen corpus).

    Plan: band-key equi-join (shuffle on (band, bkey) — the increment
    side is small, the seen side is the index, not the corpus), then a
    per-candidate zip_with equality count. Returns distinct dropped
    new ids with one matched seen id (min, deterministic) as evidence.
    """
    nb = new_index.select(
        F.col(id_col).alias("new_id"), "sig", "band", "bkey"
    )
    sb = seen_index.select(
        F.col(id_col).alias("seen_id"),
        F.col("sig").alias("seen_sig"),
        "band",
        "bkey",
    )
    cand = (
        nb.join(sb, on=["band", "bkey"])
        .select("new_id", "sig", "seen_id", "seen_sig")
        .dropDuplicates(["new_id", "seen_id"])
    )
    n_match = F.expr(
        "aggregate(zip_with(sig, seen_sig, (x, y) -> IF(x = y, 1, 0)),"
        " 0, (a, x) -> a + x)"
    )
    return (
        cand.withColumn("n_match", n_match)
        .filter(F.col("n_match") >= min_matches)
        .groupBy("new_id")
        .agg(F.min("seen_id").alias("matched_seen_id"))
    )
