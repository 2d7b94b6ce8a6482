"""Property-based checks (hypothesis) for the Delta-free merge
emulation and canonical components — SURVEY.md §7 hard-list #1/#2:
null-safe multi-key matching and deterministic grouping, validated
against independent in-Python reference implementations on random
inputs (nulls included)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cultural_heritage_bigdata_project_spark.operators import cleanse, dedup, merge

ROW_SCHEMA = T.StructType(
    [
        T.StructField("k1", T.IntegerType(), True),
        T.StructField("k2", T.StringType(), True),
        T.StructField("val", T.IntegerType(), True),
    ]
)

keys_st = st.tuples(
    st.one_of(st.none(), st.integers(0, 3)),
    st.one_of(st.none(), st.sampled_from(["a", "b"])),
)
rows_st = st.lists(
    st.tuples(keys_st, st.integers(0, 100)).map(lambda t: (t[0][0], t[0][1], t[1])),
    max_size=12,
)


def _dedup_by_key(rows):
    seen = {}
    for r in rows:
        seen.setdefault((r[0], r[1]), r)
    return list(seen.values())


def _ref_upsert_full(target, source):
    """Reference semantics: matched keys (null-safe) take the source
    row; unmatched target rows survive; unmatched source rows insert."""
    out = {(r[0], r[1]): r for r in target}
    for r in source:
        out[(r[0], r[1])] = r
    return sorted(out.values(), key=str)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=rows_st, source=rows_st)
def test_upsert_full_matches_reference(spark, target, source):
    # unique keys per side (Delta precondition; duplicates tested below)
    target, source = _dedup_by_key(target), _dedup_by_key(source)
    tdf = spark.createDataFrame(target, ROW_SCHEMA)
    sdf = spark.createDataFrame(source, ROW_SCHEMA)
    got = sorted(
        [tuple(r) for r in merge.upsert_full(tdf, sdf, ["k1", "k2"]).collect()],
        key=str,
    )
    assert got == _ref_upsert_full(target, source)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=rows_st, source=rows_st)
def test_upsert_insert_only_matches_reference(spark, target, source):
    target, source = _dedup_by_key(target), _dedup_by_key(source)
    tdf = spark.createDataFrame(target, ROW_SCHEMA)
    sdf = spark.createDataFrame(source, ROW_SCHEMA)
    got = sorted(
        [tuple(r) for r in merge.upsert_insert_only(tdf, sdf, ["k1", "k2"]).collect()],
        key=str,
    )
    # insert-only: target rows always win
    expected = {(r[0], r[1]): r for r in source}
    expected.update({(r[0], r[1]): r for r in target})
    assert got == sorted(expected.values(), key=str)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_st)
def test_dedup_first_wins_matches_reference(spark, rows):
    df = spark.createDataFrame(rows, ROW_SCHEMA)
    got = sorted(
        [
            tuple(r)
            for r in cleanse.dedup_first_wins(
                df, ["k1", "k2"], [F.col("val").asc()]
            ).collect()
        ],
        key=str,
    )
    expected = {}
    for r in sorted(rows, key=lambda r: r[2]):
        expected.setdefault((r[0], r[1]), r)
    assert got == sorted(expected.values(), key=str)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        max_size=10,
    ),
    max_edges=st.sampled_from([0, dedup.COMPONENTS_DRIVER_MAX_EDGES]),
)
def test_canonical_components_matches_union_find(spark, edges, max_edges):
    # a bound of 0 forces the distributed min-label loop (the 100 TB
    # path); the default takes the round-7 driver union-find fallback
    # — both must match the reference union-find exactly
    nodes = list(range(10))
    ndf = spark.createDataFrame([(n,) for n in nodes], "vec_id int")
    edf = spark.createDataFrame(
        edges or [(0, 0)], "a_id int, b_id int"
    )
    if not edges:
        edf = edf.filter("a_id <> a_id")  # empty edge set
    with pytest.MonkeyPatch.context() as m:
        m.setattr(dedup, "COMPONENTS_DRIVER_MAX_EDGES", max_edges)
        labels = {
            r.vec_id: r.canonical_id
            for r in dedup.canonical_components(edf, ndf, "vec_id").collect()
        }
    # reference union-find
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}
    assert labels == expected


# ids unique by construction: duplicate ids would make Spark's
# dropDuplicates pick an arbitrary row vs the Python reference
TS_ROWS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 99)),
    max_size=10,
    unique_by=lambda r: r[2],
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=TS_ROWS, right=TS_ROWS)
def test_asof_join_matches_reference(spark, left, right):
    """asof_join vs python reference: per left row, the right row with
    the greatest (ts, id) among ts <= left ts, same key."""
    from cultural_heritage_bigdata_project_spark.operators import temporal

    ldf = spark.createDataFrame(
        [(k, t, i) for k, t, i in left] or [(0, 0, 0)], "k int, lts int, lid int"
    )
    if not left:
        ldf = ldf.filter("k <> k")
    rdf = spark.createDataFrame(
        [(k, t, i) for k, t, i in right] or [(0, 0, 0)], "k int, rts int, rid int"
    )
    if not right:
        rdf = rdf.filter("k <> k")
    out = temporal.asof_join(
        ldf, rdf, key="k", left_ts="lts", right_ts="rts",
        right_cols=["rid", "rts"], right_tiebreak="rid",
    )
    got = {(r.k, r.lts, r.lid): (r.asof_rid, r.asof_rts) for r in out.collect()}
    expected = {}
    for k, lts, lid in left:
        cands = [(rts, rid) for rk, rts, rid in right if rk == k and rts <= lts]
        expected[(k, lts, lid)] = (
            (max(cands)[1], max(cands)[0]) if cands else (None, None)
        )
    assert got == expected


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=TS_ROWS)
def test_range_join_matches_brute_force(spark, rows):
    from cultural_heritage_bigdata_project_spark.operators import temporal

    df = spark.createDataFrame(
        [(k, t, i) for k, t, i in rows] or [(0, 0, 0)], "k int, ts int, id int"
    )
    if not rows:
        df = df.filter("k <> k")
    out = temporal.range_join_pairs(df, key="k", ts_us_col="ts", id_col="id", max_delta_us=5)
    got = {(r.a_id, r.b_id, r.delta_us) for r in out.collect()}
    expected = set()
    for ka, ta, ia in rows:
        for kb, tb, ib in rows:
            if ka == kb and 0 < tb - ta <= 5:
                expected.add((ia, ib, tb - ta))
    assert got == expected


def test_table_diff_classification(spark):
    """Hand-built snapshots: every change class, null-safe values, and
    the partition law (old keys ∪ new keys, each exactly once)."""
    from cultural_heritage_bigdata_project_spark.operators.merge import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "CHANGED", 30.0), (4, None, 40.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    out = {r.k: r for r in table_diff(old, new, keys=["k"]).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].change == "removed" and out[1].new_s is None
    assert out[2].change == "unchanged"  # NULL == NULL under null-safe
    assert out[3].change == "changed" and out[3].old_s == "c"
    assert out[4].change == "unchanged"  # NULL value col matches
    assert out[5].change == "added" and out[5].old_s is None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema mismatch"):
        table_diff(old, new.drop("v"), keys=["k"])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    old_rows=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 3), st.one_of(st.none(), st.integers(0, 5))),
        max_size=25, unique_by=lambda r: r[0],
    ),
    new_rows=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 3), st.one_of(st.none(), st.integers(0, 5))),
        max_size=25, unique_by=lambda r: r[0],
    ),
)
def test_table_diff_laws(spark, old_rows, new_rows):
    """Partition + classification laws over random snapshots: keys are
    the union, each classified once, and the label matches a
    dict-based referee under null-safe comparison."""
    from cultural_heritage_bigdata_project_spark.operators.merge import table_diff

    schema = "k long, a long, b long"
    old = spark.createDataFrame(old_rows, schema) if old_rows else spark.createDataFrame([], schema)
    new = spark.createDataFrame(new_rows, schema) if new_rows else spark.createDataFrame([], schema)
    out = {r.k: r for r in table_diff(old, new, keys=["k"]).collect()}
    od = {r[0]: (r[1], r[2]) for r in old_rows}
    nd = {r[0]: (r[1], r[2]) for r in new_rows}
    assert set(out) == set(od) | set(nd)
    for k, r in out.items():
        if k not in od:
            assert r.change == "added"
        elif k not in nd:
            assert r.change == "removed"
        elif od[k] == nd[k]:  # python tuple equality IS null-safe
            assert r.change == "unchanged"
        else:
            assert r.change == "changed"
        # old_/new_ values surface the underlying rows (None off-side)
        assert (r.old_a, r.old_b) == (od.get(k) or (None, None))
        assert (r.new_a, r.new_b) == (nd.get(k) or (None, None))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 2), st.integers(0, 100)),
        min_size=1, max_size=20, unique_by=lambda r: r[0],
    ),
    updates=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 2), st.integers(0, 100), st.booleans()),
        max_size=15, unique_by=lambda r: r[0],
    ),
)
def test_incremental_agg_maintain_random_feeds(spark, base, updates):
    """IVM == full re-aggregation for arbitrary update/delete feeds."""
    from cultural_heritage_bigdata_project_spark.operators.merge import (
        incremental_agg_maintain,
    )

    old = spark.createDataFrame(base, "k long, g long, v long")
    feed = spark.createDataFrame(
        updates, "k long, g long, v long, is_deleted boolean"
    ) if updates else spark.createDataFrame([], "k long, g long, v long, is_deleted boolean")
    state0 = incremental_agg_maintain(
        None, old.withColumn("is_deleted", F.lit(False)), None,
        keys=["k"], group_cols=["g"], sum_cols=["v"], delete_col="is_deleted",
    )
    state1 = incremental_agg_maintain(
        state0, feed, old, keys=["k"], group_cols=["g"], sum_cols=["v"],
        delete_col="is_deleted",
    )
    # referee: apply the feed to a dict, re-aggregate from scratch
    tbl = {r[0]: (r[1], r[2]) for r in base}
    for k, g, v, dele in updates:
        if dele:
            tbl.pop(k, None)
        else:
            tbl[k] = (g, v)
    expect: dict = {}
    for g, v in tbl.values():
        s, c = expect.get(g, (0.0, 0))
        expect[g] = (s + v, c + 1)
    got = {r.g: (r.v, r.n_rows) for r in state1.collect()}
    assert got == expect


def test_incremental_agg_maintain_late_arrival(spark):
    """A feed row with an OLDER order key than the snapshot's incumbent
    must lose in the maintained view exactly as it loses in the table
    (round-5 ADVICE: seq-desc-only resolution let it win)."""
    from cultural_heritage_bigdata_project_spark.operators.merge import (
        incremental_agg_maintain,
    )

    old = spark.createDataFrame(
        [(1, 200, "g0", 10.0), (2, 200, "g1", 20.0)],
        "k long, ts long, g string, v double",
    )
    # key 1: late arrival (ts=100 < incumbent's 200) -> table unchanged;
    # key 2: genuine update (ts=300) -> table moves to v=99
    feed = spark.createDataFrame(
        [(1, 100, "g0", 777.0, 5), (2, 300, "g1", 99.0, 5)],
        "k long, ts long, g string, v double, __sg_seq long",
    )
    state0 = incremental_agg_maintain(
        None, old, None, keys=["k"], group_cols=["g"], sum_cols=["v"]
    )
    state1 = incremental_agg_maintain(
        state0, feed, old, keys=["k"], group_cols=["g"], sum_cols=["v"],
        order_desc=["ts"],
    )
    got = {r.g: (r.v, r.n_rows) for r in state1.collect()}
    assert got == {"g0": (10.0, 1), "g1": (99.0, 1)}
    # order-key TIE resolves to the incumbent (earliest seq), like the
    # table's strict-> upsert fold
    tie = spark.createDataFrame(
        [(1, 200, "g0", 555.0, 6)],
        "k long, ts long, g string, v double, __sg_seq long",
    )
    state2 = incremental_agg_maintain(
        state1, tie, old, keys=["k"], group_cols=["g"], sum_cols=["v"],
        order_desc=["ts"],
    )
    got2 = {r.g: (r.v, r.n_rows) for r in state2.collect()}
    assert got2["g0"] == (10.0, 1)


def test_incremental_agg_maintain_null_group(spark):
    """NULL grouping values must form ONE group (SQL GROUP BY), not two
    unmerged rows with split sums (round-5 ADVICE: null-unsafe
    full-outer combines)."""
    from cultural_heritage_bigdata_project_spark.operators.merge import (
        incremental_agg_maintain,
    )

    old = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "g1", 5.0)],
        "k long, g string, v double",
    )
    feed = spark.createDataFrame(
        [(2, None, 21.0), (4, None, 4.0)], "k long, g string, v double"
    )
    state0 = incremental_agg_maintain(
        None, old, None, keys=["k"], group_cols=["g"], sum_cols=["v"]
    )
    state1 = incremental_agg_maintain(
        state0, feed, old, keys=["k"], group_cols=["g"], sum_cols=["v"]
    )
    rows = state1.collect()
    assert len(rows) == 2, rows  # exactly one NULL group + one g1 group
    got = {r.g: (round(r.v, 6), r.n_rows) for r in rows}
    assert got == {None: (35.0, 3), "g1": (5.0, 1)}
