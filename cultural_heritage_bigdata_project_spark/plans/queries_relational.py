"""Relational operator catalog (SURVEY.md §2.1-§2.7) — oracle-checked.

Determinism rules (shared with every oracle below):

- **Sums of doubles** are computed as ``sum(cast(x as decimal(38,6)))``
  then cast back to double. Decimal addition is exact, so Spark's
  partial/tree aggregation and DuckDB's sequential fold produce the
  same value bit-for-bit; the final double cast is deterministic.
  Raw double columns pass through untouched (same bits both sides).
- **Timestamps** are compared as epoch microseconds
  (``unix_micros`` / ``epoch_us``) — bigint on both sides, immune to
  timezone/format drift.
- **Top-k / keep-first** always carries an explicit unique tiebreak
  column so the selected row *set* is deterministic.

Scale notes are per-query; the general stance: filters and projections
push into the parquet scan, small dims broadcast, and every shuffle is
on the key the next operator needs (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators import cleanse, joins, merge, windows
from ..sources.tables import load_table
from .catalog import register

# ---------------------------------------------------------------- helpers

DEC = "decimal(38,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dsum(col) -> F.Column:
    """Order-independent exact sum of a double expression (see module doc)."""
    return F.sum(col.cast(DEC)).cast("double")


def _us(col: str) -> F.Column:
    """Timestamp → epoch microseconds (bigint), oracle-comparable.

    Parquet fixtures load as TIMESTAMP_NTZ; with the session TZ pinned
    to UTC the cast to TIMESTAMP is instant-preserving.
    """
    return F.unix_micros(F.col(col).cast("timestamp"))


# =================================================================
# Aggregations (A1-A3, A7) — TPC-H-shaped headline queries
# =================================================================


@register(
    "pricing_summary",
    description="Q1-shaped group-agg scan: 2 keys, 7 aggregates over lineitem "
    "(ref: count/metric audits, eu_raw_to_cleansed_merge.py:36,56)",
    survey_ref="A1,A2,P5",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single scan → partial agg → one exchange on the two low-cardinality
    # keys. The shipdate filter pushes down to parquet row-group stats.
    li = _t(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.round(_dsum(F.col("l_quantity")) / cnt, 6).alias("avg_qty"),
            F.round(_dsum(F.col("l_extendedprice")) / cnt, 6).alias("avg_price"),
            cnt.alias("count_order"),
        )
    )


@register(
    "top_revenue_orders",
    description="Q3-shaped 3-way join + agg + global top-k "
    "(ref join J1 join_eu_ugc_qdrant_merge.py:191; top-k W4 app.py:237-246)",
    survey_ref="J1,A1,W4",
    oracle="""
SELECT o.o_orderkey,
       epoch_us(o.o_orderdate) AS orderdate_us,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""",
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lineitem⋈orders shuffles on orderkey once; the filtered customer
    # side is left to AQE — it broadcasts at test scale by measured
    # size, but customer scales with SF, so forcing broadcast would
    # OOM at 100 TB. Global top-10 plans as TakeOrderedAndProject.
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select(
            "o_orderkey",
            _us("o_orderdate").alias("orderdate_us"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "region_revenue",
    description="Q5-shaped 6-way snowflake join (dims broadcast) + agg",
    survey_ref="J1,A1",
    oracle="""
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
GROUP BY n.n_name
""",
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # region/nation are bounded dims (5/25 rows at ANY scale factor) →
    # explicit broadcast; customer/supplier scale with SF, so their
    # join strategy is AQE's call. The only guaranteed shuffle is
    # lineitem⋈orders on orderkey. This is the plan that survives
    # 100 TB.
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == n.n_nationkey),
        )
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "countdistinct_audit",
    description="A2 uniqueness audit: total vs distinct keys in one pass "
    "(ref eu_raw_to_cleansed_merge.py:89-97)",
    survey_ref="A1,A2",
    oracle="""
SELECT count(*) AS total_rows, count(DISTINCT o_custkey) AS distinct_keys
FROM orders
""",
)
def countdistinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cleanse.uniqueness_audit(_t(spark, sf_dir, "orders"), "o_custkey")


# =================================================================
# Cleanse stage (P3, P4, A5) — reference raw→cleansed semantics
# =================================================================


@register(
    "cleanse_normalize_dedup",
    description="raw→cleansed: null-key filter + ''→NULL normalization + "
    "deterministic first-wins key dedup over a deterministically dirtied "
    "'part' (ref eu_raw_to_cleansed_merge.py:40-54)",
    survey_ref="P3,P4,A5",
    oracle="""
WITH base AS (
  SELECT CASE WHEN p_partkey % 97 = 0 THEN NULL ELSE p_partkey END AS key,
         CASE WHEN p_size % 7 = 0 THEN '' ELSE p_brand END AS brand,
         CASE WHEN p_size % 11 = 0 THEN '' ELSE p_type END AS ptype,
         1 AS copy
  FROM part
), extra AS (
  SELECT CASE WHEN p_partkey % 97 = 0 THEN NULL ELSE p_partkey END AS key,
         CASE WHEN p_size % 7 = 0 THEN '' ELSE p_brand END AS brand,
         CASE WHEN p_size % 11 = 0 THEN '' ELSE p_type END AS ptype,
         2 AS copy
  FROM part WHERE p_partkey % 5 = 0
), dirty AS (
  SELECT * FROM base UNION ALL SELECT * FROM extra
), cleansed AS (
  SELECT key, NULLIF(brand, '') AS brand, NULLIF(ptype, '') AS ptype,
         row_number() OVER (PARTITION BY key ORDER BY copy) AS rn
  FROM dirty WHERE key IS NOT NULL
)
SELECT key, brand, ptype FROM cleansed WHERE rn = 1
""",
)
def cleanse_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    dirty_cols = [
        F.when(F.col("p_partkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("p_partkey"))
        .alias("key"),
        F.when(F.col("p_size") % 7 == 0, F.lit(""))
        .otherwise(F.col("p_brand"))
        .alias("brand"),
        F.when(F.col("p_size") % 11 == 0, F.lit(""))
        .otherwise(F.col("p_type"))
        .alias("ptype"),
    ]
    base = p.select(*dirty_cols, F.lit(1).alias("copy"))
    extra = p.filter(F.col("p_partkey") % 5 == 0).select(
        *dirty_cols, F.lit(2).alias("copy")
    )
    dirty = base.unionByName(extra)
    cleansed = cleanse.empty_string_to_null(
        cleanse.filter_not_null(dirty, ["key"]), ["brand", "ptype"]
    )
    return cleanse.dedup_first_wins(cleansed, ["key"], [F.col("copy")]).drop("copy")


@register(
    "hwm_incremental",
    description="P5 high-water-mark incremental read over events "
    "(ref join_eu_ugc_qdrant_merge.py:173-174)",
    survey_ref="P5",
    oracle="""
SELECT event_id, event_type, epoch_us(ts) AS ts_us
FROM events WHERE ts > TIMESTAMP '2024-01-25 00:00:00'
""",
)
def hwm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = cleanse.high_water_mark_filter(
        ev, "ts", F.lit("2024-01-25 00:00:00").cast("timestamp")
    )
    return out.select("event_id", "event_type", _us("ts").alias("ts_us"))


@register(
    "null_or_newer",
    description="P7 null-or-newer disjunction (never-processed OR newer than "
    "mark; ref join_eu_ugc_qdrant_merge.py:233-235)",
    survey_ref="P7",
    oracle="""
WITH src AS (
  SELECT event_id,
         CASE WHEN event_id % 13 = 0 THEN NULL ELSE ts END AS mark
  FROM events
)
SELECT event_id, epoch_us(mark) AS mark_us
FROM src WHERE mark IS NULL OR mark > TIMESTAMP '2024-01-25 00:00:00'
""",
)
def null_or_newer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 13 == 0, F.lit(None))
        .otherwise(F.col("ts"))
        .alias("mark"),
    )
    out = cleanse.null_or_newer_filter(
        ev, "mark", F.lit("2024-01-25 00:00:00").cast("timestamp")
    )
    return out.select("event_id", _us("mark").alias("mark_us"))


# =================================================================
# Join family (J1-J7, P6, U1 replacement)
# =================================================================


@register(
    "semi_join_hot_orders",
    description="P6/J5 scale-fix: EXISTS as left_semi join instead of a "
    "driver-built isin list (ref join_eu_ugc_qdrant_merge.py:205-215)",
    survey_ref="P6,J5",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
""",
)
def semi_join_hot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    hot = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return joins.semi_join(o, hot, "o_orderkey").select("o_orderkey", "o_totalprice")


@register(
    "anti_join_quiet_customers",
    description="NOT EXISTS as left_anti join (engine join-family floor)",
    survey_ref="J5",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
)
def anti_join_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return joins.anti_join(c, big, "c_custkey").select("c_custkey", "c_name")


@register(
    "nullsafe_join",
    description="J4/S12 null-safe key equi-join (<=>; ref merge condition "
    "join_eu_ugc_qdrant_merge.py:393-397)",
    survey_ref="J4,S12",
    oracle="""
WITH l AS (
  SELECT n_nationkey,
         CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_regionkey END AS jkey
  FROM nation
), r AS (
  SELECT r_name,
         CASE WHEN r_regionkey = 0 THEN NULL ELSE r_regionkey END AS jkey
  FROM region
)
SELECT l.n_nationkey, r.r_name
FROM l JOIN r ON l.jkey IS NOT DISTINCT FROM r.jkey
""",
)
def nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("n_regionkey"))
        .alias("jkey"),
    )
    right = _t(spark, sf_dir, "region").select(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit(None))
        .otherwise(F.col("r_regionkey"))
        .alias("jkey"),
    )
    return joins.nullsafe_equi_join(left, right, ["jkey"]).select(
        "n_nationkey", "r_name"
    )


@register(
    "broadcast_remap",
    description="U1 replacement: dict-lookup UDF → broadcast map join + "
    "coalesce default (ref join_eu_ugc_qdrant_merge.py:263-271)",
    survey_ref="U1,J3",
    oracle="""
WITH mapping AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 20)
SELECT coalesce(m.n_name, 'UNKNOWN') AS nation_name,
       count(*) AS n_customers,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal
FROM customer c LEFT JOIN mapping m ON c.c_nationkey = m.n_nationkey
GROUP BY 1
""",
)
def broadcast_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    mapping = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 20)
    remapped = joins.broadcast_map_join(
        c,
        mapping,
        key="c_nationkey",
        mapping_key="n_nationkey",
        value_col="n_name",
        out_col="nation_name",
    ).fillna({"nation_name": "UNKNOWN"})
    return remapped.groupBy("nation_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum(F.col("c_acctbal")).alias("total_acctbal"),
    )


# mapping join uses c_nationkey == mapping key; broadcast_map_join joins on
# df[key] == mapping.__mk, so key name mismatch is handled by aliasing above.


# =================================================================
# Set operations (X1-X4)
# =================================================================


@register(
    "union_by_name",
    description="X1 unionByName with missing columns (ref "
    "join_eu_ugc_qdrant_merge.py:337-338, col-set algebra P11)",
    survey_ref="X1,P11",
    oracle="""
SELECT o_orderkey AS okey, o_orderpriority AS prio, NULL::DOUBLE AS price
FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL BY NAME
SELECT o_orderkey AS okey, o_orderpriority AS prio, o_totalprice AS price
FROM orders WHERE o_orderpriority = '5-LOW'
""",
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("okey"), F.col("o_orderpriority").alias("prio")
    )
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    return urgent.unionByName(low, allowMissingColumns=True)


@register(
    "intersect_buyers",
    description="X2 intersection as a set op (ref driver-side set "
    "intersection join_eu_ugc_qdrant_overwrite.py:169-174)",
    survey_ref="X2,J6",
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT o_custkey AS c_custkey FROM orders
""",
)
def intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        "c_custkey"
    )
    buyers = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return rich.intersect(buyers)


@register(
    "except_unordered_parts",
    description="EXCEPT set op: parts never appearing in lineitem",
    survey_ref="X2",
    oracle="""
SELECT p_partkey FROM part
EXCEPT
SELECT l_partkey AS p_partkey FROM lineitem WHERE l_quantity > 47
""",
)
def except_unordered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey")
    used = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 47)
        .select(F.col("l_partkey").alias("p_partkey"))
    )
    return p.exceptAll(used).distinct()


# =================================================================
# Windows / sorts / pagination (W1-W5, A8)
# =================================================================


@register(
    "distinct_on_first_order",
    description="A8/W5 DISTINCT ON: first order per customer under explicit "
    "order (ref app.py:146)",
    survey_ref="A8,W5",
    oracle="""
SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS orderdate_us
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""",
)
def distinct_on_first_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    first = windows.distinct_on(
        o, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")]
    )
    return first.select(
        "o_custkey", "o_orderkey", _us("o_orderdate").alias("orderdate_us")
    )


@register(
    "topk_per_group",
    description="W4 top-k per group via ranking window",
    survey_ref="W4,W5",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    top = windows.top_k_per_group(
        o, ["o_orderpriority"], "o_totalprice DESC, o_orderkey", 3
    )
    return top.select("o_orderpriority", "o_orderkey", "o_totalprice")


@register(
    "running_total",
    description="Analytic window: running total per customer (engine "
    "capability beyond reference floor, SURVEY.md §2.5)",
    survey_ref="W5",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_spend
FROM orders
""",
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias(
            "running_spend"
        ),
    )


@register(
    "lag_lead_events",
    description="Analytic window: lag/lead over event stream per user",
    survey_ref="W5,T6",
    oracle="""
SELECT event_id, user_id, value,
       lag(value) OVER w AS prev_value,
       lead(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@register(
    "keyset_pagination",
    description="W1 ordered keyset pagination (ref "
    "extracting_embeddings.py:126-133); plans as TakeOrderedAndProject",
    survey_ref="W1",
    oracle="""
SELECT event_id, event_type FROM events
WHERE event_id > 500 ORDER BY event_id LIMIT 100
""",
)
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return windows.keyset_page(ev, "event_id", 500, 100).select(
        "event_id", "event_type"
    )


@register(
    "seeded_random_page",
    description="W2 seeded-random pagination (ref app.py:119-149): page "
    "order = md5(seed || key) — data-derived, so it is stable across "
    "partition layouts/core counts (F.rand(seed) is not) and replayable "
    "by any md5-capable engine, which makes the page hash-checkable.",
    survey_ref="W2",
    oracle="""
SELECT c_custkey, c_name FROM (
  SELECT c_custkey, c_name,
         row_number() OVER (
           ORDER BY md5('42' || chr(31) || CAST(c_custkey AS VARCHAR)),
                    c_custkey
         ) AS rn
  FROM customer
) WHERE rn > 20 AND rn <= 40
""",
)
def seeded_random_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return windows.seeded_random_page(
        c, seed=42, page=1, page_size=20, key_cols=["c_custkey"]
    ).select("c_custkey", "c_name")


# =================================================================
# Grouping sets / pivot (engine surface beyond reference floor)
# =================================================================


@register(
    "rollup_order_status",
    description="ROLLUP multi-level aggregate (engine SQL surface, "
    "SURVEY.md §4.1 last row)",
    survey_ref="A1",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "pivot_status_by_priority",
    description="Pivot: order counts by status per priority",
    survey_ref="A1",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
FROM orders GROUP BY o_orderpriority
""",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
    )


@register(
    "unpivot_customer_metrics",
    description="Unpivot (stack) wide metrics to long form",
    survey_ref="A1",
    oracle="""
SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
UNION ALL
SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value
FROM customer
""",
)
def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.selectExpr(
        "c_custkey",
        "stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) "
        "AS (metric, value)",
    )


# =================================================================
# JSON / scalar functions (F1-F11)
# =================================================================


@register(
    "from_json_extract",
    description="F1/F11 JSON field extraction + aggregate (ref from_json "
    "array repair curated_to_postgres.py:27-28)",
    survey_ref="F1,F11",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
       count(*) AS n_events
FROM events GROUP BY event_type
""",
)
def from_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n_events")
    )


@register(
    "scalar_function_gallery",
    description="F5-F10 scalar surface: cast, regexp sanitize, md5, "
    "concat_ws+substring, date_format (refs metadata_eu_to_raw.py:9-10, "
    "extracting_embeddings.py:89-93,135-152)",
    survey_ref="F5,F6,F7,F8,F9",
    oracle="""
SELECT c_custkey,
       regexp_replace(c_name, '[^a-zA-Z0-9_-]', '_', 'g') AS sanitized,
       md5(c_name) AS name_md5,
       substring(concat_ws(' ', c_mktsegment, c_name), 1, 20) AS prompt,
       CAST(trunc(c_acctbal) AS INTEGER) AS acctbal_int
FROM customer
""",
)
def scalar_function_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[^a-zA-Z0-9_-]", "_").alias("sanitized"),
        F.md5(F.col("c_name").cast("binary")).alias("name_md5"),
        F.substring(F.concat_ws(" ", "c_mktsegment", "c_name"), 1, 20).alias("prompt"),
        F.col("c_acctbal").cast("int").alias("acctbal_int"),
    )


# =================================================================
# Merge / upsert emulation (S11, S12)
# =================================================================


@register(
    "merge_insert_only",
    description="S11 insert-only upsert (whenNotMatchedInsertAll) as "
    "anti-join + union (ref eu_raw_to_cleansed_merge.py:62-69)",
    survey_ref="S11,J4",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 3 <> 0
), source AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate > TIMESTAMP '2000-01-01 00:00:00'
)
SELECT * FROM target
UNION ALL
SELECT * FROM source s
WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
""",
)
def merge_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = o.filter(F.col("o_orderkey") % 3 != 0)
    source = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") > F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    return merge.upsert_insert_only(target, source, ["o_orderkey"])


@register(
    "merge_full_upsert",
    description="S12 full upsert (update-all + insert-all, null-safe key) "
    "without Delta (ref join_eu_ugc_qdrant_merge.py:387-401)",
    survey_ref="S12,J4",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_totalprice AS price, 'target' AS origin FROM orders
  WHERE o_orderkey % 2 = 0
), source AS (
  SELECT o_orderkey, o_totalprice + 1000.0 AS price, 'source' AS origin
  FROM orders WHERE o_orderdate > TIMESTAMP '2000-06-01 00:00:00'
)
SELECT t.* FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s
                  WHERE s.o_orderkey IS NOT DISTINCT FROM t.o_orderkey)
UNION ALL
SELECT * FROM source
""",
)
def merge_full_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("target").alias("origin"),
    )
    source = o.filter(
        F.col("o_orderdate") > F.lit("2000-06-01 00:00:00").cast("timestamp")
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.0).alias("price"),
        F.lit("source").alias("origin"),
    )
    return merge.upsert_full(target, source, ["o_orderkey"])


@register(
    "merge_with_delete",
    description="Full MERGE with a delete clause (Delta WHEN MATCHED "
    "DELETE beside update-all/insert-all): source rows flagged deleted "
    "remove their matched target key, the rest upsert; one null-safe "
    "key exchange, the delete clause adds no extra shuffle",
    survey_ref="S12,J4,A5",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_totalprice AS price, 'target' AS origin FROM orders
  WHERE o_orderkey % 2 = 0
), source AS (
  SELECT o_orderkey,
         o_totalprice + 1000.0 AS price,
         'source' AS origin,
         (o_orderkey % 11 = 0) AS is_deleted
  FROM orders WHERE o_orderdate > TIMESTAMP '2000-06-01 00:00:00'
)
SELECT t.* FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s
                  WHERE s.o_orderkey IS NOT DISTINCT FROM t.o_orderkey)
UNION ALL
SELECT o_orderkey, price, origin FROM source WHERE NOT is_deleted
""",
)
def merge_with_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("target").alias("origin"),
    )
    source = o.filter(
        F.col("o_orderdate") > F.lit("2000-06-01 00:00:00").cast("timestamp")
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.0).alias("price"),
        F.lit("source").alias("origin"),
        (F.col("o_orderkey") % 11 == 0).alias("is_deleted"),
    )
    return merge.upsert_full_with_delete(
        target, source, ["o_orderkey"], delete_col="is_deleted"
    )


# =================================================================
# Flagship: the reference's pipeline shape end-to-end (entry())
# =================================================================


@register(
    "curated_pipeline",
    description="Flagship pipeline-shaped query: cleanse → dedup → "
    "broadcast-enrich → join → agg → ordered result (the §3 lifecycle: "
    "scan → normalize → dedup → join/enrich → aggregate)",
    survey_ref="P3,P4,A5,J1,U1,A1,W4",
    oracle="""
WITH enriched AS (
  SELECT c.c_custkey, c.c_mktsegment, coalesce(n.n_name, 'UNKNOWN') AS nation_name
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
), order_rev AS (
  SELECT o.o_orderkey, o.o_custkey,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS rev
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus <> 'P'
  GROUP BY o.o_orderkey, o.o_custkey
)
SELECT e.c_mktsegment, e.nation_name,
       count(*) AS n_orders,
       count(DISTINCT e.c_custkey) AS n_customers,
       CAST(sum(r.rev) AS DOUBLE) AS revenue
FROM order_rev r JOIN enriched e ON r.o_custkey = e.c_custkey
GROUP BY e.c_mktsegment, e.nation_name
""",
)
def curated_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    li = _t(spark, sf_dir, "lineitem")
    enriched = joins.broadcast_map_join(
        c,
        n,
        key="c_nationkey",
        mapping_key="n_nationkey",
        value_col="n_name",
        out_col="nation_name",
    ).fillna({"nation_name": "UNKNOWN"})
    order_rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias("rev"))
    )
    # enriched derives from customer (scales with SF) — AQE decides
    return (
        order_rev.join(enriched, order_rev.o_custkey == enriched.c_custkey)
        .groupBy("c_mktsegment", "nation_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.sum("rev").cast("double").alias("revenue"),
        )
    )
