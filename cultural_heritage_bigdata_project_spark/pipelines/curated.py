"""End-to-end re-creation of the reference's curated pipeline
(SURVEY.md §3, §7 Phase 2) over reference-shaped fixtures.

The reference's flow (docker-composed jobs):
  Kafka → raw JSON lake → cleanse (null-filter, ''→NULL, key dedup)
  → Qdrant dedup verdicts (canonical groups) → curated join with
  canonical re-keying → serving projection.

Here the same semantics run as one composable DataFrame pipeline over
fixture-derived inputs (FIXTURES.md B1-B3, derived deterministically
from orders/events/embeddings so the DuckDB oracle can reproduce
them):

- ``derive_eu_raw``      — B1: dirty Europeana-shaped metadata (NULL
  keys, NULL image_url, '' fields, duplicate guids) from ``orders``.
- ``derive_ugc_raw``     — B2: annotation JSON envelopes (with Kafka
  replay duplicates) from ``events``; the Spark path round-trips the
  payload through to_json/from_json to exercise the S2/P2/F1 parse
  operators (the oracle skips the round trip — parse(to_json(x)) == x).
- ``derive_verdicts``    — B3: validated/pending status + canonical
  groups from ``embeddings``.
- ``cleanse_eu``         — P3+A5+P4 (eu_raw_to_cleansed_merge.py:40-54).
- ``cleanse_ugc``        — P2 parse + A5 4-key dedup
  (ugc_raw_to_cleansed.py:51-70).
- ``representative_map`` — M4 canonical re-keying map: guid →
  representative guid = min guid of the canonical group (deterministic
  replacement for first-seen, SURVEY.md §7 hard-list #2).
- ``curated_flow``       — §3.3 steps 4-5: validated semi-join (P6→J5),
  re-key (U1→broadcast map join), metadata join (J1/J3), with/without-
  comments split (P8), unionByName (X1), 3-key dedup (A5), plus
  metadata-only rows for unannotated validated representatives
  (B4 left-join semantics), serving projection with stringified-array
  repair (F1, curated_to_postgres.py:27-28).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import cleanse, joins
from ..sources.tables import load_table

# ------------------------------------------------------------ derivations

UGC_MSG_SCHEMA = T.StructType(
    [
        T.StructField("guid", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("comment", T.StringType()),
        T.StructField("tags_json", T.StringType()),
        T.StructField("ts_us", T.LongType()),
    ]
)


def derive_eu_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 dirty metadata from orders: NULL guid (%97), NULL image_url
    (%89), '' description (%7) / creator (%11), duplicated rows (%13)."""
    o = load_table(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    base = o.select(
        F.when(ok % 97 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("item/"), ok.cast("string")))
        .alias("guid"),
        F.concat(F.lit("Object "), ok.cast("string")).alias("title"),
        F.when(ok % 89 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("http://img/"), ok.cast("string")))
        .alias("image_url"),
        F.when(ok % 7 == 0, F.lit("")).otherwise(F.col("o_orderpriority")).alias(
            "description"
        ),
        F.when(ok % 11 == 0, F.lit("")).otherwise(F.col("o_orderstatus")).alias(
            "creator"
        ),
        ok.alias("okey"),
    )
    dup = base.filter(F.col("okey") % 13 == 0)
    return base.withColumn("copy", F.lit(1)).unionByName(
        dup.withColumn("copy", F.lit(2))
    )


def derive_ugc_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 annotation envelopes from events (value = JSON string), with
    Kafka-replay duplicates (%17). ts travels as epoch micros inside
    the JSON (ISO round-tripping would truncate sub-millisecond
    precision)."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    msg = F.struct(
        F.concat(F.lit("item/"), (eid % 499).cast("string")).alias("guid"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("user_id"),
        F.when(eid % 4 == 0, F.lit(None)).otherwise(F.col("event_type")).alias(
            "comment"
        ),
        F.concat(
            F.lit('["t'), (eid % 3).cast("string"), F.lit('","'),
            F.col("event_type"), F.lit('"]'),
        ).alias("tags_json"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    base = ev.select(F.to_json(msg).alias("value"), eid.alias("eid"))
    dup = base.filter(F.col("eid") % 17 == 0)
    return base.unionByName(dup).select("value")


def derive_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 dedup verdicts from embeddings: guid per vector, pending for
    vec_id % 10 == 0, canonical groups g0..g6 for vec_id % 50 == 0
    (the rest are singletons)."""
    e = load_table(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    # pending is %10==3 (NOT %10==0: that would mark every %50==0 group
    # member pending and leave no multi-member validated group)
    return e.select(
        F.concat(F.lit("item/"), vid.cast("string")).alias("guid"),
        F.when(vid % 10 == 3, F.lit("pending")).otherwise(F.lit("validated")).alias(
            "status"
        ),
        F.when(vid % 50 == 0, F.concat(F.lit("g"), (vid % 7).cast("string")))
        .otherwise(F.concat(F.lit("solo"), vid.cast("string")))
        .alias("grp"),
    )


# ---------------------------------------------------------------- stages


def cleanse_eu(eu_raw: DataFrame) -> DataFrame:
    """raw→cleansed: require guid+image_url (P3), first-wins guid dedup
    (A5, tiebreak = arrival copy), ''→NULL (P4)
    (eu_raw_to_cleansed_merge.py:40-54)."""
    out = cleanse.filter_not_null(eu_raw, ["guid", "image_url"])
    out = cleanse.dedup_first_wins(out, ["guid"], [F.col("copy"), F.col("okey")])
    out = cleanse.empty_string_to_null(out, ["description", "creator"])
    return out.select("guid", "title", "description", "creator")


def cleanse_ugc(ugc_raw: DataFrame) -> DataFrame:
    """Parse the JSON envelope with an explicit schema (P2/F1 — no
    inference pass, SURVEY.md §4.1) and dedup on the 4-key identity
    (ugc_raw_to_cleansed.py:51-70)."""
    parsed = ugc_raw.select(
        F.from_json("value", UGC_MSG_SCHEMA).alias("m")
    ).select("m.*")
    return cleanse.dedup_first_wins(
        parsed,
        ["guid", "user_id", "comment", "ts_us"],
        [F.col("tags_json")],
    )


def representative_map(verdicts: DataFrame) -> DataFrame:
    """M4: guid → representative guid (min guid of the validated
    canonical group; deterministic)."""
    from pyspark.sql import Window as W

    validated = verdicts.filter(F.col("status") == "validated")
    w = W.partitionBy("grp")
    return validated.select(
        "guid", F.min("guid").over(w).alias("rep_guid")
    )


def curated_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 steps 4-5 + serving projection, end to end."""
    # localCheckpoint the stage outputs that feed multiple downstream
    # branches (eu → metadata join + rep-objects; ugc → the P8 split's
    # two branches; deduped → union + anti-join): without it each
    # branch re-executes the whole cleanse lineage. This is the
    # reference's cache() bracketing (join_eu_ugc_qdrant_merge.py:148,
    # 169) done lineage-safe.
    eu = cleanse_eu(derive_eu_raw(spark, sf_dir)).localCheckpoint(eager=False)
    ugc = cleanse_ugc(derive_ugc_raw(spark, sf_dir)).localCheckpoint(eager=False)
    rep = representative_map(derive_verdicts(spark, sf_dir)).localCheckpoint(
        eager=False
    )

    # P6→J5: only annotations on validated objects survive (the
    # reference builds a driver-side isin list; we semi-join).
    # U1→broadcast map join: canonical re-keying.
    ann = joins.broadcast_map_join(
        ugc, rep, key="guid", mapping_key="guid",
        value_col="rep_guid", out_col="rep_guid",
    ).filter(F.col("rep_guid").isNotNull())

    # J1/J3: annotations joined to the representative's metadata.
    # The P8 split below filters on ``comment``, a key of the UGC dedup
    # window, and the join infers ``isnotnull(guid)``: over an
    # unmaterialized ugc, Catalyst pushes those filters through the
    # window and the from_json projection into the events scans, so
    # each branch gets its own dedup exchange (the two differ, so
    # ReuseExchange cannot merge them) and re-parses every envelope in
    # its scan filters. The ugc checkpoint above is the barrier: the
    # envelopes are parsed and deduped once, and the filters run over
    # the parsed rows.
    joined = ann.join(eu, ann.rep_guid == eu.guid).select(
        ann.rep_guid.alias("guid"),
        "user_id",
        "ts_us",
        "comment",
        "tags_json",
        "title",
        "description",
        "creator",
    )
    # P8 split + X1 union: the reference routes with/without-comment
    # annotations through different paths before unionByName
    # (join_eu_ugc_qdrant_merge.py:276-338); both carry the same
    # columns here, so the split-union is semantically the identity —
    # kept to mirror the flow shape.
    with_c = joined.filter(F.col("comment").isNotNull())
    without_c = joined.filter(F.col("comment").isNull())
    unioned = with_c.unionByName(without_c, allowMissingColumns=True)

    # A5: curated identity (guid, user_id, ts) — collapses Kafka
    # replays that survive to this point.
    deduped = cleanse.dedup_first_wins(
        unioned, ["guid", "user_id", "ts_us"], [F.col("comment").asc_nulls_first()]
    ).localCheckpoint(eager=False)

    # B4 left-join semantics: validated representative objects with no
    # annotations still appear, with NULL annotation fields.
    rep_objects = (
        rep.select(F.col("rep_guid").alias("guid"))
        .distinct()
        .join(eu, "guid")
        .join(deduped.select("guid").distinct(), "guid", "left_anti")
        .select(
            "guid",
            F.lit(None).cast("string").alias("user_id"),
            F.lit(None).cast("long").alias("ts_us"),
            F.lit(None).cast("string").alias("comment"),
            F.lit(None).cast("string").alias("tags_json"),
            "title",
            "description",
            "creator",
        )
    )
    full = deduped.unionByName(rep_objects)

    # Serving projection (curated_to_postgres.py:27-49): stringified-
    # array repair via from_json (F1), flattened for hash-stable output.
    tags = F.from_json("tags_json", T.ArrayType(T.StringType()))
    return full.select(
        "guid",
        "user_id",
        "ts_us",
        "comment",
        F.array_join(tags, ",").alias("tags_str"),
        "title",
        "description",
        "creator",
    )
