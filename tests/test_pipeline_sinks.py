"""Invariants for the reference-pipeline re-creation and the sink
operators (mirroring the reference's audits, SURVEY.md §5)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from cultural_heritage_bigdata_project_spark.pipelines import curated
from cultural_heritage_bigdata_project_spark.sources import sinks
from cultural_heritage_bigdata_project_spark.sources.tables import load_table

from .conftest import SF_DIR


def test_curated_flow_idempotent(spark):
    """Running the flow twice yields identical results (merge/idempotency
    invariant, SURVEY.md §5)."""
    a = curated.curated_flow(spark, SF_DIR)
    b = curated.curated_flow(spark, SF_DIR)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_curated_flow_no_ugc_lost(spark):
    """M4 invariant (README.md:244-245 'no UGC lost'): every validated,
    metadata-resolvable annotation appears in curated output."""
    ugc = curated.cleanse_ugc(curated.derive_ugc_raw(spark, SF_DIR))
    rep = curated.representative_map(curated.derive_verdicts(spark, SF_DIR))
    eu = curated.cleanse_eu(curated.derive_eu_raw(spark, SF_DIR))
    expected = (
        ugc.join(rep, "guid")
        .join(eu.select(F.col("guid").alias("rep_guid")), "rep_guid")
        .select("rep_guid", "user_id", "ts_us")
        .distinct()
        .count()
    )
    out = curated.curated_flow(spark, SF_DIR)
    got = out.filter(F.col("user_id").isNotNull()).count()
    assert got == expected, f"annotations lost: {expected} -> {got}"


def test_curated_flow_key_unique(spark):
    """A2 audit: curated identity (guid, user_id, ts) is unique."""
    out = curated.curated_flow(spark, SF_DIR)
    total = out.count()
    distinct = out.select("guid", "user_id", "ts_us").distinct().count()
    assert total == distinct


def test_curated_flow_pending_excluded(spark):
    """P6: objects whose verdict is pending never reach curated."""
    verd = curated.derive_verdicts(spark, SF_DIR)
    pending = {r.guid for r in verd.filter("status = 'pending'").collect()}
    out_guids = {r.guid for r in curated.curated_flow(spark, SF_DIR).select("guid").distinct().collect()}
    assert not (pending & out_guids)


def test_curated_flow_parses_each_envelope_once(spark, monkeypatch):
    """The UGC envelopes are parsed and deduped once: across every plan
    the flow executes (each localCheckpoint's input, then the output),
    no Filter re-evaluates ``from_json`` (a filter pushed through the
    dedup window into the events scan) and the 4-key UGC dedup
    Exchange appears exactly once (not once per P8 branch)."""
    frame_cls = type(spark.range(1))
    plans = []
    checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
    out = curated.curated_flow(spark, SF_DIR)
    plans.append(out._jdf.queryExecution().executedPlan().toString())

    lines = [line for plan in plans for line in plan.splitlines()]
    parse_filters = [
        line for line in lines
        if re.match(r"[\s:+-]*Filter ", line) and "from_json" in line
    ]
    assert not parse_filters, parse_filters[0][:300]
    ugc_dedup = r"Exchange hashpartitioning\(guid#\d+, user_id#\d+, comment#\d+, ts_us#\d+L?,"
    assert sum(bool(re.search(ugc_dedup, line)) for line in lines) == 1


def test_keyed_landing_idempotent(spark, tmp_path):
    """S7 replacement invariant: re-landing the same input produces the
    same table."""
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    path = str(tmp_path / "landing")
    sinks.keyed_json_landing(o, "o_orderkey", path, [F.col("o_totalprice")])
    first = spark.read.json(path).collect()
    sinks.keyed_json_landing(o, "o_orderkey", path, [F.col("o_totalprice")])
    second = spark.read.json(path).collect()
    assert sorted(map(str, first)) == sorted(map(str, second))
    assert len(first) == o.select("o_orderkey").distinct().count()


def test_partition_pruning_in_plan(spark, tmp_path):
    """S8: a filter on the partition column must prune at planning time
    (PartitionFilters in the scan, not a post-scan Filter)."""
    o = load_table(spark, SF_DIR, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "part")
    sinks.partitioned_parquet_landing(o, path, ["order_year"])
    back = spark.read.parquet(path).filter(F.col("order_year") == 2000)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "order_year" in plan
    n_years = spark.read.parquet(path).select("order_year").distinct().count()
    import os as _os

    scanned_dirs = [d for d in _os.listdir(path) if d.startswith("order_year=")]
    assert len(scanned_dirs) == n_years  # all written...
    assert back.count() > 0  # ...but only one read (pruned scan returns rows)


def test_table_exists_probe(spark, tmp_path):
    assert not sinks.table_exists(spark, str(tmp_path / "nope"))
    p = str(tmp_path / "t")
    load_table(spark, SF_DIR, "region").write.parquet(p)
    assert sinks.table_exists(spark, p)


def test_jdbc_sink_gated(spark):
    df = load_table(spark, SF_DIR, "region")
    with pytest.raises(RuntimeError, match="JDBC sink unavailable"):
        sinks.jdbc_serving_sink(df, "jdbc:postgresql://nohost/db", "t")


def test_kafka_source_gated(spark):
    """S1/S6 builders exist with the production shape; without the
    kafka package they fail with Spark's deployment guidance, not a
    crash deep in our code."""
    from cultural_heritage_bigdata_project_spark import streaming

    with pytest.raises(Exception, match="kafka"):
        streaming.kafka_stream(spark, "nohost:9092", "topic")


def test_jdbc_sink_options_contract():
    """S13 option plumbing is a pure dict — testable without a DB."""
    opts = sinks.jdbc_sink_options(
        "jdbc:postgresql://db:5432/serving", "curated", user="svc", password="x"
    )
    assert opts == {
        "url": "jdbc:postgresql://db:5432/serving",
        "dbtable": "curated",
        "batchsize": "10000",
        "isolationLevel": "READ_COMMITTED",
        "user": "svc",
        "password": "x",
    }


def test_staging_swap_statement_sequence():
    """S14: the swap must be atomic (rename inside BEGIN/COMMIT) and
    the serving table untouched until the COMMIT — verify ordering."""
    stmts = sinks.staging_swap_statements("curated")
    assert stmts[0] == "DROP TABLE IF EXISTS curated_staging"
    assert "CREATE TABLE curated_staging (LIKE curated INCLUDING ALL)" in stmts
    b, c = stmts.index("BEGIN"), stmts.index("COMMIT")
    renames = [i for i, s in enumerate(stmts) if "RENAME" in s]
    assert all(b < i < c for i in renames), stmts
    assert stmts.index("ALTER TABLE curated RENAME TO curated_old") < stmts.index(
        "ALTER TABLE curated_staging RENAME TO curated"
    )
    # cleanup of the old generation happens only after COMMIT
    assert stmts[-1] == "DROP TABLE IF EXISTS curated_old"


# ---------------------------------------------------------------- round 7:
# negative paths for the gated JDBC surface (round-6 VERDICT item 6).


def test_jdbc_sink_options_reject_bad_inputs():
    with pytest.raises(ValueError, match="jdbc:"):
        sinks.jdbc_sink_options("postgresql://db/serving", "t")
    with pytest.raises(ValueError, match="dbtable"):
        sinks.jdbc_sink_options("jdbc:postgresql://db/serving", " ")
    with pytest.raises(ValueError, match="batchsize"):
        sinks.jdbc_sink_options("jdbc:postgresql://db/serving", "t", batchsize=0)


def test_staging_swap_rollback_never_touches_serving_table():
    """Reference failure path (curated_to_postgres.py:108-125): abort
    recovery rolls back and drops ONLY the staging generation — a
    recovery that names the serving table could destroy the last good
    copy. Also idempotent: every statement is re-runnable."""
    stmts = sinks.staging_swap_rollback_statements("curated")
    assert stmts[0] == "ROLLBACK"
    assert any("curated_staging" in s for s in stmts[1:])
    for s in stmts:
        # the serving table name may appear only inside the staging
        # table's own name
        assert "curated " not in s and not s.rstrip().endswith("curated"), s
    for s in stmts[1:]:
        assert "IF EXISTS" in s, f"not idempotent: {s}"


def test_staging_swap_custom_staging_name_propagates():
    stmts = sinks.staging_swap_statements("curated", staging="curated_tmp7")
    roll = sinks.staging_swap_rollback_statements("curated", staging="curated_tmp7")
    assert stmts[0] == "DROP TABLE IF EXISTS curated_tmp7"
    assert "ALTER TABLE curated_tmp7 RENAME TO curated" in stmts
    assert roll[-1] == "DROP TABLE IF EXISTS curated_tmp7"
