"""Single-slice local relations for bounded driver-side row sets.

`SparkSession.createDataFrame(list_of_rows)` parallelizes the rows into
``defaultParallelism`` slices, so a ≤fetch_k-row pinned shortlist (a
grouped page, a fused hybrid page, a query batch) becomes a 32-task
stage on ``local[32]`` in which every task pays a Python-worker
round-trip to unpickle its (usually empty) slice — measured ~0.2 s of
per-ACTION overhead at sf0.1 for a 40-row frame, multiplied by every
downstream job that re-evaluates the frame (optimization guide §4.1:
the Python boundary is per-task, so the lever is fewer tasks).

Round-12 second pass: for atomic/array-of-atomic columns the frame is
now a TRUE LocalRelation built from a parameterized ``VALUES`` query —
zero tasks and zero Python-worker round trips per action (Catalyst
collects a LocalRelation driver-side; a broadcast build over it
launches no job at all). Anything the VALUES path cannot express
bit-faithfully (bytes, decimals, nested structs/maps, datetimes, >1k
rows) falls back to the 1-slice RDD path: identical rows, schema, and
semantics either way, pinned by tests/test_plans.py's localrel tests.

``collect_or_checkpoint`` is the one small-input route of the operators
that fork on input size (``similarity.threshold_similarity_join``,
``dedup.minhash_lsh_pairs``, ``dedup.canonical_components``): each
passes its input and its bound (a module constant next to the
operator) and runs its driver route on the returned rows, or its
distributed plan on the returned checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation

# VALUES-path guard: a page/shortlist is tens of rows; anything larger
# is cheaper through one RDD slice than a giant parsed SQL string.
_MAX_VALUES_ROWS = 1024

_ATOMIC = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.StringType,
    T.BooleanType,
)


def _values_expressible(dt) -> bool:
    if isinstance(dt, _ATOMIC):
        return True
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, _ATOMIC):
        return True
    return False


def _as_struct(schema) -> T.StructType | None:
    if isinstance(schema, T.StructType):
        return schema
    if isinstance(schema, str):
        try:
            parsed = T._parse_datatype_string(schema)
        except Exception:
            return None
        return parsed if isinstance(parsed, T.StructType) else None
    return None


def _py_cell(v):
    """Row cells as plain Python for parameter binding; None for rows
    the VALUES path must not attempt (unexpected containers)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (list, tuple)):
        return [float(x) if isinstance(x, float) else x for x in v]
    return _UNSUPPORTED


_UNSUPPORTED = object()


def _values_local_df(spark: SparkSession, rows: list, schema) -> DataFrame | None:
    st = _as_struct(schema)
    if st is None or not rows or len(rows) > _MAX_VALUES_ROWS:
        return None
    if not all(_values_expressible(f.dataType) for f in st.fields):
        return None
    n = len(st.fields)
    # NAMED parameters: positional "?" markers bind in parse-tree
    # traversal order, which does NOT match textual order across a
    # multi-row VALUES (verified: rows came back scrambled) — names
    # are order-independent.
    args: dict = {}
    row_sqls: list[str] = []
    names_set = {f.name for f in st.fields}
    for r in rows:
        if isinstance(r, dict):
            if set(r.keys()) - names_set:
                return None
            cells = [r.get(f.name) for f in st.fields]
        elif isinstance(r, Row):
            d = r.asDict()
            if set(d.keys()) == names_set:
                cells = [d.get(f.name) for f in st.fields]
            else:
                cells = [r[i] for i in range(len(r))]
        else:
            cells = list(r)
        if len(cells) != n:
            return None
        names = []
        for c in cells:
            pc = _py_cell(c)
            if pc is _UNSUPPORTED:
                return None
            name = f"p{len(args)}"
            args[name] = pc
            names.append(f":{name}")
        row_sqls.append("(" + ",".join(names) + ")")
    try:
        raw = spark.sql("VALUES " + ",".join(row_sqls), args=args)
        out = raw.select(
            *[
                F.col(f"col{i + 1}").cast(f.dataType).alias(f.name)
                for i, f in enumerate(st.fields)
            ]
        )
        # force analysis now so a binding surprise falls back cleanly
        out.schema
        return out
    except Exception:
        return None


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over a BOUNDED driver-side row list (callers pin
    page-/shortlist-sized sets only): a true LocalRelation when the
    schema is atomic/array-of-atomic (zero tasks per action), else one
    RDD slice."""
    rows = list(rows)
    if rows:
        out = _values_local_df(spark, rows, schema)
        if out is not None:
            return out
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


def _unpersist_local_checkpoint(df: DataFrame) -> None:
    """Free the block storage behind a ``localCheckpoint`` DataFrame
    once nothing reads it. ``DataFrame.unpersist`` only covers
    ``persist()`` caches; the checkpoint's blocks live on the
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


def collect_or_checkpoint(df: DataFrame, max_rows: int):
    """``(rows, None, n)`` when ``df`` has at most ``max_rows`` rows,
    else ``(None, checkpoint, n)``; ``n`` is the exact row count.

    ``df`` is checkpointed once, eagerly, and the count rides that
    materialization job (an ``Observation``), so the caller's lineage
    runs once whichever route wins. At or below the bound the
    checkpoint is collected (Arrow, when the session enables it) into a
    pandas frame and freed; above it, the checkpoint is returned for
    the distributed plan to read, and no row is gathered into one
    task."""
    obs = Observation()
    ckpt = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    n = obs.get["n"]
    if n > max_rows:
        return None, ckpt, n
    rows = ckpt.toPandas()
    _unpersist_local_checkpoint(ckpt)
    return rows, None, n
