"""Crash-safe table commits for file-backed sinks.

Round-1 staging swaps had a crash window: between
``os.replace(data, old)`` and ``os.replace(staging, data)`` the table
does not exist, and a streaming checkpoint that already recorded the
batch as committed would resume from only-new files — silent data
loss. A leftover ``*_old``/staging directory from a crash also broke
the next swap.

Two remedies, both POSIX-rename-atomic:

- **Versioned publish** (`publish_version` / `current_version_dir`):
  data lives in ``data_v{N}`` directories under a table root; the
  committed version is whatever the ``CURRENT`` pointer file names.
  Publishing = write the new directory, then atomically rename a tmp
  pointer over ``CURRENT``. There is no moment where the table is
  missing; a crash leaves at worst an unreferenced directory, removed
  by `cleanup_unpublished` on the next run. This is the single-node
  analog of a Delta/Iceberg commit log (one pointer instead of a log),
  and maps to `_delta_log`/metastore pointer swaps on a cluster
  (ref eu_raw_to_cleansed_merge.py:62-69 staging-table transaction).

- **Swap recovery** (`recover_swap`): for plain-path tables whose
  contract is "this directory IS the parquet table", the in-place
  swap keeps a ``*__old`` backup; `recover_swap` runs before any swap
  and restores the backup if a previous crash left the target missing,
  then clears stale backup/staging dirs so the swap cannot collide.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

CURRENT = "CURRENT"
MANIFEST = "MANIFEST.json"
SEGMENTS_DIR = "segments"
COMMIT_LOCK = "COMMIT.lock"
# hash-bucket partition column for key-bucketed segments: every base/
# delta/rewrite file of a component whose reconstruct spec carries
# "buckets": N lives under <dir>/__sg_bucket=<pmod(hash(keys), N)>/, so
# the merge-on-read fold can run per-bucket with ZERO Exchange — the
# key shuffle is paid once per epoch at write (O(batch)), never at read
# (round-5 verdict #1; the bucketed-OPTIMIZE layout of Delta/Hudi).
BUCKET_COL = "__sg_bucket"


def _read_pointer(root: str) -> list[str]:
    """The committed-version manifest: first line = current version
    directory name, subsequent lines = RETAINED older versions (newest
    first). A round-2-era single-line file reads as a one-entry
    manifest — fully backward compatible."""
    ptr = os.path.join(root, CURRENT)
    try:
        with open(ptr, encoding="utf-8") as f:
            return [ln.strip() for ln in f if ln.strip()]
    except FileNotFoundError:
        return []


def current_version_dir(root: str) -> str | None:
    """The committed data directory, or None if nothing published."""
    names = _read_pointer(root)
    if not names:
        return None
    path = os.path.join(root, names[0])
    return path if os.path.isdir(path) else None


def list_versions(root: str) -> list[str]:
    """Committed + retained version directory names, newest first —
    the time-travel surface (Delta's DESCRIBE HISTORY analog for this
    pointer-file layout)."""
    return [
        n for n in _read_pointer(root) if os.path.isdir(os.path.join(root, n))
    ]


def version_dir(root: str, version: str | int) -> str:
    """Resolve a retained version to its directory path. ``version``
    is a directory name (``data_v7``) or an integer suffix (``7``).
    Raises KeyError for versions not retained (vacuumed or never
    committed) — time travel only reaches what retention kept."""
    name = f"data_v{version}" if isinstance(version, int) else version
    if name not in list_versions(root):
        raise KeyError(
            f"version {name!r} is not retained under {root!r}; "
            f"available: {list_versions(root)} (either it aged out of "
            "retention — raise keep_last at publish time — or that "
            "number was never committed: a writer that loses a commit "
            "race burns its claimed epoch, so numeric gaps between "
            "retained versions are normal under multi-writer contention)"
        )
    return os.path.join(root, name)


def segment_path(root: str, name: str) -> str:
    """An immutable segment directory under the shared segment store.
    Segments are written once and then only ever referenced by version
    manifests — the file-layout move that bounds streaming-sink write
    amplification to O(batch), not O(table) (Delta/Iceberg data files
    play the same role under their commit logs)."""
    return os.path.join(root, SEGMENTS_DIR, name)


def _has_parquet(path: str) -> bool:
    """True if the directory holds at least one parquet part file WITH
    ROWS (recursively — a key-bucketed segment keeps its files under
    ``__sg_bucket=i/`` subdirectories). Spark usually writes no part
    file for an empty DataFrame (reading such a directory fails schema
    inference), but a plan with an exchange above the empty source —
    an empty ``distinct()``, say — can emit a schema-only 0-row part;
    both cases are "no data": writers use this to drop empty segments
    from manifests (round 11: the 0-row case previously made an
    empty-id delete publish a real-looking delta segment). The row
    check reads footers only (KBs), never data pages."""
    import pyarrow.parquet as pq

    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    n = pq.ParquetFile(
                        os.path.join(dirpath, f)
                    ).metadata.num_rows
                except Exception:
                    n = 1  # unreadable footer: treat as data, not noop
                if n > 0:
                    return True
    return False


def bucket_expr(keys: list[str], n: int):
    """The deterministic bucket id of a row: ``pmod(hash(keys), n)``.
    Murmur3 ``F.hash`` is stable across sessions/executors/epochs, so
    every write of a key lands in the same bucket forever — the
    co-partitioning invariant bucketed reads rely on."""
    from pyspark.sql import functions as F

    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(int(n)))


def _write_maybe_bucketed(df, sdir: str, spec: dict | None, align: bool = False) -> None:
    """Write a segment, hash-bucketed on the merge keys when the
    component's reconstruct spec carries ``buckets``. The bucket column
    is recomputed from the keys (never trusted from input — a
    partition-discovered int column survives reads) and written as a
    ``partitionBy`` directory level. ``align=True`` skips the O(rows)
    repartition for inputs whose partitions already correspond 1:1 to
    buckets (the per-bucket fold of a compaction), so the rewrite adds
    no shuffle; the default shuffles once on the bucket id — O(batch)
    at the sink, the one-time price that makes every subsequent read
    exchange-free."""
    n = (spec or {}).get("buckets")
    if not n:
        df.write.mode("overwrite").parquet(sdir)
        return
    from pyspark.sql import functions as F  # noqa: F401 - bucket_expr

    out = df.drop(BUCKET_COL).withColumn(
        BUCKET_COL, bucket_expr(spec["keys"], int(n))
    )
    if not align:
        out = out.repartition(int(n), BUCKET_COL)
    out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(sdir)


def _merged_segment_schema(paths: list[str]):
    """Driver-side union-by-name schema of segment roots, from ONE
    parquet footer per root — segments are single-writer and therefore
    schema-uniform inside, so one footer (KBs) is authoritative for a
    whole directory. This is the Delta/Iceberg "schema lives in the
    log, not in the files" move applied at read time: Spark's
    ``mergeSchema`` inference is a cluster JOB that opens every file's
    footer before the query proper starts — per segment-union read,
    per serve — while this is a handful of driver-side footer opens.
    Field order is first-appearance over ``paths`` (base before
    deltas, the same order the old merge produced); files missing a
    later-added column read it as NULL exactly as ``mergeSchema`` did.
    Returns None (caller falls back to mergeSchema inference) on any
    type conflict — commit-time schema enforcement rejects those, so
    hitting one means an out-of-band write and Spark's own error
    message is the right outcome — or unreadable footer."""
    import pyarrow as pa

    fields: dict[str, object] = {}
    try:
        import pyarrow.parquet as pq

        for p in paths:
            fschema = None
            for dirpath, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    if f.endswith(".parquet"):
                        fschema = pq.ParquetFile(
                            os.path.join(dirpath, f)
                        ).schema_arrow
                        break
                if fschema is not None:
                    break
            if fschema is None:
                continue  # no data files: contributes no columns
            for fld in fschema:
                prev = fields.get(fld.name)
                if prev is None:
                    fields[fld.name] = fld.type
                elif prev != fld.type:
                    return None  # type conflict: let Spark report it
        if not fields:
            return None
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(
            pa.schema([pa.field(n, t) for n, t in fields.items()])
        )
    except Exception:
        return None


def _read_segment_union(spark, paths: list[str]):
    """Read segment/base directories that MAY carry ``__sg_bucket=``
    partition levels. Spark refuses partition discovery across multiple
    root paths ("please set basePath ... load them separately and then
    union"), so bucketed multi-root reads go per-root + unionByName;
    everything else keeps the single multi-root read. The internal
    bucket column is dropped either way.

    The schema is derived driver-side from segment footers
    (`_merged_segment_schema`) whenever possible: an explicit schema
    skips Spark's mergeSchema inference job entirely — one fewer
    cluster job per segment read, which at serving time (several
    segment unions per query) is the difference between a serve being
    scheduling-bound and data-bound. Behavior is unchanged: columns
    absent from older files read as NULL either way."""
    def _is_bucketed(p: str) -> bool:
        try:
            return any(c.startswith(BUCKET_COL + "=") for c in os.listdir(p))
        except (FileNotFoundError, NotADirectoryError):
            return False

    schema = _merged_segment_schema(paths)

    def _reader():
        if schema is not None:
            return spark.read.schema(schema)
        return spark.read.option("mergeSchema", "true")

    if len(paths) == 1 or not any(_is_bucketed(p) for p in paths):
        return _reader().parquet(*paths).drop(BUCKET_COL)
    dfs = [_reader().parquet(p).drop(BUCKET_COL) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _stat_encode(v):
    """Canonical JSON-portable encoding of a min/max statistic value.
    ints/floats/bools/strs pass through; dates and timestamps become
    ISO-8601 strings (which compare lexicographically in time order, so
    interval overlap tests stay valid). Returns None for types we will
    not prune on."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None  # bool min/max is useless for pruning; skip
    if isinstance(v, (int, float, str)):
        if isinstance(v, float) and v != v:  # NaN-poisoned stats
            return None
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def collect_parquet_stats(path: str) -> dict[str, list]:
    """Per-column ``[min, max]`` for every parquet file under ``path``,
    merged from FOOTER row-group statistics — zero data pages read.
    This is the write-time half of manifest data skipping (the Delta
    ``stats`` / Iceberg manifest-metrics analog): the sink records the
    result next to each segment reference so a filtered read can drop
    whole segments without touching storage at all. Columns missing
    stats in ANY row group (or of non-portable types) are omitted —
    absent stats mean "cannot prune", never "prune".
    """
    import pyarrow.parquet as pq

    merged: dict[str, list] = {}
    poisoned: set[str] = set()
    for dirpath, _dirs, files in os.walk(path):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(dirpath, fname)).metadata
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    name = col.path_in_schema
                    if "." in name or name in poisoned:
                        continue  # nested leaves: not prunable columns
                    st = col.statistics
                    lo = _stat_encode(st.min) if st and st.has_min_max else None
                    hi = _stat_encode(st.max) if st and st.has_min_max else None
                    if lo is None or hi is None:
                        poisoned.add(name)
                        merged.pop(name, None)
                        continue
                    got = merged.get(name)
                    if got is None:
                        merged[name] = [lo, hi]
                    else:
                        try:
                            got[0] = min(got[0], lo)
                            got[1] = max(got[1], hi)
                        except TypeError:  # mixed types across files
                            poisoned.add(name)
                            merged.pop(name, None)
    return merged


BLOOM_BITS = 4096  # 512-byte bitset per column per segment in the manifest
BLOOM_K = 4  # hash probes; ~1% FPR at ~500 distinct keys, degrades safely


def _bloom_positions_expr(col: str):
    """Spark-side k bloom bit positions for a column value: the first 8
    hex chars of md5(value_str + "#b{i}") mod BLOOM_BITS. md5 (not
    xxhash64) so the DRIVER can probe the same positions with hashlib —
    write-side and read-side must agree bit-for-bit."""
    from pyspark.sql import functions as F

    s = F.col(col).cast("string")
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(s, F.lit(f"#b{i}"))), 1, 8),
                16,
                10,
            ).cast("long")
            % BLOOM_BITS
            for i in range(BLOOM_K)
        ]
    )


def _bloom_probe_positions(value) -> list[int] | None:
    """Driver-side positions for an equality-predicate value, or None
    when the value's string rendering is not guaranteed to match
    Spark's cast-to-string (then the bloom must not prune)."""
    import hashlib

    if isinstance(value, bool) or not isinstance(value, (int, str)):
        return None  # float/date/bool renderings differ across engines
    s = str(value)
    return [
        int(hashlib.md5(f"{s}#b{i}".encode()).hexdigest()[:8], 16)
        % BLOOM_BITS
        for i in range(BLOOM_K)
    ]


def segment_key_bloom(df, cols: list[str]) -> dict[str, str]:
    """Per-column bloom bitset (hex) over a segment's key values —
    the manifest point-lookup index. min/max stats cannot prune an
    equality probe on a hash-distributed key (every segment spans the
    whole range); the bloom can, with ~1% false positives that cost a
    harmlessly-kept segment. SCALE-SAFE BUILD: each key row maps to k
    bit positions and only DISTINCT POSITIONS are collected — the
    driver sees at most BLOOM_BITS rows regardless of segment size,
    never the keys themselves."""
    from pyspark.sql import functions as F

    out = {}
    for c in cols:
        positions = (
            df.where(F.col(c).isNotNull())
            .select(F.explode(_bloom_positions_expr(c)).alias("p"))
            .distinct()
            .collect()
        )
        mask = 0
        for r in positions:
            mask |= 1 << int(r.p)
        out[c] = f"{mask:0{BLOOM_BITS // 4}x}"
    return out


def _bloom_excludes(blooms: dict | None, predicates: dict) -> bool:
    """True if some equality predicate's value provably misses the
    segment per its bloom. Range predicates, missing blooms, and
    non-portable value types never exclude."""
    if not blooms:
        return False
    for col, (lo, hi) in predicates.items():
        if lo is None or lo != hi:
            continue  # bloom answers equality only
        hexmask = blooms.get(col)
        if hexmask is None:
            continue
        probes = _bloom_probe_positions(lo)
        if probes is None:
            continue
        mask = int(hexmask, 16)
        if not all((mask >> p) & 1 for p in probes):
            return True
    return False


def manifest_stats(
    root: str, prior: dict | None, segments: list[str]
) -> dict[str, dict]:
    """Per-segment min/max stats map for a component's read list:
    carried forward from the prior manifest where recorded (segments
    are immutable, so prior stats never go stale), computed from the
    just-written segment's parquet footers otherwise. Recording this
    in the manifest makes `read_version(..., predicates=...)` pruning
    METADATA-ONLY — at 100 TB a filtered read consults one small JSON
    instead of opening N segment footers over the object store."""
    prior = prior or {}
    out = {}
    for s in segments:
        got = prior.get(s)
        out[s] = (
            got
            if got is not None
            else collect_parquet_stats(segment_path(root, s))
        )
    return out


def collect_parquet_rows(path: str) -> int:
    """Exact row count for every parquet file under ``path``, summed
    from footer metadata — zero data pages read."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fname in files:
            if fname.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(dirpath, fname)
                ).metadata.num_rows
    return total


def manifest_rows(
    root: str, prior: dict | None, segments: list[str]
) -> dict[str, int]:
    """Per-segment exact row counts for the manifest (carried forward
    for immutable prior segments, footer-summed for new ones) — the
    Delta per-file numRecords analog that makes COUNT(*) answerable
    from metadata."""
    prior = prior or {}
    return {
        s: (
            prior[s]
            if s in prior
            else collect_parquet_rows(segment_path(root, s))
        )
        for s in segments
    }


def version_row_count(
    root: str, version: str | int | None = None, subdir: str | None = None
) -> int | None:
    """METADATA-ONLY ``COUNT(*)`` of a component, or None when the
    manifest cannot answer exactly (then run a real count). Exact for:
    an append component (sum of per-segment counts) and a COLLAPSED
    merge-on-read component without tombstones (its one segment is
    one-row-per-key by construction). An uncompacted merge-on-read
    read list, or a collapsed one whose spec carries a ``delete_col``
    (physical tombstone rows are filtered at read), cannot be counted
    without the fold — returning a wrong number would be worse than
    returning None. At 100 TB this answers the most common audit query
    (row count per snapshot / time-travel version) with one small JSON
    read instead of a cluster job."""
    if version is None:
        path = current_version_dir(root)
        if path is None:
            raise FileNotFoundError(f"nothing published under {root!r}")
    else:
        path = version_dir(root, version)
    components = read_manifest(root, os.path.basename(path))
    if components is None:
        return None  # plain parquet version: no recorded counts
    comp = components.get(subdir or "")
    if comp is None:
        return None
    rows = comp.get("rows")
    if rows is None or set(rows) < set(comp.get("segments", [])):
        return None  # older manifest without counts
    if comp.get("base"):
        return None  # version-local base has no recorded count
    spec = comp.get("reconstruct")
    if spec is None:
        return sum(rows[s] for s in comp["segments"])
    if comp.get("collapsed") and spec.get("delete_col") is None:
        return sum(rows[s] for s in comp["segments"])
    return None


def manifest_blooms(
    spark, root: str, prior: dict | None, segments: list[str], cols: list[str]
) -> dict[str, dict]:
    """Per-segment key blooms for a component's read list: carried
    forward from the prior manifest (segments are immutable), computed
    by one scan of the just-written segment otherwise."""
    prior = prior or {}
    out = {}
    for s in segments:
        got = prior.get(s)
        out[s] = (
            got
            if got is not None
            else segment_key_bloom(
                spark.read.parquet(segment_path(root, s)), cols
            )
        )
    return out


def _stats_exclude(stats: dict[str, list], predicates: dict) -> bool:
    """True if the segment's [min, max] intervals PROVE it holds no row
    satisfying the conjunctive predicates ({col: (lo, hi)}, None ends
    open). Missing stats for a column → that clause cannot exclude."""
    for col, (lo, hi) in predicates.items():
        got = stats.get(col)
        if got is None:
            continue
        try:
            if lo is not None and _stat_encode(lo) > got[1]:
                return True
            if hi is not None and _stat_encode(hi) < got[0]:
                return True
        except TypeError:
            continue  # predicate/stat type mismatch: never prune
    return False


def _prune_component_paths(
    root: str, cur: str, comp: dict, spec: dict | None, predicates: dict | None
) -> list[str]:
    """The component's read list with statistically-excluded entries
    dropped. Safety rule: for a merge-on-read component (``spec``),
    only MERGE-KEY predicates prune — a key wholly outside the
    predicate range contributes nothing to the post-filter fold, while
    a non-key predicate must see every version of a key and so never
    prunes. Append components prune on any column. Manifest ``stats``
    are used when the writer recorded them; otherwise footers are read
    as a fallback (still no data pages). At least one path is always
    kept so downstream reads retain a schema — the residual filter
    makes an over-kept segment harmless."""
    named: list[tuple[str, str]] = []
    if comp.get("base"):
        named.append(("__base__", os.path.join(cur, comp["base"])))
    named.extend((s, segment_path(root, s)) for s in comp.get("segments", []))
    paths = [p for _n, p in named]
    if not predicates:
        return paths
    prunable = (
        {k: v for k, v in predicates.items() if k in set(spec["keys"])}
        if spec
        else predicates
    )
    if not prunable:
        return paths
    recorded = comp.get("stats") or {}
    recorded_blooms = comp.get("blooms") or {}
    keep = []
    for name, p in named:
        stats = recorded.get(name)
        if stats is None:
            stats = collect_parquet_stats(p)
        if _stats_exclude(stats, prunable):
            continue
        # point lookups: min/max can't prune a hash-distributed key
        # (every segment spans the range) but the manifest bloom can
        if _bloom_excludes(recorded_blooms.get(name), prunable):
            continue
        keep.append(p)
    return keep or paths[:1]


def _predicate_expr(predicates: dict | None):
    """Conjunctive Spark Column for ``{col: (lo, hi)}`` range predicates
    (inclusive, None ends open), or None when there is nothing to
    filter. This is the residual filter matching ``_stats_exclude``:
    pruning drops segments the filter would empty anyway, so
    prune + residual ≡ filter over the full read."""
    from pyspark.sql import functions as F

    expr = None
    for col, (lo, hi) in (predicates or {}).items():
        clause = None
        if lo is not None:
            clause = F.col(col) >= F.lit(lo)
        if hi is not None:
            upper = F.col(col) <= F.lit(hi)
            clause = upper if clause is None else (clause & upper)
        if clause is not None:
            expr = clause if expr is None else (expr & clause)
    return expr


def _apply_predicates(df, predicates: dict | None):
    expr = _predicate_expr(predicates)
    return df if expr is None else df.filter(expr)


def _equality_key_values(spec: dict, predicates: dict | None) -> dict | None:
    """{key: value} when the predicates pin EVERY merge key to a single
    value (the point-lookup shape), else None."""
    vals = {}
    for k in spec["keys"]:
        pred = (predicates or {}).get(k)
        if pred is None or pred[0] is None or pred[0] != pred[1]:
            return None
        vals[k] = pred[0]
    return vals


def literal_local_relation(spark):
    """A one-row TRUE LocalRelation (``VALUES (1)``) for evaluating
    foldable literal expressions: unlike ``spark.range(1)`` (an RDD
    stage) or ``SELECT 1`` (OneRowRelation, which whole-stage codegen
    still executes as a 1-task job), a Project of foldable expressions
    over a LocalRelation is evaluated DRIVER-SIDE by Catalyst's
    ConvertToLocalRelation — ``.first()``/``.collect()``/broadcast
    builds launch ZERO jobs (optimization round 12, guide §5.2:
    metadata math belongs on the driver; job-count verified)."""
    return spark.sql("VALUES (1)")


def _target_bucket(spark, sample_path: str, spec: dict, vals: dict) -> int | None:
    """The ONE bucket a fully-pinned key can live in, computed through
    the SAME bucket_expr the writer used — literals are cast to the
    table's actual column types first because Murmur3 hashes int and
    long differently, so an uncast Python int literal would silently
    probe the wrong bucket. Returns None when a key column is missing
    from the sample schema (schema evolution edge: never prune on
    uncertainty).

    Evaluated over a one-row LocalRelation (`literal_local_relation`)
    with the key types from a DRIVER-SIDE footer read: the fully-
    foldable projection collapses driver-side, so a point lookup costs
    zero extra cluster jobs (was one 1-row job + one footer-inference
    job per read)."""
    from pyspark.sql import functions as F

    schema = _merged_segment_schema([sample_path])
    if schema is None:
        schema = spark.read.parquet(sample_path).schema
    by_name = {f.name: f.dataType for f in schema.fields}
    cols = []
    for k in spec["keys"]:
        if k not in by_name:
            return None
        cols.append(F.lit(vals[k]).cast(by_name[k]).alias(k))
    row = (
        literal_local_relation(spark)
        .select(*cols)
        .select(bucket_expr(spec["keys"], int(spec["buckets"])).alias("b"))
        .first()
    )
    return int(row.b)


def bucketed_reconstruct(
    spark,
    paths: list[str],
    spec: dict,
    keep_seq: bool = False,
    pre_filter=None,
    only_bucket: int | list[int] | None = None,
):
    """Exchange-free merge-on-read fold over key-bucketed base+delta
    directories: one union branch per bucket, each reading ONLY that
    bucket's leaf dirs across all inputs and coalesced to a single
    partition — a bucket wholly contains every version of its keys, so
    the latest-per-key window per branch is globally correct, and
    Spark's planner sees the window's ClusteredDistribution satisfied
    by the single partition: NO Exchange anywhere in the plan (the
    bucketed-join execution model; parallelism = ``spec["buckets"]``,
    sized at table-creation time like any bucketed layout).

    ``only_bucket`` restricts the fold to ONE bucket's leaf dirs — the
    point-lookup path: when every merge key is pinned to a single
    value, that key can only live in ``pmod(hash(keys), n)``, so the
    other n-1 buckets' files are never listed, let alone read. A
    LIST/SET of bucket ids restricts to that subset — the batch-lookup
    shape (e.g. the text index upsert's corpus-stats correction probes
    exactly the batch's key buckets)."""
    n = int(spec["buckets"])
    branches = []
    if only_bucket is None:
        bucket_ids = range(n)
    elif isinstance(only_bucket, int):
        bucket_ids = [int(only_bucket)]
    else:
        bucket_ids = sorted({int(b) for b in only_bucket})
    per_bucket: dict[int, list[str]] = {}
    for i in bucket_ids:
        leaf = [os.path.join(p, f"{BUCKET_COL}={i}") for p in paths]
        leaf = [p for p in leaf if os.path.isdir(p)]
        if leaf:
            per_bucket[i] = leaf
    # ONE schema inference for the whole fold, then every branch reads
    # with the schema pinned: the per-branch mergeSchema inference this
    # replaces re-listed files and re-read footers once PER BUCKET at
    # DataFrame-construction time — ~n_buckets × (listing + footer)
    # rounds of driver latency on every bucketed read (doclen folds,
    # point lookups, upsert stats corrections). Schema evolution is
    # add-only here (evolve_component_schema rejects type conflicts),
    # so a pinned superset schema nulls absent columns exactly like
    # mergeSchema did.
    merged_schema = None
    if per_bucket:
        # driver-side union-by-name from one footer per leaf dir
        # (optimization round 12, guide §5/§7.3): the Spark mergeSchema
        # inference this replaces constructed a full reader over every
        # leaf (listing + footer reads through the JVM) once per fold
        # construction; schema evolution here is add-only (see
        # _merged_segment_schema), so one footer per leaf dir merged by
        # name is the identical superset schema. Falls back to the old
        # inference on any conflict/unreadable footer.
        merged_schema = _merged_segment_schema(
            [p for leaf in per_bucket.values() for p in leaf]
        )
        if merged_schema is None:
            merged_schema = (
                spark.read.option("mergeSchema", "true")
                .parquet(*[p for leaf in per_bucket.values() for p in leaf])
                .schema
            )
    for i, leaf in per_bucket.items():
        df = spark.read.schema(merged_schema).parquet(*leaf).coalesce(1)
        if pre_filter is not None:
            # merge-key predicate: commutes with the per-key fold, so
            # filtering before the window pushes down to the scan
            df = df.filter(pre_filter)
        branches.append(reconstruct_latest(df, spec, keep_seq=keep_seq))
    if not branches:
        if only_bucket is not None:
            # the pinned key's bucket dir exists nowhere — the key is
            # provably absent; empty result with the table's schema
            df = _read_segment_union(spark, paths).limit(0)
            return reconstruct_latest(df, spec, keep_seq=keep_seq)
        raise FileNotFoundError(
            f"no bucketed data under any of {paths!r} (expected "
            f"{BUCKET_COL}=i leaf dirs)"
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out


def small_key_fold(
    spark,
    root: str,
    version: str,
    subdir: str | None,
    key_values,
    max_ids: int = 1024,
):
    """Bounded-IN latest-per-key fold of ONE manifest component as a
    SINGLE-READER plan — the point/batch-lookup twin of
    `bucketed_reconstruct` (optimization round 13, r12-VERDICT item 3).

    A page-label lookup of ≤fetch_k ids through the general bucketed
    fold builds a union of n_buckets (scan → sort → window) branches —
    a ~140-node plan whose EXECUTION is pure scheduling overhead for a
    handful of rows (measured 0.75 s / 3 jobs / 19 tasks for 15 ids at
    sf0.1). For a lookup bounded by ``max_ids`` the same answer comes
    from one segment-union scan with the IN predicate pushed to
    parquet (row-group pruned via the min/max stats), coalesced to a
    single partition — the surviving rows are O(|ids| · versions) —
    and ONE latest-per-key window that the single partition satisfies
    with no Exchange (the `bucketed_reconstruct` branch shape, so
    nothing in the plan leaves reusable shuffle output behind: every
    action re-reads the parquet inputs).

    Equivalence: the segment union reads the same row multiset as the
    per-bucket branches (buckets partition the keys); the IN predicate
    selects whole keys, so it commutes with the fold; and one global
    fold equals the per-bucket folds because no key spans buckets.

    Returns None when not applicable — caller falls back to the
    general read: no manifest, unknown component, no latest_by_key
    spec, a composite merge key, or more ids than ``max_ids``."""
    from pyspark.sql import functions as F

    vals = sorted(set(key_values))
    if len(vals) > max_ids:
        return None
    path = version_dir(root, version)
    components = read_manifest(root, os.path.basename(path))
    if components is None:
        return None
    comp = components.get(subdir or "")
    if comp is None:
        return None
    spec = comp.get("reconstruct")
    if not spec or spec.get("kind") != "latest_by_key":
        return None
    if len(spec.get("keys", [])) != 1:
        return None
    paths = _component_paths(root, path, comp)
    if not paths:
        return None
    key = spec["keys"][0]
    df = _read_segment_union(spark, paths)
    if key not in df.columns:
        return None
    df = df.filter(
        F.col(key).isin(vals) if vals else F.lit(False)
    )
    if comp.get("collapsed"):
        # already one row per key (post-compaction): tombstone-filter
        # and drop the seq column, exactly the read_version collapsed
        # path — no window at all
        dcol = spec.get("delete_col")
        if dcol is not None and dcol in df.columns:
            df = df.filter(~F.coalesce(F.col(dcol), F.lit(False)))
        return df.drop(spec["seq_col"])
    return reconstruct_latest(df.coalesce(1), spec)


def write_manifest(root: str, dirname: str, components: dict) -> None:
    """Write a version's component manifest (fsync'd; the version is
    not visible until ``publish_version`` repoints CURRENT, so no
    atomicity is needed here).

    ``components`` maps a component name ('' for the default table) to
    ``{"base": <subdir of the version dir or None>,
       "segments": [<names under root/segments>],
       "reconstruct": <None or a latest-by-key spec>}``.
    """
    path = os.path.join(root, dirname, MANIFEST)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"components": components}, f)
        f.flush()
        os.fsync(f.fileno())


def read_manifest(root: str, dirname: str) -> dict | None:
    """The component manifest of a version directory, or None for a
    plain (pre-manifest) parquet version."""
    try:
        with open(os.path.join(root, dirname, MANIFEST), encoding="utf-8") as f:
            return json.load(f)["components"]
    except FileNotFoundError:
        return None


def noop_components(components: dict) -> dict:
    """The predecessor's components with every ``changes`` list reset —
    what a commit that changed NOTHING must publish. Copying the prior
    manifest verbatim would re-advertise the predecessor's delta under
    the new epoch: `change_feed`/`poll_changes` attribute each walked
    epoch's ``changes`` to THAT epoch, so a verbatim copy re-delivers
    the previous commit's rows a second time (round-10 ADVICE)."""
    return {
        name: {**comp, "changes": []} for name, comp in components.items()
    }


def reconstruct_latest(df, spec: dict, keep_seq: bool = False):
    """Merge-on-read reconstruction for delta-segmented upsert tables:
    latest row per key across base+delta segments. The winning row is
    the one a strict left-fold of conditional upserts would keep — max
    ``order_desc`` key, ties broken toward the EARLIEST segment (the
    incumbent wins a tie, matching ``upsert_full_conditional``'s
    strict ``>``). NULL order keys sort last under ``desc`` and so
    never displace a non-NULL incumbent.

    Tombstone deletes (``spec["delete_col"]``, optional): a delete is a
    row whose flag column is true; it competes in the same
    latest-per-key fold, and a key whose WINNING row is a tombstone is
    absent from the reconstructed table (the Delta MERGE ``WHEN MATCHED
    DELETE`` / merge-on-read delete-vector analog). A later upsert with
    a newer order key resurrects the key. ``keep_seq=True`` (the
    compaction path) keeps winning tombstones as physical rows so the
    deletion survives compaction; the read path filters them."""
    from pyspark.sql import functions as F

    from . import cleanse

    order = [F.col(c).desc() for c in spec["order_desc"]] + [
        F.col(spec["seq_col"]).asc()
    ]
    out = cleanse.dedup_first_wins(df, spec["keys"], order)
    dcol = spec.get("delete_col")
    if dcol is not None and dcol in out.columns and not keep_seq:
        out = out.filter(~F.coalesce(F.col(dcol), F.lit(False)))
    return out if keep_seq else out.drop(spec["seq_col"])


# --------------------------------------------------- schema evolution
#
# Write-time schema policy for delta-segmented components (the Delta
# schema-enforcement + mergeSchema-evolution analog). Segments are
# immutable and reads union them with mergeSchema, so the ONLY changes
# that can be accepted at write time are the ones parquet schema
# merging can reconcile at read time:
#
#   - ADD a column: accepted automatically. Older segments read the
#     column as NULL (mergeSchema), exactly Delta's
#     ``mergeSchema=true`` behavior.
#   - OMIT a non-protected column: accepted. The new segment's rows
#     read the column as NULL; history keeps its values.
#   - CHANGE a column's type: REJECTED at commit time with the column
#     and both types named — Spark's parquet schema merge fails on any
#     type conflict, so accepting the write would poison every future
#     read (an error at read time, long after the writer is gone).
#     Safe WIDENINGS (int→bigint, float→double, …) go through the
#     explicit ``widen_component_type`` maintenance rewrite, which
#     casts the full history in one collapse so segments never
#     disagree (the Delta type-widening table-feature analog).
#   - Merge keys / order columns / the delete flag: must be present in
#     every batch (an upsert without its keys is meaningless) and can
#     never change type.
#
# The component's logical schema rides the manifest (``"schema"``:
# [[name, simpleString], ...]) so enforcement is metadata-only — no
# footer reads on the commit path. Tables written before this policy
# carry no recorded schema; their first commit adopts the batch schema
# and enforcement starts from there.


class SchemaEvolutionError(ValueError):
    """An incoming batch's schema cannot evolve the component's."""


_TYPE_WIDENINGS = {
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"),
    ("smallint", "double"),
    ("int", "double"),
    ("date", "timestamp"),
    ("date", "timestamp_ntz"),
}


def is_safe_widening(old_type: str, new_type: str) -> bool:
    """True when every value of ``old_type`` embeds losslessly in
    ``new_type`` (Spark ``simpleString`` names)."""
    return (old_type, new_type) in _TYPE_WIDENINGS


def evolve_component_schema(prior_comp, batch_schema, spec: dict) -> list:
    """Validate an incoming batch against the component's recorded
    schema per the policy above; returns the EVOLVED schema list
    (prior order, new columns appended) to record in the new manifest.
    Raises `SchemaEvolutionError` on type conflicts or missing
    protected columns. Internal columns (seq, bucket) are stamped after
    this check and are never part of the logical schema."""
    protected = list(spec.get("keys", [])) + list(spec.get("order_desc", []))
    dcol = spec.get("delete_col")
    if dcol:
        protected.append(dcol)
    batch_cols = [(f.name, f.dataType.simpleString()) for f in batch_schema.fields]
    batch_map = dict(batch_cols)
    missing = [c for c in protected if c not in batch_map]
    if missing:
        raise SchemaEvolutionError(
            f"batch is missing protected column(s) {missing}: merge keys, "
            "order columns, and the delete flag must be present in every "
            "batch"
        )
    prior_schema = (prior_comp or {}).get("schema")
    if not prior_schema:
        return [[n, t] for n, t in batch_cols]
    prior_map = {n: t for n, t in prior_schema}
    conflicts = [
        (n, prior_map[n], t)
        for n, t in batch_cols
        if n in prior_map and prior_map[n] != t
    ]
    if conflicts:
        details = ", ".join(
            f"{n!r}: table has {old}, batch has {new}"
            + (
                " (safe widening — run widen_component_type first)"
                if is_safe_widening(old, new)
                else ""
            )
            for n, old, new in conflicts
        )
        raise SchemaEvolutionError(
            f"type change(s) rejected: {details}. Immutable segments are "
            "read with mergeSchema, which cannot reconcile conflicting "
            "types; widen the table explicitly (widen_component_type) or "
            "cast the batch to the table's types"
        )
    evolved = [list(x) for x in prior_schema]
    evolved += [[n, t] for n, t in batch_cols if n not in prior_map]
    return evolved


def component_logical_schema(root: str, component: str = "") -> list | None:
    """The recorded logical schema of the CURRENT version's component
    ([[name, type], ...]) or None for pre-policy tables."""
    cur = current_version_dir(root)
    if cur is None:
        raise FileNotFoundError(f"nothing published under {root!r}")
    comp = (read_manifest(root, os.path.basename(cur)) or {}).get(component)
    return None if comp is None else comp.get("schema")


def widen_component_type(
    spark, root: str, col: str, new_type: str, component: str = ""
) -> str:
    """Explicit type-widening migration (the Delta type-widening
    table-feature analog): rewrite the component's full history in one
    maintenance collapse with ``col`` cast to ``new_type``, so every
    retained segment agrees on the new type and subsequent batches may
    commit it directly. Only lossless widenings are allowed; narrowing
    (bigint→int, double→float, anything→string) is rejected — it can
    silently destroy committed values, which is exactly what the policy
    exists to prevent. Widening a merge KEY on a bucketed component is
    rejected too: bucket files are laid out by the key's hash, and
    Spark hashes int and bigint differently, so the old bucket
    alignment would silently break point-lookup pruning."""
    cur = current_version_dir(root)
    if cur is None:
        raise FileNotFoundError(f"nothing published under {root!r}")
    comp = (read_manifest(root, os.path.basename(cur)) or {}).get(component)
    if comp is None:
        raise ValueError(f"no segmented component {component!r} under {root!r}")
    spec = comp.get("reconstruct") or {}
    schema = comp.get("schema")
    old_type = None
    if schema:
        old_type = dict((n, t) for n, t in schema).get(col)
        if old_type is None:
            raise SchemaEvolutionError(f"column {col!r} not in component schema")
        if old_type == new_type:
            return cur  # no-op
        if not is_safe_widening(old_type, new_type):
            raise SchemaEvolutionError(
                f"{col!r}: {old_type} -> {new_type} is not a lossless "
                "widening; a narrowing rewrite must be an explicit new "
                "table, not an in-place migration"
            )
    if col in (spec.get("keys") or []) and spec.get("buckets"):
        raise SchemaEvolutionError(
            f"cannot widen merge key {col!r} on a bucketed component: "
            "int/bigint hash differently, which would break the bucket "
            "alignment point lookups rely on; rebuild the table instead"
        )
    from pyspark.sql import functions as F  # txn keeps pyspark imports local

    def rewrite(comp_, spec_, cur_):
        folded, align = _folded_component(spark, root, cur_, comp_, spec_)
        if old_type is None:
            # pre-policy manifest (no recorded schema): the widening
            # policy must still hold, so validate against the column's
            # ACTUAL stored type — otherwise a narrowing cast
            # (bigint->int, double->float) would rewrite the history
            # lossily through the unvalidated gap (round-7 ADVICE,
            # medium)
            actual = {
                f.name: f.dataType.simpleString() for f in folded.schema.fields
            }.get(col)
            if actual is None:
                raise SchemaEvolutionError(
                    f"column {col!r} not in component {component!r}"
                )
            if actual != new_type and not is_safe_widening(actual, new_type):
                raise SchemaEvolutionError(
                    f"{col!r}: {actual} -> {new_type} is not a lossless "
                    "widening; a narrowing rewrite must be an explicit new "
                    "table, not an in-place migration"
                )
        return folded.withColumn(col, F.col(col).cast(new_type)), None, align

    def check(comp_, spec_):
        if not spec_:
            raise ValueError(
                "widen_component_type requires a latest-by-key reconstruct spec"
            )

    vdir, _payload = _maintenance_rewrite(
        spark, root, component, "widen", rewrite, check
    )
    return vdir


# Plan memo for manifest-bearing version reads (optimization round 12,
# guide §7.3 — driver time IS the serving bottleneck for index reads):
# a published version is immutable (segments are write-once, the
# manifest defines the version), so the DataFrame PLAN for
# (session, root, version, component) is the same object every serve —
# constructing it fresh cost ~1.8 s of py4j/plan-building per grouped
# serve (profiled: 16 per-bucket readers + windows for one doclen
# fold). This caches ONLY the logical plan — a prepared statement —
# never rows: every action over the returned frame re-reads the
# parquet inputs. The key carries the manifest file's (mtime_ns, size)
# so a root that is deleted and rebuilt in place under the same
# version names (fixtures do this) can never serve a stale file
# listing. Bounded LRU; reads with predicates/time-travel bypass it
# (their plans are parameter-dependent).
_READ_PLAN_MEMO: dict[tuple, object] = {}
_READ_PLAN_MEMO_MAX = 256


def _memo_get(key):
    """LRU hit: move the entry to the end so hot plans survive eviction."""
    hit = _READ_PLAN_MEMO.pop(key, None)
    if hit is not None:
        _READ_PLAN_MEMO[key] = hit
    return hit


def _memo_put(key, value):
    """LRU insert: evict the OLDEST entries (dicts preserve insertion
    order), never the whole dict — a serving workload crossing the bound
    must not drop every hot plan at once."""
    while len(_READ_PLAN_MEMO) >= _READ_PLAN_MEMO_MAX:
        _READ_PLAN_MEMO.pop(next(iter(_READ_PLAN_MEMO)))
    _READ_PLAN_MEMO[key] = value
    return value


def version_plan_memo(spark, root: str, version_name: str, tag: str, builder,
                      extra=None):
    """Memoize a PURE PLAN builder over one immutable published
    version (same contract and same key discipline as the
    `read_version` memo above): ``builder()`` must only construct
    DataFrames — no collects, no checkpoints — so the cached object is
    a prepared statement whose every action still reads the parquet
    inputs. Keyed on the version's manifest stat, so an in-place
    rebuild of the root can never serve a stale file listing; falls
    back to calling ``builder()`` uncached when the manifest is
    unreadable.

    ``extra`` (optimization round 13) extends the key with a HASHABLE
    query-dependent component — the prepared-statement discipline over
    query-DEPENDENT subtrees (key on (version, terms / probe ids /
    lookup ids); plans only): a serving workload that re-issues the
    same terms against the same immutable version reuses the compiled
    plan instead of re-deriving it, and every action still reads the
    parquet inputs. The LRU bound caps the per-process plan count.

    A builder that returns None (the lookup does not apply) is not
    cached: the entry would only evict hot plans."""
    try:
        st = os.stat(os.path.join(root, version_name, MANIFEST))
        key = (
            spark.sparkContext.applicationId,
            root,
            version_name,
            tag,
            extra,
            st.st_mtime_ns,
            st.st_size,
            # st_ino disambiguates an in-place delete-and-rebuild that
            # lands inside one mtime tick with an identical-size manifest
            st.st_ino,
        )
    except OSError:
        return builder()
    hit = _memo_get(key)
    if hit is None:
        hit = builder()
        if hit is not None:
            _memo_put(key, hit)
    return hit


def read_version(
    spark,
    root: str,
    version: str | int | None = None,
    subdir: str | None = None,
    predicates: dict | None = None,
    as_of_timestamp: float | None = None,
):
    """Time-travel read: the parquet contents of a retained version
    (default: current). ``subdir`` selects a component of a composite
    commit (e.g. the streaming corpus dedup publishes corpus/ fps/
    bands/ together).

    Manifest-bearing versions (the segmented streaming-sink layout)
    resolve to the union of the version's base component and its
    referenced immutable segments — read with ``mergeSchema`` so a
    segment written after a schema-evolving batch (new column) unions
    cleanly with older segments (missing column → NULL), the Delta
    ``mergeSchema`` automatic-evolution analog; a ``reconstruct`` spec
    additionally applies the latest-by-key merge-on-read collapse.
    Plain parquet version directories read as before.

    ``predicates`` ({col: (lo, hi)}, inclusive, None ends open —
    equality is ``(v, v)``) turns the read into a DATA-SKIPPING scan:
    segments whose recorded min/max stats prove no row can match are
    dropped from the read list before Spark ever sees them (the Delta
    stats-skipping analog — at 100 TB this is the difference between
    listing a handful of files and scanning a table), and the same
    predicates are applied as a residual filter so the result is
    exactly ``read_version(...).filter(pred)``. On merge-on-read
    components only merge-KEY predicates prune (and push below the
    fold); non-key predicates apply after reconstruction, where they
    are semantically unambiguous."""
    if as_of_timestamp is not None:
        # Delta TIMESTAMP AS OF: resolve to the version that was
        # current at that wall-clock (commit stamps written at publish)
        if version is not None:
            raise ValueError("pass either version or as_of_timestamp, not both")
        path = os.path.join(root, version_at_timestamp(root, as_of_timestamp))
    elif version is None:
        path = current_version_dir(root)
        if path is None:
            raise FileNotFoundError(f"nothing published under {root!r}")
    else:
        path = version_dir(root, version)
    components = read_manifest(root, os.path.basename(path))
    if components is None:
        if subdir is not None:
            path = os.path.join(path, subdir)
        return _apply_predicates(spark.read.parquet(path), predicates)
    memo_key = None
    if predicates is None:
        try:
            st = os.stat(os.path.join(path, MANIFEST))
            memo_key = (
                spark.sparkContext.applicationId,
                root,
                os.path.basename(path),
                subdir,
                st.st_mtime_ns,
                st.st_size,
                st.st_ino,
            )
        except OSError:
            memo_key = None
        hit = _memo_get(memo_key) if memo_key is not None else None
        if hit is not None:
            return hit

    def _memo(df):
        if memo_key is not None:
            _memo_put(memo_key, df)
        return df

    name = subdir or ""
    if name not in components:
        raise KeyError(
            f"component {name!r} not in version manifest; available: "
            f"{sorted(components)}"
        )
    comp = components[name]
    if not _component_paths(root, path, comp):
        raise FileNotFoundError(
            f"version {os.path.basename(path)!r} component {name!r} is empty"
        )
    spec = comp.get("reconstruct")
    paths = _prune_component_paths(root, path, comp, spec, predicates)
    if spec and comp.get("collapsed"):
        # The component's one segment is already one-row-per-key by
        # construction (a compaction/expiry rewrite IS the latest-by-key
        # fold), so the merge-on-read window — an O(table) hash exchange
        # on EVERY read — is provably redundant: tombstone-filter and
        # drop the seq column, nothing else. At 100 TB this is the
        # difference between a scan and a full shuffle per consumer
        # (round-4 verdict #1; Delta's read-optimized-after-compaction
        # analog). tests/test_plans.py pins the no-Exchange plan.
        from pyspark.sql import functions as F

        read_paths = paths
        if spec.get("buckets"):
            vals = _equality_key_values(spec, predicates)
            if vals is not None:
                b = _target_bucket(spark, paths[0], spec, vals)
                if b is not None:
                    # point lookup: only the pinned key's bucket leafs
                    leafs = [
                        os.path.join(p, f"{BUCKET_COL}={b}") for p in paths
                    ]
                    leafs = [p for p in leafs if os.path.isdir(p)]
                    read_paths = leafs or read_paths
        df = _read_segment_union(spark, read_paths)
        dcol = spec.get("delete_col")
        if dcol is not None and dcol in df.columns:
            df = df.filter(~F.coalesce(F.col(dcol), F.lit(False)))
        # one row per key already: every predicate is a plain filter,
        # applied at the scan where parquet row-group skipping sees it
        return _memo(_apply_predicates(df, predicates).drop(spec["seq_col"]))
    if spec:
        # merge-key predicates commute with the latest-per-key fold
        # (they select whole keys), so they push below the window and
        # reach the parquet scan; non-key predicates must see every
        # version of a key and apply only AFTER reconstruction.
        keys = set(spec["keys"])
        key_preds = {k: v for k, v in (predicates or {}).items() if k in keys}
        rest_preds = {
            k: v for k, v in (predicates or {}).items() if k not in keys
        }
        if spec.get("buckets"):
            # key-bucketed layout: the fold runs per bucket with zero
            # Exchange even BETWEEN compactions (round-5 verdict #1) —
            # the key shuffle was paid once at write time. A fully
            # pinned key additionally restricts the fold to its ONE
            # bucket (1/n of the files listed, cluster-free lookup).
            vals = _equality_key_values(spec, predicates)
            only = (
                _target_bucket(spark, paths[0], spec, vals)
                if vals is not None
                else None
            )
            out = bucketed_reconstruct(
                spark,
                paths,
                spec,
                pre_filter=_predicate_expr(key_preds),
                only_bucket=only,
            )
        else:
            df = spark.read.option("mergeSchema", "true").parquet(*paths)
            out = reconstruct_latest(_apply_predicates(df, key_preds), spec)
        return _memo(_apply_predicates(out, rest_preds))
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    return _memo(_apply_predicates(df, predicates))


COMMIT_TS = "_committed_at"
EXTERNAL_PINS = "PINNED"


def read_external_pins(root: str) -> list[str]:
    """Version names an EXTERNAL composition layer has pinned on this
    table (the named-vector collection pins one index version per
    space, operators/collection.py): one name per line in
    ``root/PINNED``. Missing file = no external pins."""
    try:
        with open(os.path.join(root, EXTERNAL_PINS), encoding="utf-8") as f:
            return [ln.strip() for ln in f if ln.strip()]
    except FileNotFoundError:
        return []


def set_external_pins(root: str, names: list[str]) -> None:
    """Declare the externally-pinned version names of this table
    (atomic replace). Retention (`try_publish_version`) keeps a pinned
    version in the pointer beyond ``keep_last`` and GC
    (`cleanup_unpublished`/`vacuum`) never collects it — so a
    composition layer whose pin lags CURRENT (a collection whose pin
    publish crashed, then several space commits) can always restore or
    serve the pinned version. An empty list clears the pins."""
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, EXTERNAL_PINS + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(dict.fromkeys(names)))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, EXTERNAL_PINS))


def _retained_with_pins(root: str, retained: list[str]) -> list[str]:
    """Append externally-pinned versions retention would otherwise
    truncate. Pins re-enter BELOW the keep_last window sorted by
    descending numeric epoch: a pin was published before everything
    the truncation kept (pointers evolve by prepending), so the
    feed-read invariant `_check_numeric_chain` relies on — strictly
    decreasing numeric epochs in pointer order — is preserved; the
    non-numeric (restore/maintenance) names feeds skip sort last."""
    extra = [
        n
        for n in read_external_pins(root)
        if n not in retained and os.path.isdir(os.path.join(root, n))
    ]
    if extra:
        extra.sort(
            key=lambda n: (
                _numeric_epoch(n) is None,
                -(_numeric_epoch(n) or 0),
            )
        )
        retained = retained + extra
    return retained


def _stamp_commit_ts(root: str, dirname: str, op: str | None = None) -> None:
    """Record the commit wall-clock (and the operation kind when the
    writer names one) in the version dir, written immediately before
    the pointer swap (a stamp in a dir whose swap then loses the CAS
    is removed with the dir — harmless). Powers timestamp time travel
    (`version_at_timestamp`, the Delta ``TIMESTAMP AS OF`` analog) and
    `describe_history` (the DESCRIBE HISTORY analog)."""
    path = os.path.join(root, dirname, COMMIT_TS)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"ts": time.time(), "op": op}, f)
        f.flush()
        os.fsync(f.fileno())


def commit_info(root: str, version: str | int) -> dict | None:
    """``{"ts": <float>, "op": <str | None>}`` for a retained version,
    or None for versions published before stamping existed."""
    path = os.path.join(version_dir(root, version), COMMIT_TS)
    try:
        with open(path, encoding="utf-8") as f:
            info = json.load(f)
    except FileNotFoundError:
        return None
    return {"ts": float(info["ts"]), "op": info.get("op")}


def commit_timestamp(root: str, version: str | int) -> float | None:
    """The recorded commit wall-clock of a retained version, or None
    for versions published before stamping existed."""
    info = commit_info(root, version)
    return None if info is None else info["ts"]


def describe_history(root: str) -> list[dict]:
    """DESCRIBE HISTORY analog: one dict per retained version, newest
    first — ``version``, ``committed_at`` (None pre-stamping),
    ``operation`` (the writer-declared kind: 'stream_upsert',
    'batch_upsert', 'compact', 'widen', 'restore', 'ann_build', …;
    None when the writer declared none), ``is_current``. Driver-side
    metadata only — no Spark job, no parquet footer reads; history
    depth is the publisher's ``keep_last``."""
    names = list_versions(root)
    out = []
    for i, name in enumerate(names):
        info = commit_info(root, name) or {}
        out.append(
            {
                "version": name,
                "committed_at": info.get("ts"),
                "operation": info.get("op"),
                "is_current": i == 0,
            }
        )
    return out


def version_at_timestamp(root: str, ts: float) -> str:
    """The version that was CURRENT at wall-clock ``ts``: the newest
    retained version committed at or before it (Delta ``TIMESTAMP AS
    OF``). Raises KeyError when ``ts`` predates every retained commit
    — reading an older state than retention kept would be silently
    wrong, the same contract as `version_dir` for vacuumed versions.
    Unstamped (pre-feature) versions are treated as older than every
    stamped one: they can still resolve as the final fallback."""
    names = list_versions(root)  # newest first (pointer order)
    if not names:
        raise FileNotFoundError(f"nothing published under {root!r}")
    oldest_unstamped = None
    for name in names:
        stamped = commit_timestamp(root, name)
        if stamped is None:
            oldest_unstamped = name  # keep scanning: newest-first order
            continue
        if stamped <= ts:
            return name
    if oldest_unstamped is not None:
        return oldest_unstamped
    raise KeyError(
        f"no retained version of {root!r} was committed at or before "
        f"ts={ts}; earliest retained commit is "
        f"{commit_timestamp(root, names[-1])} (raise keep_last to retain "
        "more history)"
    )


def publish_version(
    root: str,
    dirname: str,
    keep_last: int = 1,
    grace_seconds: float = 0.0,
    op: str | None = None,
) -> str:
    """Atomically point ``CURRENT`` at ``root/dirname`` (which must be
    fully written), then garbage-collect unreferenced versions.

    ``keep_last`` is the retention knob: the manifest keeps the new
    version plus the ``keep_last - 1`` most recent predecessors, which
    stay readable via ``read_version`` (time travel). The default 1
    keeps only the new version — the original space-frugal behavior.
    Retention is part of the SAME atomic pointer write, so a crash
    can never orphan a retained version or retain an orphan.

    ``grace_seconds`` is forwarded to `cleanup_unpublished`: the
    default 0 is the single-writer behavior; pass a positive window
    when ANY other writer (a concurrent maintenance rewrite, a second
    sink) may hold a freshly written, not-yet-published version dir —
    otherwise this publish's GC can delete it mid-commit.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    retained = [dirname] + [n for n in _read_pointer(root) if n != dirname]
    retained = retained[:keep_last]
    _stamp_commit_ts(root, dirname, op=op)
    tmp = os.path.join(root, CURRENT + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(retained))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, CURRENT))
    cleanup_unpublished(root, grace_seconds=grace_seconds)
    return os.path.join(root, dirname)


def vacuum(
    root: str, grace_seconds: float = 3600.0, dry_run: bool = False
) -> list[str]:
    """Operational ``VACUUM`` entry point (Delta's VACUUM [DRY RUN]
    analog): remove — or with ``dry_run=True`` just LIST — version
    directories and segments no retained version references. The
    default 1h grace protects any concurrent writer's in-flight
    commit (vs `cleanup_unpublished`'s 0-grace single-writer default,
    which every publish already runs automatically); ``dry_run``
    answers "how much would this reclaim" before an operator commits
    to deleting anything on a shared table."""
    return cleanup_unpublished(
        root, grace_seconds=grace_seconds, dry_run=dry_run
    )


def cleanup_unpublished(
    root: str, grace_seconds: float = 0.0, dry_run: bool = False
) -> list[str]:
    """Remove data_v* directories not referenced by the pointer
    manifest (stale partial writes from crashed commits, or versions
    aged out of retention), then segment directories referenced by no
    retained version (orphans of a crash between segment write and
    publish, or segments whose last referencing version aged out).
    Returns removed names.

    ``grace_seconds`` skips unreferenced version directories modified
    within the window — REQUIRED when multiple writers race commits
    (`commit_with_retry`): a competitor's fully-written-but-not-yet-
    published version dir is indistinguishable from a crashed one by
    name alone, and deleting it would fail a commit that was about to
    succeed. This is the same young-file protection as Delta/Iceberg
    vacuum retention; 0 keeps the original single-writer behavior.
    ``dry_run=True`` returns the same list without deleting anything
    (the `vacuum` wrapper's DRY RUN). Externally-pinned versions
    (`set_external_pins` — a collection's pin on one index version per
    space) are never collected, nor are the segments their manifests
    reference: a pin that lags CURRENT must stay restorable."""
    keep = set(_read_pointer(root)) | {
        n
        for n in read_external_pins(root)
        if os.path.isdir(os.path.join(root, n))
    }
    removed = []
    if not os.path.isdir(root):
        return removed
    now = time.time()
    for name in os.listdir(root):
        if name.startswith("data_v") and name not in keep:
            path = os.path.join(root, name)
            if grace_seconds > 0:
                try:
                    if now - os.path.getmtime(path) < grace_seconds:
                        continue
                except OSError:
                    continue
            if not dry_run:
                shutil.rmtree(path, ignore_errors=True)
            removed.append(name)
    seg_root = os.path.join(root, SEGMENTS_DIR)
    if os.path.isdir(seg_root):
        referenced: set[str] = set()
        for name in keep:
            components = read_manifest(root, name)
            for comp in (components or {}).values():
                referenced.update(comp.get("segments", []))
                # change-feed records survive rewrites: a compaction may
                # drop an epoch's delta from `segments` while its
                # `changes` entry still backs txn.change_feed reads
                referenced.update(comp.get("changes", []))
                # payload-only overlays (index set_payload) are
                # deliberately NOT in the read list — a payload row
                # winning the fold would null codes/doclen — so they
                # are referenced only from the index metadata blocks;
                # GC must honor those references or a vacuum after the
                # committing version ages out deletes a live overlay
                for blk in ("ann", "tix"):
                    b = comp.get(blk) or {}
                    referenced.update(b.get("payload_deltas", []) or [])
        for name in os.listdir(seg_root):
            if name not in referenced:
                spath = os.path.join(seg_root, name)
                if grace_seconds > 0:
                    try:
                        if now - os.path.getmtime(spath) < grace_seconds:
                            continue
                    except OSError:
                        continue
                if not dry_run:
                    shutil.rmtree(spath, ignore_errors=True)
                removed.append(os.path.join(SEGMENTS_DIR, name))
    stale_tmp = os.path.join(root, CURRENT + ".tmp")
    if os.path.exists(stale_tmp):
        # report in BOTH modes so dry-run output is exactly what a real
        # vacuum reclaims (round-6 advice)
        if not dry_run:
            os.remove(stale_tmp)
        removed.append(CURRENT + ".tmp")
    return removed


class PointerConflict(RuntimeError):
    """The pointer object changed between read and conditional write —
    the store-level signal a ConditionalPutStore raises; publish code
    translates it into CommitConflict for the OCC retry loop."""


class ConditionalPutStore:
    """Pointer-store contract for object stores WITHOUT atomic rename
    but WITH conditional writes (S3 ``If-None-Match``/``If-Match``, GCS
    ``x-goog-if-generation-match``, ABFS ETags) — the Delta LogStore
    analog for this layout's single CURRENT pointer.

    ``read()`` returns ``(lines, tag)`` where ``tag`` identifies the
    exact pointer generation observed (``None`` = pointer absent);
    ``put_if(lines, expected_tag)`` atomically replaces the pointer
    ONLY if it still carries ``expected_tag`` (``None`` = must not
    exist yet), raising `PointerConflict` otherwise. With those two
    primitives the whole flock critical section in `_commit_lock`
    disappears: the compare-and-swap happens inside the store's one
    conditional PUT. See DEPLOYMENT.md "Object-store commits".
    """

    def read(self) -> tuple[list[str], object]:
        raise NotImplementedError

    def put_if(self, lines: list[str], expected_tag: object) -> None:
        raise NotImplementedError


class FileConditionalPutStore(ConditionalPutStore):
    """Reference ConditionalPutStore over the local CURRENT file.

    ``put_if``'s read-check-replace runs under an flock on a pointer
    lock file, making it an actual correct compare-and-swap on a local
    (or NFSv4+/HDFS-mounted) filesystem — POSIX alone has no CAS on
    file content, and the pre-round-6 unlocked check window let two
    simultaneous put_if calls both pass the tag check. Real object
    stores get the same atomicity from the store's conditional write
    (S3 If-Match, GCS generation-match) with no lock at all; this class
    pins that protocol for the S3-class implementation and lets tests
    inject races deterministically."""

    def __init__(self, root: str):
        self.root = root

    def _path(self) -> str:
        return os.path.join(self.root, CURRENT)

    def read(self) -> tuple[list[str], object]:
        import hashlib

        try:
            with open(self._path(), encoding="utf-8") as f:
                content = f.read()
        except FileNotFoundError:
            return [], None
        lines = [ln.strip() for ln in content.splitlines() if ln.strip()]
        return lines, hashlib.sha256(content.encode("utf-8")).hexdigest()

    @contextmanager
    def _cas_lock(self):
        """Serialize the check-then-replace window (the object store's
        conditional PUT does this natively; a local file needs flock).
        A distinct lock file from COMMIT_LOCK so pointer CAS and the
        legacy flock publish path can never deadlock each other."""
        import fcntl

        os.makedirs(self.root, exist_ok=True)
        fd = os.open(
            os.path.join(self.root, "POINTER.lock"),
            os.O_CREAT | os.O_RDWR,
            0o644,
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
            fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    def put_if(self, lines: list[str], expected_tag: object) -> None:
        with self._cas_lock():
            _cur, tag = self.read()
            if tag != expected_tag:
                raise PointerConflict(
                    f"pointer generation changed: expected {expected_tag!r}, "
                    f"found {tag!r}"
                )
            tmp = self._path() + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write("\n".join(lines))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._path())


class CommitConflict(RuntimeError):
    """Another writer committed between this writer's read of CURRENT
    and its publish attempt. Carries the version the loser observed and
    the one actually committed so callers can rebase and retry."""

    def __init__(self, expected: str | None, actual: str | None):
        self.expected = expected
        self.actual = actual
        super().__init__(
            f"commit conflict: expected current version {expected!r}, "
            f"found {actual!r} — rebase on the new current and retry"
        )


@contextmanager
def _commit_lock(root: str, timeout: float = 180.0):
    """Serialize the read-compare-rename critical section of a CAS
    publish. Advisory `flock` on a lock file: released automatically
    if the holder dies, so a crashed committer can never wedge the
    table. Single-node analog of the conditional-put (If-Match ETag)
    an object store provides natively — on S3/GCS/ABFS the lock
    disappears and `try_publish_version` becomes one conditional PUT
    of the pointer object (exactly how Delta coordinates S3 commits).

    The timeout is deliberately generous: the critical section is
    milliseconds, so a timeout only fires on a wedged NFS mount or a
    machine so oversubscribed the waiter is starved — 30s proved
    reachable on a saturated CI box (full pytest + a parallel
    local[32] Spark job), and a spurious TimeoutError surfaces to
    callers as a commit failure, which is strictly worse than waiting
    out the load."""
    import fcntl

    os.makedirs(root, exist_ok=True)
    fd = os.open(os.path.join(root, COMMIT_LOCK), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        deadline = time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"commit lock on {root!r} not acquired in {timeout}s"
                    )
                time.sleep(0.005)
        yield
        fcntl.flock(fd, fcntl.LOCK_UN)
    finally:
        os.close(fd)


def try_publish_version(
    root: str,
    dirname: str,
    expected_current: str | None,
    keep_last: int = 1,
    grace_seconds: float = 3600.0,
    pointer_store: ConditionalPutStore | None = None,
    op: str | None = None,
) -> str:
    """Optimistic-concurrency publish: atomically repoint ``CURRENT``
    at ``root/dirname`` ONLY if the committed version is still
    ``expected_current`` (None = table not yet published). Raises
    `CommitConflict` otherwise — the caller re-reads the new current,
    rebases its work, and retries (`commit_with_retry` wraps the loop).

    This closes the one table-format gap `publish_version` left open:
    two independent writers (a streaming sink + a nightly compaction,
    two backfill jobs) can now both commit safely — the loser LOSES
    (detects the conflict) instead of silently clobbering the winner's
    version, the lost-update anomaly last-writer-wins allows.

    GC uses ``grace_seconds`` (default 1h) so a competitor's freshly
    written, not-yet-published version directory survives this
    writer's cleanup; pass 0 only in single-writer contexts.

    ``pointer_store`` selects the commit mechanism: ``None`` (default)
    uses the flock + atomic-rename critical section — correct on
    local/HDFS, NOT on S3-class object stores (no atomic rename, no
    mutual exclusion). Passing a `ConditionalPutStore` replaces the
    lock with one conditional PUT of the pointer: the store's own
    compare-and-swap serializes racing committers (Delta LogStore
    style), with `PointerConflict` surfacing here as `CommitConflict`.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    if pointer_store is None:
        with _commit_lock(root):
            names = _read_pointer(root)
            actual = names[0] if names else None
            if actual != expected_current:
                raise CommitConflict(expected_current, actual)
            retained = _retained_with_pins(
                root,
                ([dirname] + [n for n in names if n != dirname])[:keep_last],
            )
            _stamp_commit_ts(root, dirname, op=op)
            tmp = os.path.join(root, CURRENT + ".tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write("\n".join(retained))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(root, CURRENT))
    else:
        names, tag = pointer_store.read()
        actual = names[0] if names else None
        if actual != expected_current:
            raise CommitConflict(expected_current, actual)
        retained = _retained_with_pins(
            root,
            ([dirname] + [n for n in names if n != dirname])[:keep_last],
        )
        _stamp_commit_ts(root, dirname, op=op)
        try:
            pointer_store.put_if(retained, tag)
        except PointerConflict:
            now_names, _ = pointer_store.read()
            raise CommitConflict(
                expected_current, now_names[0] if now_names else None
            ) from None
    cleanup_unpublished(root, grace_seconds=grace_seconds)
    return os.path.join(root, dirname)


def next_version_name(root: str) -> str:
    """A fresh ``data_v{N}`` name strictly above every version name on
    disk (published, retained, or in flight) — racing writers may both
    pick the same N, but only one's CAS publish can win it."""
    n = -1
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith("data_v"):
                suffix = name[len("data_v"):]
                if suffix.isdigit():
                    n = max(n, int(suffix))
    return f"data_v{n + 1}"


def commit_with_retry(
    root: str,
    build,
    keep_last: int = 1,
    max_attempts: int = 10,
    grace_seconds: float = 3600.0,
    pointer_store: ConditionalPutStore | None = None,
    op: str | None = None,
) -> str:
    """Serializable read-modify-write commit loop over the versioned
    table: ``build(current_dir_or_None, new_dir)`` must write the new
    version's full contents into ``new_dir`` derived from the current
    version it was shown; the CAS publish then succeeds only if that
    current is STILL current. On conflict the half-built directory is
    removed and ``build`` re-runs against the new current — every
    committed version is therefore derived from its immediate
    predecessor (no lost updates), the OCC loop of every log-structured
    table format. Returns the committed version directory."""
    for _ in range(max_attempts):
        if pointer_store is None:
            with _commit_lock(root):
                names = _read_pointer(root)
                expected = names[0] if names else None
                while True:
                    dirname = next_version_name(root)
                    new_dir = os.path.join(root, dirname)
                    try:
                        os.makedirs(new_dir)
                        break
                    except FileExistsError:
                        continue  # claimed outside the lock → next name
        else:
            # no lock needed for the pointer read: a stale read just
            # loses the CAS publish below. The version NAME, however,
            # must be claimed exclusively — two racing writers that both
            # read the same pointer would both derive the same
            # next_version_name(), build into the SAME directory, and
            # the loser's conflict cleanup would delete the winner's
            # just-published data. Exclusive makedirs is the local
            # claim primitive (FileExistsError = name taken, rescan);
            # an object-store deployment claims the name with a
            # conditional-create marker (If-None-Match) the same way.
            names, _tag = pointer_store.read()
            expected = names[0] if names else None
            while True:
                dirname = next_version_name(root)
                new_dir = os.path.join(root, dirname)
                try:
                    os.makedirs(new_dir)
                    break
                except FileExistsError:
                    continue  # competitor's dir now on disk → next name
        try:
            try:
                build(
                    os.path.join(root, expected) if expected else None, new_dir
                )
            except CommitConflict:
                raise
            except BaseException:
                # a failed build (validation error, job failure) must
                # not leave its claimed half-built dir behind — safe to
                # remove here because nothing unpublished is visible
                # and this writer exclusively owns the name; publish-
                # side exceptions are NOT cleaned (after the pointer
                # swap the dir is live data)
                shutil.rmtree(new_dir, ignore_errors=True)
                raise
            return try_publish_version(
                root,
                dirname,
                expected,
                keep_last=keep_last,
                grace_seconds=grace_seconds,
                pointer_store=pointer_store,
                op=op,
            )
        except CommitConflict:
            # safe: new_dir was exclusively created by THIS writer (the
            # flock branch allocates under the lock; the store branch
            # claims via exclusive makedirs), so it cannot name another
            # writer's published version
            shutil.rmtree(new_dir, ignore_errors=True)
    raise RuntimeError(
        f"commit on {root!r} lost {max_attempts} consecutive races; "
        "raise max_attempts or serialize the writers"
    )


def recover_swap(path: str, staging_suffixes: tuple[str, ...] = ("__staging",)) -> None:
    """Repair the aftermath of a crashed in-place staging swap on a
    plain-path table: restore the ``__old`` backup if the target
    vanished mid-swap, then clear stale backup/staging directories."""
    old = path.rstrip("/") + "__old"
    if not os.path.exists(path) and os.path.exists(old):
        os.replace(old, path)
    shutil.rmtree(old, ignore_errors=True)
    for suf in staging_suffixes:
        shutil.rmtree(path.rstrip("/") + suf, ignore_errors=True)


def change_feed(
    spark,
    root: str,
    from_version: str | int,
    to_version: str | int | None = None,
    component: str = "",
) -> "object":
    """Change-feed read for delta-segmented tables (the Delta Change
    Data Feed analog): every row upserted in the commits AFTER
    ``from_version`` up to and including ``to_version`` (default:
    current), read from ONLY those epochs' recorded delta segments —
    O(changes) I/O, never a table scan, which is the whole point of a
    change feed over a 100 TB table.

    Each manifest records its epoch's delta under ``changes`` — a
    record that SURVIVES compaction (a compaction replaces the read
    list ``segments`` with a rewritten state segment, but a rewrite is
    not a change, and the feed must still surface the epoch's actual
    upserts; GC protects ``changes`` references exactly like
    ``segments``). Rows keep the sink's per-row sequence column — the
    commit epoch that produced them (the CDF ``_commit_version``
    analog). Manifests written before the ``changes`` field fall back
    to the added-segments diff, skipping rewrite segments (suffix
    ``_c*``/``_m*``).

    Version NUMBERS on the publish chain are NOT dense: a writer that
    loses a commit race burns its claimed epoch (its rows' sequence
    column and segment names were already stamped with it before the
    CAS), so retained tails like ``[5, 7, 8, 9]`` are normal under
    contention — epoch 6 never committed and carried no changes.
    Feed completeness therefore derives from the pointer's
    chain-suffix invariant (every publish PREPENDS to the retained
    list and truncation only drops the OLDEST entries, so
    ``from_version`` still being retained guarantees every later
    commit is too), never from epoch arithmetic. A feed from an epoch
    that aged out of retention raises KeyError (via `version_dir`) —
    a silently-partial change feed is worse than no feed — and a
    pointer whose numeric epochs are out of publish order (possible
    only by hand-editing) fails `_check_numeric_chain`.
    """
    _check_numeric_chain(root)
    _epoch = _numeric_epoch
    numeric = {
        e: n for n in list_versions(root) if (e := _epoch(n)) is not None
    }
    if to_version is None:
        if not numeric:
            raise FileNotFoundError(
                f"no numeric commit versions retained under {root!r}"
            )
        hi = max(numeric)
        to_name = numeric[hi]
    else:
        to_name = os.path.basename(version_dir(root, to_version))
        hi = _epoch(to_name)
    from_name = os.path.basename(version_dir(root, from_version))
    lo = _epoch(from_name)
    if lo is None or hi is None:
        raise ValueError(
            f"change_feed endpoints must be numeric commit versions, got "
            f"{from_name!r} -> {to_name!r}"
        )
    if lo > hi:
        raise ValueError(f"from_version {from_name!r} is newer than {to_name!r}")
    retained = numeric

    def _component(name: str) -> dict:
        components = read_manifest(root, name)
        if components is None:
            raise ValueError(
                f"version {name!r} is a plain parquet version (no manifest); "
                "change_feed requires the delta-segmented layout"
            )
        if component not in components:
            raise KeyError(
                f"component {component!r} not in version manifest; "
                f"available: {sorted(components)}"
            )
        return components[component]

    prev_read_list = set(_component(from_name).get("segments", []))
    # from_name resolved through version_dir above, i.e. it is still
    # retained — the chain-suffix invariant then guarantees every
    # commit after it is retained too, so the walk is complete (an
    # epoch absent from (lo, hi] was burned by a lost race, not
    # vacuumed, and burned epochs committed nothing)
    walked = sorted(k for k in retained if lo < k <= hi)
    feed_segments = _collect_feed_segments(
        root, component, retained, walked, prev_read_list
    )
    if not feed_segments:
        return _empty_feed_df(spark, root, to_name, component)
    return _read_segment_union(
        spark, [segment_path(root, s) for s in feed_segments]
    )


CURSOR_TMP_SUFFIX = ".tmp"


def read_cursor(cursor_path: str) -> int | None:
    """The last ACKED commit epoch of a change-feed consumer, or None
    for a fresh cursor (first poll reads the whole retention window)."""
    try:
        with open(cursor_path, encoding="utf-8") as f:
            return int(json.load(f)["epoch"])
    except FileNotFoundError:
        return None


def ack_cursor(cursor_path: str, epoch: int) -> None:
    """Atomically record ``epoch`` as consumed (fsync'd tmp + rename —
    the same crash-safe pointer write as ``publish_version``). Call
    ONLY after the polled DataFrame has been fully materialized
    downstream: a crash between poll and ack re-delivers the same
    epochs (at-least-once), and the rows' ``__sg_seq`` epoch column
    makes the redelivery idempotent for MERGE-shaped consumers."""
    os.makedirs(os.path.dirname(cursor_path) or ".", exist_ok=True)
    tmp = cursor_path + CURSOR_TMP_SUFFIX
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"epoch": int(epoch)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, cursor_path)


def poll_changes(
    spark,
    root: str,
    cursor_path: str,
    component: str = "",
    to_epoch: int | None = None,
) -> tuple["object", int]:
    """Checkpointed incremental change-feed consumption (the Delta
    ``readChangeFeed`` + ``Trigger.AvailableNow`` consumption model for
    this layout): return ``(changes_df, hi_epoch)`` where ``changes_df``
    holds every row upserted by the commits AFTER the cursor's last
    acked epoch up to the current epoch ``hi``, read from ONLY those
    epochs' recorded delta segments — O(changes since last poll), never
    a table scan, which is what lets a 100 TB table feed downstream
    consumers (indexers, aggregates, replicas) at micro-batch cost.

    Contract: poll → process/materialize → ``ack_cursor(path, hi)``.
    A fresh cursor (no file) reads the full retention window — every
    retained numeric commit. A cursor whose acked epoch aged out of
    retention raises KeyError (a silently-partial feed is worse than
    none; raise ``keep_last`` at the sink or poll more often) —
    detected by the acked epoch no longer being retained, NOT by
    epoch arithmetic: numeric epochs on the chain may skip values
    burned by lost commit races (see `change_feed`), and acked epochs
    are always real commits, so "acked but not retained" can only
    mean retention passed the cursor. A cursor AHEAD of
    the table (``last > hi``) raises ValueError — the table was reset
    or restored under the consumer, which must re-seed explicitly.
    ``hi == last`` returns an empty DataFrame with the feed schema and
    ``hi`` unchanged (ack is then a no-op by value).

    Restores and maintenance rewrites publish non-numeric versions and
    carry no ``changes``, so they are invisible to cursors — identical
    to ``change_feed`` semantics.

    ``to_epoch`` caps the poll at a past table epoch (the Delta
    ``readChangeFeed`` ``endingVersion`` analog): the poll delivers
    changes up to the newest retained epoch ``<= to_epoch`` and reports
    that epoch as ``hi``, letting a consumer replay history in the same
    batches it originally observed."""
    numeric = {
        e: n
        for n in list_versions(root)
        if (e := _numeric_epoch(n)) is not None
    }
    if not numeric:
        raise FileNotFoundError(
            f"no numeric commit versions retained under {root!r}"
        )
    hi = max(numeric)
    if to_epoch is not None:
        capped = [e for e in numeric if e <= to_epoch]
        if not capped:
            raise ValueError(
                f"to_epoch={to_epoch} precedes every retained commit "
                f"under {root!r} (oldest is {min(numeric)})"
            )
        hi = max(capped)
    last = read_cursor(cursor_path)
    if last is not None and last > hi:
        raise ValueError(
            f"cursor {cursor_path!r} is at epoch {last} but the table's "
            f"current epoch is {hi} — the table was reset or restored; "
            "delete the cursor to re-seed from the retention window"
        )
    if last is not None and last < hi and last not in numeric:
        raise KeyError(
            f"cursor {cursor_path!r} acked epoch {last}, which is no "
            f"longer retained under {root!r} — the consumer fell behind "
            "retention; raise keep_last at the sink or poll more often"
        )
    _check_numeric_chain(root)
    lo = last if last is not None else min(numeric) - 1
    walked = sorted(e for e in numeric if lo < e <= hi)
    prev_read_list: set[str] = set()
    if last is not None and last in numeric:
        comp0 = (read_manifest(root, numeric[last]) or {}).get(component)
        if comp0 is not None:
            prev_read_list = set(comp0.get("segments", []))
    feed_segments = _collect_feed_segments(
        root, component, numeric, walked, prev_read_list
    )
    if not feed_segments:
        return _empty_feed_df(spark, root, numeric[hi], component), hi
    return (
        _read_segment_union(
            spark, [segment_path(root, s) for s in feed_segments]
        ),
        hi,
    )


def _numeric_epoch(name: str) -> int | None:
    """Numeric commit epoch of a version name, or None for maintenance/
    restore versions (``data_vx<millis>...``) — those carry no changes
    by construction and are skipped by feeds."""
    suffix = name.rsplit("v", 1)[-1]
    return int(suffix) if suffix.isdigit() else None


def _check_numeric_chain(root: str) -> None:
    """Validate the chain-suffix invariant feed reads rely on: numeric
    epochs must be strictly decreasing in pointer (newest-first
    publish) order. Every committer PREPENDS to the retained list and
    truncation drops only the oldest entries, so a violation means the
    pointer was edited outside the commit protocol — feeds refuse to
    guess which commits are missing. Epochs are NOT required to be
    dense: a writer that loses a commit race burns its claimed number
    (rows and segments were already stamped with it), so gaps like
    ``[9, 8, 7, 5]`` are normal under multi-writer contention."""
    epochs = [
        e for n in list_versions(root) if (e := _numeric_epoch(n)) is not None
    ]
    if any(a <= b for a, b in zip(epochs, epochs[1:])):
        raise RuntimeError(
            f"retained numeric versions under {root!r} are out of publish "
            f"order ({epochs}); the pointer file was modified outside the "
            "commit protocol"
        )


def _collect_feed_segments(
    root: str,
    component: str,
    numeric: dict[int, str],
    epochs: list[int],
    prev_read_list: set[str],
) -> list[str]:
    """The change segments of ``epochs`` (ascending), with the
    pre-``changes``-manifest fallback (added non-rewrite segments vs
    the previous epoch's read list)."""
    feed_segments: list[str] = []
    for e in epochs:
        components = read_manifest(root, numeric[e])
        if components is None:
            raise ValueError(
                f"version {numeric[e]!r} is a plain parquet version (no "
                "manifest); change feeds require the delta-segmented layout"
            )
        if component not in components:
            raise KeyError(
                f"component {component!r} not in version manifest; "
                f"available: {sorted(components)}"
            )
        comp = components[component]
        if "changes" in comp:
            feed_segments.extend(comp["changes"])
        else:
            feed_segments.extend(
                s
                for s in comp.get("segments", [])
                if s not in prev_read_list
                and not s.rsplit("_", 1)[-1].startswith(("c", "m"))
            )
        prev_read_list = set(comp.get("segments", []))
    return feed_segments


def restore_version(
    root: str, version: str | int, max_attempts: int = 10
) -> str:
    """``RESTORE TABLE ... TO VERSION AS OF`` analog: publish a NEW
    version whose contents equal a retained historical version, without
    rewriting any data for segment-backed tables — the new version's
    manifest references the SAME immutable segments the historical one
    does (Delta's RESTORE is the same metadata-only trick), so at
    100 TB a bad deploy rolls back in one pointer commit. History is
    preserved: the botched versions stay retained and time-travelable
    for forensics; only CURRENT moves.

    The publish is a CAS commit against the current version observed
    (`try_publish_version`), so a concurrent sink epoch or maintenance
    rewrite surfaces as a conflict and the restore re-derives — never
    clobbering a commit it didn't see. The restore version is named
    ``data_vx<millis>`` (non-numeric): change feeds and cursors skip it
    — rows re-surfaced by a restore are NOT change events (the same
    caveat Delta documents for RESTORE + CDF).

    Plain (pre-manifest) parquet versions restore by file copy — they
    have no shared immutable segments to reference (O(version) bytes;
    an object-store deployment would use server-side copy). A
    version-local ``base`` component copies its base directory the same
    way. Restoring to the version that is already current is a no-op
    returning the current directory."""
    for attempt in range(max_attempts):
        cur = current_version_dir(root)
        if cur is None:
            raise FileNotFoundError(f"nothing published under {root!r}")
        cur_name = os.path.basename(cur)
        target = version_dir(root, version)  # KeyError if not retained
        target_name = os.path.basename(target)
        if target_name == cur_name:
            return cur
        components = read_manifest(root, target_name)
        vname = f"data_vx{int(time.time() * 1000)}a{attempt}"
        vdir = os.path.join(root, vname)
        shutil.rmtree(vdir, ignore_errors=True)
        os.makedirs(vdir)
        if components is None:
            for entry in os.listdir(target):
                src = os.path.join(target, entry)
                dst = os.path.join(vdir, entry)
                if os.path.isdir(src):
                    shutil.copytree(src, dst)
                else:
                    shutil.copy2(src, dst)
        else:
            new_components = {}
            for name, comp in components.items():
                comp = dict(comp)
                if comp.get("base"):
                    shutil.copytree(
                        os.path.join(target, comp["base"]),
                        os.path.join(vdir, comp["base"]),
                    )
                # a restore is a rewrite, never a change: feeds skip it
                comp["changes"] = []
                new_components[name] = comp
            write_manifest(root, vname, new_components)
        try:
            return try_publish_version(
                root,
                vname,
                expected_current=cur_name,
                keep_last=len(list_versions(root)) + 1,
                grace_seconds=3600.0,
                op="restore",
            )
        except CommitConflict:
            shutil.rmtree(vdir, ignore_errors=True)
    raise RuntimeError(
        f"restore on {root!r} lost {max_attempts} consecutive commit "
        "races; quiesce the writers or raise max_attempts"
    )


def _component_paths(root: str, cur: str, comp: dict) -> list[str]:
    paths = []
    if comp.get("base"):
        paths.append(os.path.join(cur, comp["base"]))
    paths.extend(segment_path(root, s) for s in comp.get("segments", []))
    return paths


def _read_component_df(spark, root: str, cur: str, comp: dict):
    """The raw base ∪ segments union of a manifest component (no
    merge-on-read fold applied; bucket column hidden)."""
    return _read_segment_union(spark, _component_paths(root, cur, comp))


def _empty_feed_df(spark, root: str, version_name: str, component: str):
    """An empty DataFrame with the FEED schema of ``component`` at
    ``version_name`` — i.e. the raw pre-reconstruct schema including
    the ``__sg_seq`` epoch and tombstone columns that every non-empty
    poll carries. Drained and non-empty polls must share a schema, so
    the schema is taken from the component's raw base/segment files
    (base-only components included — a compaction base keeps the seq
    column), never from the reconstructed ``read_version`` view."""
    comp = (read_manifest(root, version_name) or {}).get(component) or {}
    paths = _component_paths(root, os.path.join(root, version_name), comp)
    if paths:
        return _read_segment_union(spark, paths).limit(0)
    # genuinely empty component (no base, no segments): best effort —
    # the reconstructed schema is all we have
    src = read_version(spark, root, version_name, subdir=component or None)
    return spark.createDataFrame([], src.schema)


def _folded_component(spark, root: str, cur: str, comp: dict, spec: dict):
    """The latest-per-key state of a component with tombstones kept as
    physical rows (the maintenance-rewrite input). Returns
    ``(df, align)`` where ``align`` says whether partitions already
    correspond 1:1 to buckets (the exchange-free bucketed fold) so the
    rewrite's write can skip its repartition."""
    if comp.get("collapsed"):
        # already one-row-per-key: no fold needed
        return _read_component_df(spark, root, cur, comp), False
    if spec.get("buckets"):
        return (
            bucketed_reconstruct(
                spark, _component_paths(root, cur, comp), spec, keep_seq=True
            ),
            True,
        )
    return (
        reconstruct_latest(
            _read_component_df(spark, root, cur, comp), spec, keep_seq=True
        ),
        False,
    )


def _maintenance_rewrite(
    spark,
    root: str,
    component: str,
    kind: str,
    rewrite,
    check,
    tail=None,
    max_attempts: int = 10,
):
    """Shared OCC loop for maintenance rewrites (compaction, tombstone
    expiry): derive the rewritten state from the CURRENT version, write
    it as one collapsed segment + manifest-only version, and publish
    with a CAS against that same current — a sink epoch committed in
    between surfaces as `CommitConflict` and the rewrite re-runs
    against the new current instead of silently dropping the epoch's
    segment from the read list (round-5 ADVICE medium). GC inside the
    CAS publish runs with a 1h grace so a concurrent writer's in-flight
    version directory survives.

    ``rewrite(comp, spec, cur) -> (DataFrame, payload, align)``
    computes the collapsed state (``align`` as in
    `_write_maybe_bucketed`); ``check(comp, spec)`` validates
    preconditions. Returns ``(committed_dir, payload)``.

    ``tail(comp) -> list[str]`` (optional) names existing segments to
    CARRY OVER after the rewritten one — the minor-compaction shape:
    rewrite folds only a prefix of the read list, the tail's newer
    delta segments survive verbatim (their manifest stats/blooms carry
    forward), and the component stays ``collapsed=False`` because the
    merge-on-read fold is still required across new-segment ∪ tail.
    Re-evaluated per CAS attempt, so a sink epoch that lands mid-
    rewrite keeps its segment in the next attempt's tail.
    """
    for attempt in range(max_attempts):
        cur = current_version_dir(root)
        if cur is None:
            raise FileNotFoundError(f"nothing published under {root!r}")
        cur_name = os.path.basename(cur)
        components = read_manifest(root, cur_name)
        if components is None or component not in components:
            raise ValueError(
                f"version {cur_name!r} has no segmented component "
                f"{component!r}"
            )
        comp = components[component]
        spec = comp.get("reconstruct")
        check(comp, spec)
        # sibling components of a composite commit carry over verbatim —
        # only the rewritten component's read list changes. A sibling
        # whose base lives INSIDE the old version dir cannot carry over
        # (its relative path would resolve against the new dir);
        # segment-backed components (the sink's layout) always can.
        for name, sib in components.items():
            if name != component and sib.get("base"):
                raise ValueError(
                    f"component {name!r} has a version-local base and "
                    "cannot carry across a maintenance rewrite; compact "
                    "it into segments first"
                )
        folded, payload, align = rewrite(comp, spec, cur)
        tail_segs = list(tail(comp)) if tail is not None else []
        # '_x...' suffix: a rewrite, never a change (change feeds skip
        # non-numeric epochs); the attempt index keeps retry names
        # unique even within one millisecond
        epoch_tag = f"x{int(time.time() * 1000)}a{attempt}"
        seg = f"{kind}_{epoch_tag}"
        sdir = segment_path(root, seg)
        shutil.rmtree(sdir, ignore_errors=True)
        _write_maybe_bucketed(folded, sdir, spec, align=align)
        vname = f"data_v{epoch_tag}"
        vdir = os.path.join(root, vname)
        shutil.rmtree(vdir, ignore_errors=True)
        os.makedirs(vdir)
        new_components = dict(components)
        kept = ([seg] if _has_parquet(sdir) else []) + tail_segs
        internal = {spec.get("seq_col") if spec else None, BUCKET_COL}
        new_components[component] = {
            "base": None,
            "segments": kept,
            "changes": [],
            "reconstruct": spec,
            # logical schema derived from the rewritten state (a widen
            # migration CHANGES it; recording from the data is always
            # right, and pre-policy tables gain a schema here)
            "schema": [
                [f.name, f.dataType.simpleString()]
                for f in folded.schema
                if f.name not in internal
            ],
            # a full rewrite IS the latest-per-key fold; with a carried
            # tail the fold is still required across rewritten ∪ tail
            "collapsed": not tail_segs,
            # prior stats/blooms/rows carry for tail segments
            # (immutable); the just-written segment's are computed fresh
            "stats": manifest_stats(root, comp.get("stats"), kept),
            "rows": manifest_rows(root, comp.get("rows"), kept),
            # sticky: recompute blooms only for tables that opted in
            "blooms": (
                manifest_blooms(
                    folded.sparkSession,
                    root,
                    comp.get("blooms"),
                    kept,
                    spec["keys"],
                )
                if spec and kept and comp.get("blooms")
                else {}
            ),
        }
        write_manifest(root, vname, new_components)
        try:
            # preserve the caller's retention: prior versions (and
            # their change-feed records) stay readable
            committed = try_publish_version(
                root,
                vname,
                expected_current=cur_name,
                keep_last=len(list_versions(root)) + 1,
                grace_seconds=3600.0,
                op=kind,
            )
            return committed, payload
        except CommitConflict:
            shutil.rmtree(vdir, ignore_errors=True)
            shutil.rmtree(sdir, ignore_errors=True)
    raise RuntimeError(
        f"maintenance rewrite on {root!r} lost {max_attempts} consecutive "
        "commit races; quiesce the sink or raise max_attempts"
    )


def expire_tombstones(
    spark,
    root: str,
    min_epoch_to_keep: int,
    component: str = "",
) -> int:
    """Tombstone-expiry maintenance for delta-segmented tables (the
    deletion-vector vacuum analog): rewrite the table's collapsed state
    WITHOUT tombstones older than ``min_epoch_to_keep`` and publish it
    as a one-segment version. Tombstones persist through normal
    compaction by design (a deletion must not be forgotten while older
    segments — or change-feed consumers — may still reference the
    key); once every retained segment and every consumer is past an
    epoch, its tombstones are pure reclaimable weight. Run with
    ``min_epoch_to_keep`` = the oldest epoch any consumer could still
    replay (e.g. the change-feed retention horizon).

    Returns the number of tombstone rows reclaimed. The publish is a
    CAS commit (`try_publish_version` against the current version the
    rewrite was derived from): a live sink epoch that lands between
    this op's manifest read and its publish surfaces as a conflict and
    the rewrite re-runs against the new current — an unconditional
    publish here would silently drop that epoch's segment from the
    read list (a lost update). Change-feed ``changes`` records of
    RETAINED versions are untouched (the expiry segment is a rewrite,
    invisible to feeds). NOTE: a sink running concurrently must
    publish with ``grace_seconds > 0`` so its GC cannot delete this
    op's in-flight version directory (``foreach_batch_upsert_run``'s
    ``grace_seconds`` knob).
    """
    from pyspark.sql import functions as F

    def rewrite(comp, spec, cur):
        collapsed, align = _folded_component(spark, root, cur, comp, spec)
        dcol, seq = spec["delete_col"], spec["seq_col"]
        is_dead = F.coalesce(F.col(dcol), F.lit(False)) & (
            F.col(seq) < int(min_epoch_to_keep)
        )
        reclaimed = collapsed.filter(is_dead).count()
        return collapsed.filter(~is_dead), int(reclaimed), align

    def check(comp, spec):
        if not spec or "delete_col" not in spec:
            raise ValueError(
                "expire_tombstones requires a latest-by-key component with "
                "a delete_col in its reconstruct spec"
            )

    _dir, reclaimed = _maintenance_rewrite(
        spark, root, component, "expire", rewrite, check
    )
    return reclaimed


def compact_component(
    spark,
    root: str,
    component: str = "",
    sort_cols: list[str] | None = None,
    sort_files: int | None = None,
) -> str:
    """On-demand read-optimization maintenance for a delta-segmented
    component (Delta OPTIMIZE analog): fold the current base+segments to
    the latest row per key ONCE, publish it as a single segment marked
    ``collapsed`` in the manifest, and every subsequent ``read_version``
    skips the merge-on-read key window entirely — a scan instead of an
    O(table) hash exchange per consumer. Run it before read-heavy
    windows (a training job about to stream the table N times) when the
    sink's periodic ``compact_every`` epoch hasn't just fired.

    Tombstones survive as physical rows (``keep_seq=True`` fold) so the
    deletion record outlives the rewrite; collapsed reads still filter
    them. The publish is a CAS commit against the version the fold was
    derived from (see ``expire_tombstones`` — same concurrent-sink
    lost-update hazard, same fix); the version carries no ``changes``
    (a rewrite is not a change, so change feeds skip it). Returns the
    committed version directory.

    ``sort_cols`` makes the rewrite CLUSTERED (the Delta ``OPTIMIZE
    ZORDER BY`` analog, single-curve form): the collapsed state is
    range-clustered on those columns before writing, so each output
    file/row group covers a narrow value range and the parquet reader
    prunes row groups for residual (non-key) predicates in
    ``read_version(..., predicates=...)`` — manifest stats skip whole
    SEGMENTS, clustering skips ROW GROUPS inside the survivor. On a
    key-bucketed table the sort runs within each bucket partition
    (no extra shuffle, bucket alignment preserved); otherwise one
    range exchange — maintenance-time cost, amortized over every
    subsequent filtered read. ``sort_files`` pins the output file
    count (an EXPLICIT partition count also stops AQE folding a small
    rewrite into one giant row group — on a test-sized table the
    clustering would otherwise vanish into a single file). For
    multi-dimension locality pass a precomputed space-filling-curve
    column (``scale.zorder_key``).
    """
    from pyspark.sql import functions as F

    def rewrite(comp, spec, cur):
        folded, align = _folded_component(spark, root, cur, comp, spec)
        if sort_cols:
            if align:
                folded = folded.sortWithinPartitions(*sort_cols)
            else:
                cols = [F.col(c) for c in sort_cols]
                folded = (
                    folded.repartitionByRange(sort_files, *cols)
                    if sort_files is not None
                    else folded.repartitionByRange(*cols)
                ).sortWithinPartitions(*sort_cols)
                # range layout IS the clustering: _write_maybe_bucketed
                # must not re-shuffle it (unbucketed spec never does)
        return folded, None, align

    def check(comp, spec):
        if not spec:
            raise ValueError(
                "compact_component requires a latest-by-key reconstruct spec"
            )

    vdir, _payload = _maintenance_rewrite(
        spark, root, component, "compact", rewrite, check
    )
    return vdir


def compact_component_minor(
    spark, root: str, component: str = "", max_segments: int = 4
) -> str | None:
    """Size-tiered MINOR compaction (the LSM / Delta bin-packing
    analog): fold only the OLDEST delta segments into one, carrying the
    newest ``max_segments - 1`` verbatim, so the read list shrinks to
    ``max_segments`` without the full-table rewrite a major compaction
    costs. At 100 TB this is the difference between O(table) and
    O(old-prefix) maintenance I/O per run: the hot tail of recent
    micro-batch segments is untouched (its manifest stats and blooms
    carry forward), while the cold prefix — the part every read was
    re-folding — collapses once.

    Correctness: ``keep_seq=True`` preserves each surviving row's epoch
    seq, and a latest-per-key fold over a PREFIX of the segment list
    commutes with the global fold (a tail row beats a prefix row iff it
    beat every prefix version of that key — tie-to-earliest-epoch
    included), so reads over new-segment ∪ tail reconstruct the
    identical table; pinned by tests. Tombstones in the prefix survive
    as physical rows. The component stays ``collapsed=False`` (the fold
    across new ∪ tail is still required); with a key-bucketed spec the
    fold — and this rewrite itself — runs exchange-free per bucket.

    No-op (returns None) when the read list is already within
    ``max_segments``. CAS-published like every maintenance rewrite: a
    sink epoch landing mid-rewrite re-enters the loop and keeps its
    segment in the recomputed tail.
    """
    if max_segments < 2:
        raise ValueError("max_segments must be >= 2 (use compact_component)")
    cur = current_version_dir(root)
    if cur is None:
        raise FileNotFoundError(f"nothing published under {root!r}")
    components = read_manifest(root, os.path.basename(cur)) or {}
    comp0 = components.get(component)
    if comp0 is None:
        raise ValueError(
            f"version {os.path.basename(cur)!r} has no segmented component "
            f"{component!r}"
        )
    if len(comp0.get("segments", [])) <= max_segments and not comp0.get(
        "base"
    ):
        return None  # read list already short enough

    n_keep = max_segments - 1

    def tail(comp):
        return list(comp["segments"][-n_keep:])

    def rewrite(comp, spec, cur_dir):
        prefix = comp["segments"][:-n_keep]
        paths = []
        if comp.get("base"):
            paths.append(os.path.join(cur_dir, comp["base"]))
        paths.extend(segment_path(root, s) for s in prefix)
        if spec.get("buckets"):
            return (
                bucketed_reconstruct(spark, paths, spec, keep_seq=True),
                None,
                True,
            )
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        return reconstruct_latest(df, spec, keep_seq=True), None, False

    def check(comp, spec):
        if not spec:
            raise ValueError(
                "minor compaction requires a latest-by-key reconstruct spec"
            )
        if len(comp.get("segments", [])) <= n_keep and not comp.get("base"):
            raise CommitConflict(None, None)  # shrank under us: retry/no-op

    try:
        vdir, _payload = _maintenance_rewrite(
            spark, root, component, "minor", rewrite, check, tail=tail
        )
    except CommitConflict:
        return None
    return vdir


def table_info(root: str) -> dict:
    """DESCRIBE DETAIL / DESCRIBE HISTORY analog: one metadata-only
    dict describing a versioned table — retained versions, per-
    component read-list shape (segments, collapsed, bucketing, merge
    spec), byte/row totals from recorded manifest counts plus on-disk
    sizes, and which metadata layers (stats / blooms / rows) each
    component carries. Everything comes from the CURRENT pointer, the
    manifests, and os.stat — no Spark session, no data pages; cheap
    enough for dashboards to poll."""
    cur = current_version_dir(root)
    if cur is None:
        raise FileNotFoundError(f"nothing published under {root!r}")
    cur_name = os.path.basename(cur)
    versions = list_versions(root)

    def _dir_bytes(path: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(path):
            for fname in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, fname))
                except OSError:
                    pass
        return total

    components = read_manifest(root, cur_name)
    out: dict = {
        "root": root,
        "current_version": cur_name,
        "versions_retained": versions,
        "format": "manifest" if components is not None else "plain-parquet",
        "components": {},
    }
    if components is None:
        out["bytes"] = _dir_bytes(cur)
        return out
    for name, comp in components.items():
        spec = comp.get("reconstruct")
        segs = comp.get("segments", [])
        seg_bytes = {s: _dir_bytes(segment_path(root, s)) for s in segs}
        rows = comp.get("rows") or {}
        out["components"][name] = {
            "segments": segs,
            "n_segments": len(segs),
            "base": comp.get("base"),
            "collapsed": bool(comp.get("collapsed")),
            "merge_keys": list(spec["keys"]) if spec else None,
            "buckets": spec.get("buckets") if spec else None,
            "delete_col": spec.get("delete_col") if spec else None,
            "bytes": sum(seg_bytes.values()),
            "bytes_per_segment": seg_bytes,
            "rows_recorded": {s: rows[s] for s in segs if s in rows},
            "exact_row_count": version_row_count(root, subdir=name or None),
            "has_stats": set(comp.get("stats") or {}) >= set(segs) and bool(segs),
            "has_blooms": set(comp.get("blooms") or {}) >= set(segs)
            and bool(segs),
            "change_segments": comp.get("changes", []),
        }
    return out


def snapshot_table(root: str, dest_root: str, version: str | int | None = None) -> str:
    """Export ONE retained version as a brand-new single-version table
    at ``dest_root`` — the Qdrant collection-snapshot / Delta DEEP
    CLONE analog (and the backup/restore flow the reference has no
    native answer for: its Qdrant state survives only as the container
    volume). Works for ANY table of this layer, including both
    persisted index families — a snapshotted ANN/text index serves at
    the destination immediately, probe pruning intact, because the
    manifest travels verbatim.

    Copies exactly: the version dir (manifest, version-local ``base``
    dirs, commit stamp is re-written fresh with ``op="snapshot"``) and
    the segments that version REFERENCES — never the whole segment
    store, never other versions, never delta/tombstone segments that
    only older versions name. O(referenced bytes); an object-store
    deployment replaces the local copy with server-side copy requests.

    The destination must be unpublished (no CURRENT) — a snapshot is a
    new table, not a merge; restoring over an existing table is what
    `restore_version` is for. Publishing at the destination goes
    through the standard CAS commit (so even a racing second snapshot
    into the same dest resolves to one winner and one clean
    CommitConflict). Returns the committed destination version dir.

    The snapshot starts fresh history: ``changes`` are cleared (a
    backup is not a change event — the RESTORE+CDF caveat) and the
    source's older versions do not travel; time travel at the
    destination begins at the snapshot."""
    if current_version_dir(dest_root) is not None:
        raise FileExistsError(
            f"{dest_root!r} is already a published table; snapshot only "
            "creates new tables (use restore_version to move CURRENT)"
        )
    src_dir = (
        version_dir(root, version)
        if version is not None
        else current_version_dir(root)
    )
    if src_dir is None:
        raise FileNotFoundError(f"nothing published under {root!r}")
    src_name = os.path.basename(src_dir)
    components = read_manifest(root, src_name)

    def build(current_dir, new_dir):
        if current_dir is not None:
            # re-checked per attempt: commit_with_retry re-runs build
            # with a refreshed pointer after a CAS conflict, so a
            # racing second snapshot (or any concurrent publish at
            # dest) must FAIL here instead of stacking a second
            # version on top of the winner's table
            raise FileExistsError(
                f"{dest_root!r} became a published table mid-snapshot "
                "(a racing snapshot or writer won); snapshot only "
                "creates new tables"
            )
        if components is None:
            # plain (pre-manifest) parquet version: the version dir IS
            # the data — copy it wholesale
            for entry in os.listdir(src_dir):
                if entry == COMMIT_TS:
                    continue
                src = os.path.join(src_dir, entry)
                dst = os.path.join(new_dir, entry)
                if os.path.isdir(src):
                    shutil.copytree(src, dst)
                else:
                    shutil.copy2(src, dst)
            return
        new_components = {}
        for name, comp in components.items():
            comp = dict(comp)
            if comp.get("base"):
                shutil.copytree(
                    os.path.join(src_dir, comp["base"]),
                    os.path.join(new_dir, comp["base"]),
                )
            # pending payload overlays (index set_payload) ride the
            # metadata blocks, not the read list — they are live state
            # and must travel with the snapshot
            overlay = [
                s
                for blk in ("ann", "tix")
                for s in ((comp.get(blk) or {}).get("payload_deltas", []) or [])
            ]
            for seg in list(comp.get("segments", [])) + overlay:
                dst = segment_path(dest_root, seg)
                if not os.path.isdir(dst):  # components may share names
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.copytree(segment_path(root, seg), dst)
            comp["changes"] = []  # a backup is not a change event
            new_components[name] = comp
        write_manifest(dest_root, os.path.basename(new_dir), new_components)

    return commit_with_retry(dest_root, build, keep_last=1, op="snapshot")


def set_alias(aliases_root: str, alias: str, table_root: str) -> None:
    """Point ``alias`` at ``table_root`` — the Qdrant
    update-collection-aliases analog, and the missing piece of the
    zero-downtime reindex flow the reference cannot do (its dashboard
    hardcodes one collection name, app.py:64-66): build or
    `snapshot_table` a NEW index root, validate it, then repoint the
    alias serving reads resolve through — one atomic metadata swap,
    readers see the old index or the new one, never a mix (each
    resolved root is itself CAS-versioned). The alias is a one-line
    file swapped by atomic rename, the same primitive the CURRENT
    pointer trusts; an object-store deployment uses a conditional PUT.
    """
    if os.sep in alias or not alias:
        raise ValueError(f"alias must be a plain name, got {alias!r}")
    os.makedirs(aliases_root, exist_ok=True)
    tmp = os.path.join(aliases_root, f".{alias}.tmp.{os.getpid()}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(os.path.abspath(table_root) + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(aliases_root, alias))


def resolve_alias(aliases_root: str, alias: str) -> str:
    """The table root an alias currently serves. Raises KeyError for
    unknown aliases — callers pass the result straight to the serving
    APIs (`ann_index_top_k(spark, resolve_alias(...), ...)`)."""
    try:
        with open(os.path.join(aliases_root, alias), encoding="utf-8") as f:
            return f.read().strip()
    except FileNotFoundError:
        raise KeyError(f"alias {alias!r} not found under {aliases_root!r}") from None


def drop_alias(aliases_root: str, alias: str) -> None:
    """Remove an alias (idempotent — dropping a missing alias is a
    no-op, matching Qdrant's delete_alias semantics)."""
    try:
        os.remove(os.path.join(aliases_root, alias))
    except FileNotFoundError:
        pass


def list_aliases(aliases_root: str) -> dict[str, str]:
    """{alias: table_root} for every alias under the store."""
    if not os.path.isdir(aliases_root):
        return {}
    out = {}
    for name in sorted(os.listdir(aliases_root)):
        if name.startswith("."):
            continue  # in-flight swap temp files
        out[name] = resolve_alias(aliases_root, name)
    return out
