"""Loaders for the engine's star-schema + LLM-pipeline tables.

Tables (TPC-H-ish star schema plus ``events``/``documents``/``embeddings``)
live as one parquet file per table under a scale-factor directory. Loading is
a ``spark.read.parquet`` — columnar scan, predicate pushdown and column
pruning come free from Catalyst — with one normalization: ``events.ts`` is
written as parquet TIMESTAMP(NANOS), which Spark's vectorized reader cannot
represent; we scan it as raw int64 nanos (``spark.sql.legacy.parquet
.nanosAsLong``) and convert to a microsecond timestamp (``timestamp_micros(ns
div 1000)``), matching the micro truncation every micro-precision engine
(including the DuckDB oracle) applies.

Schema resolution is served from a catalog instead of re-inspecting files per
query: an untyped ``spark.read.parquet`` launches a one-task schema-inference
job on every call. The first read of a local path infers as usual and caches
the ``StructType`` under the path's file fingerprint (sorted relative name,
size and ``st_mtime_ns`` of every file beneath it); later reads whose
fingerprint still matches pass that schema to the reader and launch no job,
and the session that made the last read gets that normalized frame back
without a reader call. Any rewrite changes the fingerprint, re-infers and
replaces the entry (one entry per path, never a stale schema or frame); a
different session reads afresh, and a stopped one raises. Paths with no
local files — URIs such as ``s3a://``, ``hdfs://`` or ``file:``, and
missing paths, for which Spark raises its own error — bypass the cache.

At 100 TB each "file" becomes a directory of many parquet parts (possibly
hive-partitioned); nothing here assumes single-file inputs — paths are passed
straight to the reader.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are safely broadcastable at ANY scale: only the
# structurally fixed-cardinality dims qualify (region=5, nation=25).
# supplier/part/customer grow with scale factor — they may still broadcast
# when the size threshold + AQE decide they fit, but never via a forced
# hint that cannot be demoted.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-local TIMESTAMP (LTZ).

    The driver's parquet carries ``isAdjustedToUTC=false`` timestamps, which
    Spark reads as TIMESTAMP_NTZ when NTZ inference is on. The engine's
    timestamp semantics are LTZ in a UTC-pinned session (same wall-clock
    values, and instant-based functions like ``unix_micros``/``window`` work
    uniformly). The session conf disables NTZ inference; this cast is the
    belt-and-braces for foreign sessions whose scans were planned before
    ``ensure_session_conf`` ran. A no-op projection when types already match.
    """
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        # Backtick-quote (with `` escaping) rather than F.col(c)/df[c]:
        # both of those re-parse the name, so a column containing ``.``
        # would resolve as a struct path and fail (regression-tested in
        # test_robustness.py with a literal dotted name).
        quoted = "`" + c.replace("`", "``") + "`"
        df = df.withColumn(c, F.col(quoted).cast("timestamp"))
    return df


class _Entry(NamedTuple):
    fingerprint: tuple
    schema: StructType  # as inferred from the files, before normalization
    frame: DataFrame  # the normalized frame last read, bound to its session


# Absolute path -> the one entry for the files last seen there.
_TABLES: dict[str, _Entry] = {}


def _fingerprint(path: str) -> tuple:
    """Sorted ``(relative file, size, st_mtime_ns)`` of every file under
    ``path`` (the path itself when it is a file); empty when it has none
    or a file vanishes mid-listing."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(path):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    except FileNotFoundError:
        return ()
    return tuple(sorted(files))


def _normalize(df: DataFrame, name: str) -> DataFrame:
    """Table ``name`` as read, with the engine's timestamp types."""
    if name == "events":
        # Historical testdata wrote ts as parquet TIMESTAMP(NANOS), scanned
        # as int64 nanoseconds-since-epoch; truncate to micros. Current
        # testdata writes µs directly — guarded on the runtime dtype.
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return _normalize_timestamps(df)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from ``sf_dir``. Normalizes timestamp columns.

    Applies ``ensure_session_conf`` first, on every call, so the
    UTC-timezone invariant the NTZ->LTZ cast relies on cannot be bypassed
    by a foreign session that loads tables before configuring itself. That
    also pins both settings that change inference (``nanosAsLong=true``,
    ``inferTimestampNTZ=false``), so the cache key needs no conf, and
    raises a ``RuntimeError`` on a stopped session.

    A repeat load of unchanged local files by the same session
    returns the frame it got last time: building one costs a DataSource
    resolution and file listing in the JVM (~10 ms), even with the schema
    known. A URI (``s3a://``, ``file:``...) names no local file, so its
    fingerprint is empty and it is read uncached, like a missing path.
    """
    from ..session import ensure_session_conf

    ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = os.path.abspath(path)
    fp = _fingerprint(key)
    if not fp:
        return _normalize(spark.read.parquet(path), name)
    hit = _TABLES.get(key)
    if hit is None or hit.fingerprint != fp:
        raw = spark.read.parquet(path)
        schema = raw.schema
    elif hit.frame.sparkSession is spark:
        return hit.frame
    else:
        schema = hit.schema
        raw = spark.read.schema(schema).parquet(path)
    df = _normalize(raw, name)
    _TABLES[key] = _Entry(fp, schema, df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load all tables and register each as a temp view for ``spark.sql``.

    This is the catalog-registration step that makes the SQL-passthrough
    surface (reference week_1/data_ingest/data_ingest.py:106-132, which
    forwarded user SQL to PostgreSQL) work natively: after this, any SQL over
    the table names executes on Catalyst.
    """
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
