"""Parquet reader with TIMESTAMP(NANOS) support.

Spark (4.x) raises PARQUET_TYPE_ILLEGAL on parquet TIMESTAMP(NANOS)
columns; with ``spark.sql.legacy.parquet.nanosAsLong=true`` it reads
them as epoch-nanos LongType.  This reader inspects the parquet footer
with pyarrow, reads with the legacy flag semantics, and rebuilds proper
TimestampType columns via integer microsecond truncation — the same
truncation DuckDB applies (its timestamps are microsecond), so both
sides of the oracle comparison see identical values.

Uses ``div 1000`` (integer division) not ``/1000`` — epoch-nanos
(~1.7e18) exceeds double's 53-bit mantissa, so float division would
corrupt low-order digits.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F


def _nanos_columns(path: str) -> list[str]:
    """Column names with timestamp[ns] type in the parquet schema."""
    schema = pq.read_schema(path)
    out = []
    for field in schema:
        t = field.type
        if pa.types.is_timestamp(t) and t.unit == "ns":
            out.append(field.name)
    return out


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet; nanosecond-timestamp columns come back as proper
    TimestampType (microsecond, truncated)."""
    # nanosAsLong=true is set session-wide (session._DEFAULTS) so the
    # scan-time conf matches schema-inference time; set here too (both
    # are runtime SQL confs) so an externally-created SparkSession —
    # e.g. the verification driver's — works unmodified.  UTC keeps
    # rendered timestamps aligned with DuckDB's UTC-naive values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ns_cols = _nanos_columns(path)
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# Merged-schema memo for read_evolving, keyed by the store's file
# listing (relpath, size, mtime): mergeSchema runs a DISTRIBUTED
# footer-union job on every DataFrame build, which is half the
# steady-state cost of the schema-evolution key locally (0.5 s of a
# 1.0 s query) and minutes over a 100k-file store — production
# catalogs persist the merged schema for exactly this reason.  This
# memoizes SCHEMA METADATA only (the same class of state as Spark's
# own in-session file-listing cache), never rows: every query still
# computes from the parquet files, and any file added/rewritten/
# removed changes the fingerprint and forces a fresh merge.
_EVOLVED_SCHEMA_MEMO: dict[str, tuple] = {}


def _dir_fingerprint(root: str) -> tuple:
    import os
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for n in files:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, n))
                out.append((os.path.relpath(os.path.join(dirpath, n), root),
                            st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_evolving(spark: SparkSession, root: str) -> DataFrame:
    """Read a date-partitioned event store whose schema EVOLVED across
    partitions (fields added by later ingest configs — the schema-less
    reference's normal life): ``mergeSchema`` unions per-file footers,
    so early partitions surface the late-arriving columns as NULL.
    Predicate pushdown and partition pruning survive — the merged
    schema changes only the read schema, not the scan mechanics
    (plan-pinned).  At 100 TB prefer this over a blind
    ``spark.read.parquet``: the default takes ONE random footer and
    silently drops columns that file happens to lack.

    The merged schema is memoized per (root, file listing) so repeated
    reads of an unchanged store skip the footer-union job (see
    ``_EVOLVED_SCHEMA_MEMO``)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # an unlistable root, or one the walk sees no parquet under (a
    # ``file://`` URI, an object-store path), is un-fingerprintable:
    # memoizing under an empty listing would pin the schema forever
    try:
        fp = _dir_fingerprint(root) or None
    except OSError:
        fp = None
    hit = _EVOLVED_SCHEMA_MEMO.get(root)
    if fp is not None and hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(root)
    df = spark.read.option("mergeSchema", "true").parquet(root)
    if fp is not None:
        _EVOLVED_SCHEMA_MEMO[root] = (fp, df.schema)
    return df
