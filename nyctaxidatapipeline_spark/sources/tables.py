"""Sources: parquet scans over the driver fixture tables.

Reference equivalents: S1 multi-file glob scan (``cleaning.py:7``) and S2
directory scan (``yellow_taxi_etl.py:67``). Spark's parquet source gives
footer-schema reads, predicate pushdown, column pruning and vectorized
decoding. This module is the single place that names the tables, applies
storage-layout policy, restores nanosecond timestamps, and memoizes the
parquet schema.

The memo exists because ``spark.read.parquet`` infers the schema with a
one-task Spark job that reads a footer, on every call, and query builders
read each table afresh (every read must return a fresh relation with fresh
expression ids, so self-joins resolve). ``raw_schema`` keeps the inferred
schema per path tuple and ``read_parquet`` reads with
``spark.read.schema(...)``, which runs no job; Spark still lists the files.
An entry is used only while its key matches:

- the expanded file set of the paths (a file, a directory read
  recursively, or a glob) with each file's size, ``st_mtime_ns`` and
  inode, so a rewritten, added or removed file re-infers;
- the session confs that change parquet inference (``_INFER_CONFS``).

One entry per path tuple, replaced on a mismatch, keeps the memo bounded
when files are rewritten. Paths that expand to no local file (remote
URIs, patterns Python's glob does not know) are inferred on every read.
"""

from __future__ import annotations

import glob
import os
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Fixture star schema + extension tables (TESTDATA.md / FIXTURES.md §B).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Session confs whose values change the schema parquet inference returns.
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)


class RawSchema(NamedTuple):
    #: As Spark infers it, TIMESTAMP(NANOS) columns as raw int64 nanos.
    schema: T.StructType
    #: Columns stored as parquet TIMESTAMP(NANOS).
    nanos_cols: tuple[str, ...]


#: paths -> (key, RawSchema). An entry is one immutable tuple, read and
#: replaced by single dict operations, so the two ``build_concurrently``
#: threads need no lock: a race costs a second inference, never a wrong
#: schema.
_MEMO: dict[tuple[str, ...], tuple[tuple, RawSchema]] = {}


def _hidden(name: str) -> bool:
    """Names Spark's file index skips while listing (``_``-prefixed
    partition directories such as ``_c=1`` excepted)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str) -> list[str]:
    """The files Spark scans for ``path`` (a file, a directory read
    recursively, or a glob), sorted; empty when nothing local matches."""
    out = []
    for root in glob.glob(path):
        if os.path.isfile(root):
            out.append(root)
        for dirpath, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            out.extend(os.path.join(dirpath, f)
                       for f in files if not _hidden(f))
    return sorted(out)


def _nanos_cols(files: list[str], merge: bool) -> tuple[str, ...]:
    """Column names stored as parquet TIMESTAMP(NANOS) (footer-only read).

    The Spark vectorized reader rejects nanosecond timestamps outright
    (PARQUET_TYPE_ILLEGAL); with ``spark.sql.legacy.parquet.nanosAsLong``
    they surface as raw int64 nanos. Like Spark's inference, this reads
    every footer when merging schemas and else the first readable one.
    """
    cols: dict[str, None] = {}
    for f in files:
        try:
            schema = pq.read_schema(f)
        except (OSError, pa.ArrowInvalid):
            continue
        cols.update(dict.fromkeys(
            x.name for x in schema
            if pa.types.is_timestamp(x.type) and x.type.unit == "ns"))
        if not merge:
            break
    return tuple(cols)


def raw_schema(spark: SparkSession, *paths: str) -> RawSchema:
    """The schema Spark infers for ``paths`` under ``nanosAsLong`` and its
    nanos columns, memoized (module docstring). A miss runs the inference
    job under the description ``sources.read_parquet: infer schema ...``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    files = [f for p in paths for f in _data_files(p)]
    # Taken before Spark reads the files: a file that changes mid-read
    # leaves an entry whose key no longer matches.
    key = (tuple((f, st.st_size, st.st_mtime_ns, st.st_ino)
                 for f, st in zip(files, map(os.stat, files))),
           tuple(spark.conf.get(k) for k in _INFER_CONFS))
    hit = _MEMO.get(paths)
    if files and hit is not None and hit[0] == key:
        return hit[1]
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    names = ", ".join(os.path.basename(os.path.normpath(p)) for p in paths)
    sc.setLocalProperty("spark.job.description",
                        f"sources.read_parquet: infer schema {names}")
    try:
        schema = spark.read.parquet(*paths).schema
    finally:
        sc.setLocalProperty("spark.job.description", caller_desc)
    merge = spark.conf.get("spark.sql.parquet.mergeSchema") == "true"
    raw = RawSchema(schema, _nanos_cols(files, merge))
    if files:
        _MEMO[paths] = (key, raw)
    return raw


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet scan (single path, directory, or glob — Spark unions parts).

    Scale note: at 100 TB keep ``spark.sql.files.maxPartitionBytes`` at its
    128 MB default so the scan fans out to ~800k tasks, and rely on
    hive-style directory partitioning (``dt=.../``) for partition pruning.
    """
    raw = raw_schema(spark, *paths)
    df = spark.read.schema(raw.schema).parquet(*paths)
    for c in raw.nanos_cols:
        # Only convert columns the reader actually surfaced as raw int64
        # nanos. (INT96 timestamps also show as timestamp[ns] in the
        # pyarrow footer but Spark reads them as proper timestamps.)
        if not isinstance(raw.schema[c].dataType, T.LongType):
            continue
        # int64 nanos -> micros (floor) -> session-TZ-free timestamp: the
        # same truncation DuckDB applies, so datetime functions and the
        # oracle agree.
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                .cast("timestamp_ntz"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
