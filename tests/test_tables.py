"""``sources.tables``: the parquet schema memo and nanos-timestamp
normalization, on tiny tables under ``tmp_path``.

Spark's parquet inference is a one-task job per ``spark.read.parquet``
call; ``read_parquet`` must run it once per unchanged path and never
return a stale schema after files or inference confs change.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from nyctaxidatapipeline_spark.sources import read_parquet

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from plan_fingerprints import fingerprint_df  # noqa: E402

TS_NS = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999]
TS = [dt.datetime(2023, 11, 14, 22, 13, 20, 123456),
      dt.datetime(2020, 9, 13, 12, 26, 40)]


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted through a job
    group and ``statusTracker()``."""
    sc = spark.sparkContext
    group = f"test-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test_tables")
    try:
        out = fn()
        # Jobs reach the status store in submission order: once a job
        # submitted after fn() is visible, every job of fn() is too.
        sc.setJobGroup(group + ":end", "test_tables")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + ":end"):
        assert time.monotonic() < deadline, "status store never caught up"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _write(path, **cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def test_second_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, k=pa.array([1, 2, 3], pa.int64()),
           s=pa.array(["a", "b", None]))
    first, n_first = _jobs(spark, lambda: read_parquet(spark, path))
    second, n_second = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_first >= 1 and n_second == 0
    assert second.schema == first.schema
    assert fingerprint_df(second)[0] == fingerprint_df(first)[0]
    # The plan is the one a plain inferring read builds.
    assert (fingerprint_df(second)[0]
            == fingerprint_df(spark.read.parquet(path))[0])
    assert sorted(r.k for r in second.collect()) == [1, 2, 3]


def test_inference_restores_caller_description(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, k=pa.array([1], pa.int64()))
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        read_parquet(spark, path)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_overwritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=pa.array([1], pa.int32()))
    assert read_parquet(spark, path).columns == ["a"]
    _write(path, a=pa.array([1], pa.int32()), b=pa.array(["x"]))
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert df.collect()[0].b == "x"


def test_added_part_file_reinfers(spark, tmp_path):
    d = tmp_path / "t"
    _write(str(d / "part-0.parquet"), a=pa.array([1], pa.int64()))
    read_parquet(spark, str(d))
    _, n_hit = _jobs(spark, lambda: read_parquet(spark, str(d)))
    _write(str(d / "part-1.parquet"), a=pa.array([2], pa.int64()))
    df, n_new = _jobs(spark, lambda: read_parquet(spark, str(d)))
    assert n_hit == 0 and n_new >= 1
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_binary_as_string_flip_changes_type(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, b=pa.array([b"xy"], pa.binary()))
    key = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(key, "false")
        assert isinstance(read_parquet(spark, path).schema["b"].dataType,
                          T.BinaryType)
        spark.conf.set(key, "true")
        df = read_parquet(spark, path)
        assert isinstance(df.schema["b"].dataType, T.StringType)
        assert df.collect()[0].b == "xy"
    finally:
        spark.conf.unset(key)


def _nanos_layouts(tmp_path):
    def write(path, i):
        _write(path, k=pa.array([i], pa.int64()),
               ts=pa.array([TS_NS[i]], pa.timestamp("ns")))

    write(str(tmp_path / "f.parquet"), 0)
    for i in (0, 1):
        write(str(tmp_path / "g" / f"m-{i}.parquet"), i)
        write(str(tmp_path / "p" / f"dt={i}" / "x.parquet"), i)
    # Spark skips these while listing; so must nanos detection.
    (tmp_path / "p" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "p" / "dt=0" / ".x.parquet.tmp").write_bytes(b"junk")
    return {"file": (str(tmp_path / "f.parquet"), [0]),
            "glob": (str(tmp_path / "g" / "m-*.parquet"), [0, 1]),
            "partitioned": (str(tmp_path / "p"), [0, 1])}


@pytest.mark.parametrize("layout", ["file", "glob", "partitioned"])
def test_nanos_columns_convert_on_miss_and_hit(spark, tmp_path, layout):
    path, ks = _nanos_layouts(tmp_path)[layout]
    for attempt in ("miss", "hit"):
        df = read_parquet(spark, path)
        assert isinstance(df.schema["ts"].dataType,
                          T.TimestampNTZType), attempt
        got = sorted((r.k, r.ts) for r in df.select("k", "ts").collect())
        assert got == [(k, TS[k]) for k in ks], attempt


def test_concurrent_reads_never_mix_schemas(spark, tmp_path):
    """More reader threads than cores over two paths sharing the memo:
    every read returns its own path's schema."""
    paths = {str(tmp_path / f"t{i}.parquet"): f"c{i}" for i in range(2)}
    for path, col in paths.items():
        _write(path, **{col: pa.array([1], pa.int64())})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [(col, pool.submit(lambda p=path: read_parquet(spark, p)))
                    for _ in range(6) for path, col in paths.items()]
            for col, fut in futs:
                assert fut.result(timeout=120).columns == [col]
    finally:
        sys.setswitchinterval(interval)
