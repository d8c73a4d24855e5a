"""Schema-cached parquet reads (functions/pqread.py).

Pins the three contract points of the r14-opt read helper:
1. the cached read returns the SAME schema and rows as a stock read;
2. a cache hit submits ZERO Spark jobs (the stock path pays one
   footer-inference job per call — the cost the helper removes);
3. rewriting the file (schema change included) invalidates the cache
   via the (mtime_ns, size) signature, so stale schemas are never
   served.
"""

from __future__ import annotations

import os

from pyspark.sql import Row

from tube_spark.functions import pqread
from tube_spark.functions.pqread import read_parquet


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_same_schema_and_rows(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b="y")]
    ).write.parquet(p)
    stock = spark.read.parquet(p)
    first = read_parquet(spark, p)  # fills the cache
    second = read_parquet(spark, p)  # served from it
    assert first.schema == stock.schema == second.schema
    assert sorted(second.collect()) == sorted(stock.collect())


def test_cache_hit_submits_no_jobs(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=1)]).write.parquet(p)
    read_parquet(spark, p)  # pays the inference job once
    before = _job_ids(spark)
    df = read_parquet(spark, p)
    assert _job_ids(spark) == before, "cache hit must not submit a job"
    assert df.count() == 1  # and still computes from the file


def test_rewrite_invalidates(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=1)]).write.parquet(p)
    assert read_parquet(spark, p).schema.fieldNames() == ["a"]
    spark.createDataFrame([Row(z="s")]).write.mode("overwrite").parquet(p)
    assert read_parquet(spark, p).schema.fieldNames() == ["z"]


def test_unstatable_path_degrades_to_stock(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=7)]).write.parquet(p)
    key_count = len(pqread._CACHE)
    # a path os.stat cannot see is read stock and never cached
    missing = str(tmp_path / "nope.parquet")
    assert not os.path.exists(missing)
    try:
        read_parquet(spark, missing)
    except Exception:
        pass  # stock reader raises its usual path-not-found
    assert len(pqread._CACHE) == key_count


def test_unsignable_but_readable_path_reads_stock(spark, tmp_path, monkeypatch):
    # the object-store case: os.stat cannot see the path but Spark CAN
    # read it — the helper must serve the stock read and add no entry
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=7)]).write.parquet(p)
    key_count = len(pqread._CACHE)
    monkeypatch.setattr(pqread, "_signature", lambda path: None)
    df = read_parquet(spark, p)
    assert [r.a for r in df.collect()] == [7]
    assert len(pqread._CACHE) == key_count


def test_relative_path_not_cached(spark, tmp_path, monkeypatch):
    # Spark resolves a relative path against ITS launch dir, os.stat
    # against the (monkeypatched) Python CWD — the divergence the guard
    # exists for: the stat target EXISTS here, but it is not the object
    # Spark would read, so no signature may be computed and nothing may
    # be cached (the read itself then succeeds or fails by Spark's own
    # resolution — out of the helper's contract)
    spark.createDataFrame([Row(a=3)]).write.parquet(str(tmp_path / "rel.parquet"))
    monkeypatch.chdir(tmp_path)
    key_count = len(pqread._CACHE)
    assert pqread._signature("rel.parquet") is None
    try:
        read_parquet(spark, "rel.parquet")
    except Exception:
        pass
    assert len(pqread._CACHE) == key_count


def test_inplace_partfile_rewrite_invalidates(spark, tmp_path):
    # a directory whose part file is rewritten IN PLACE (dir mtime
    # unchanged) must still re-infer: the signature folds in each
    # direct entry's (name, mtime_ns, size)
    p = str(tmp_path / "t.parquet")
    # one part file per frame: under local[N] a one-row frame can write
    # an empty part file next to the row's, and the byte swap below must
    # hit the file Spark infers the schema from
    spark.createDataFrame([Row(a=1)]).coalesce(1).write.parquet(p)
    # drop the local-FS .crc sidecars BEFORE the first read so the
    # in-place byte swap below cannot trip the checksum layer
    for f in os.listdir(p):
        if f.endswith(".crc"):
            os.unlink(os.path.join(p, f))
    assert read_parquet(spark, p).schema.fieldNames() == ["a"]
    part = next(
        f for f in os.listdir(p) if f.endswith(".parquet") and not f.startswith(".")
    )
    tmp_out = str(tmp_path / "new.parquet")
    spark.createDataFrame([Row(z="s")]).coalesce(1).write.parquet(tmp_out)
    new_part = next(
        f for f in os.listdir(tmp_out)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    # overwrite the part file's bytes without touching the directory
    with open(os.path.join(tmp_out, new_part), "rb") as src:
        data = src.read()
    with open(os.path.join(p, part), "wb") as dst:
        dst.write(data)
    assert read_parquet(spark, p).schema.fieldNames() == ["z"]
