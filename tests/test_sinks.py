from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tube_spark.sinks.writer import VersionedIndexWriter, array_config, freshness_check


def test_array_config(spark):
    df = spark.createDataFrame(
        [(1, ["a"], [{"x": 1, "tags": ["t"]}])],
        "id long, tags array<string>, nested array<struct<x: long, tags: array<string>>>",
    )
    cfg = array_config(df)
    assert cfg["array"] == ["nested", "nested.tags", "tags"]


def test_versioned_publish_and_rollover(spark, tmp_path):
    base = str(tmp_path)
    w = VersionedIndexWriter(base, "cust", keep_versions=2)
    df1 = spark.range(3).withColumn("v", F.lit("one"))
    df2 = spark.range(5).withColumn("v", F.lit("two"))
    df3 = spark.range(7).withColumn("v", F.lit("three"))

    assert freshness_check(w, "2024-01-01")  # nothing published yet
    w.publish(df1, watermark="2024-01-01")
    assert w.read_current(spark).count() == 3
    assert not freshness_check(w, "2024-01-01")  # same watermark -> skip
    assert freshness_check(w, "2024-02-01")  # newer -> run

    w.publish(df2, watermark="2024-02-01")
    w.publish(df3, watermark="2024-03-01")
    assert w.read_current(spark).count() == 7
    m = w.manifest()
    assert m["current"] == 3 and len(m["versions"]) == 2  # v1 pruned
    assert not os.path.exists(os.path.join(base, "cust_v1"))
    # array-config metadata written alongside each version
    with open(os.path.join(base, "cust_v3", "_array_config.json")) as f:
        assert json.load(f) == {"array": []}


def test_publish_from_worker_thread(spark, tmp_path):
    """The active session is thread-local; a publish from a worker
    thread takes its session from the published frame."""
    import threading

    w = VersionedIndexWriter(str(tmp_path), "cust", keep_versions=1)
    errors, counts = [], []

    def publish():
        try:
            w.publish(spark.range(3), watermark="a")
            w.publish(spark.range(4), watermark="b")  # prunes v1
            counts.append(w.read_current(spark).count())
        except Exception as e:  # reported on the test thread
            errors.append(e)

    t = threading.Thread(target=publish)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert not errors, errors
    assert counts == [4]
    assert w.manifest()["current"] == 2
    assert not os.path.exists(os.path.join(str(tmp_path), "cust_v1"))


def test_missing_manifest_with_versions_refuses_restart(spark, tmp_path):
    """ADVICE r5: a lost manifest next to existing version directories
    must not silently restart numbering at v1 over live data."""
    import pytest

    base = str(tmp_path)
    w = VersionedIndexWriter(base, "cust", keep_versions=2)
    w.publish(spark.range(3).withColumn("v", F.lit("one")))
    os.remove(os.path.join(base, "cust.manifest.json"))
    with pytest.raises(FileNotFoundError, match="refusing to restart"):
        w.manifest()
    # a genuinely fresh index (no version dirs) still reads as empty
    w2 = VersionedIndexWriter(str(tmp_path / "fresh"), "cust")
    assert w2.manifest() == {"index": "cust", "current": None, "versions": []}


def test_select_sink_derives_connector_nodes_from_hosts():
    # ADVICE r3: the Spark connector bulk-write must target the same
    # cluster as the injected/constructed REST client, not the default
    # localhost:9200 — otherwise the alias is swapped onto an empty
    # remote index.
    from tube_spark.sinks import select_sink

    class _FakeClient:  # duck-typed; never touched here
        pass

    sink = select_sink(
        "opensearch", "etl", client=_FakeClient(), hosts=["os-prod:9201"]
    )
    opts = sink.connector_options("etl_0")
    assert opts["opensearch.nodes"] == "os-prod"
    assert opts["opensearch.port"] == "9201"

    # dict-form hosts (opensearchpy's canonical shape)
    sink2 = select_sink(
        "opensearch", "etl", client=_FakeClient(),
        hosts=[{"host": "os2", "port": 9202}],
    )
    opts2 = sink2.connector_options("etl_0")
    assert opts2["opensearch.nodes"] == "os2"
    assert opts2["opensearch.port"] == "9202"

    # explicit nodes= wins over hosts derivation
    sink3 = select_sink(
        "opensearch", "etl", client=_FakeClient(),
        hosts=["os-prod:9201"], nodes="override", port=9300,
    )
    opts3 = sink3.connector_options("etl_0")
    assert opts3["opensearch.nodes"] == "override"
    assert opts3["opensearch.port"] == "9300"
