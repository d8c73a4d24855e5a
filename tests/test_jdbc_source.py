"""JdbcGraphSource partitioned-read shape, without a live database.

The reference imported via Sqoop with ``--split-by node_id`` mapper
splits (`tube/importers/sql_to_hdfs.py:36-94`); the Spark-native
equivalent is ``spark.read.jdbc(predicates=...)`` — one disjoint,
exhaustive WHERE clause per partition so executors pull in parallel.
These tests intercept the jdbc call and pin that query shape.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql.readwriter import DataFrameReader

from conftest import clinic_dictionary
from tube_spark.config.mapping import PropSpec
from tube_spark.sources.graph import JdbcGraphSource

URL = "jdbc:postgresql://db:5432/gdc"


@pytest.fixture()
def jdbc_calls(spark, monkeypatch):
    """Capture spark.read.jdbc invocations; return empty frames shaped
    like the reference's node/edge tables."""
    calls = []

    def fake_jdbc(self, url, table, predicates=None, properties=None, **kw):
        calls.append(
            {"url": url, "table": table, "predicates": predicates, "properties": properties}
        )
        if table.startswith("edge_"):
            return spark.createDataFrame(
                [], "created string, acl string, _sysan string, _props string, "
                    "src_id string, dst_id string"
            )
        return spark.createDataFrame(
            [], "created string, acl string, _sysan string, _props string, node_id string"
        )

    monkeypatch.setattr(DataFrameReader, "jdbc", fake_jdbc)
    return calls


def test_node_read_partition_predicates(spark, jdbc_calls):
    dictionary = clinic_dictionary()
    src = JdbcGraphSource(
        spark, URL, dictionary,
        properties={"user": "u", "driver": "org.postgresql.Driver"},
        num_partitions=8,
    )
    df = src.node_df("participant", props=(PropSpec("submitter_id"),))
    assert df.columns == ["_participant_id", "submitter_id"]

    [call] = jdbc_calls
    assert call["url"] == URL
    assert call["table"] == "node_participant"
    assert call["properties"]["driver"] == "org.postgresql.Driver"
    preds = call["predicates"]
    # one disjoint residue class per partition over the id hash —
    # together they cover every row exactly once
    assert len(preds) == 8
    residues = set()
    for p in preds:
        m = re.fullmatch(r"abs\(hashtext\(node_id\)\) % 8 = (\d)", p)
        assert m, f"unexpected predicate shape: {p}"
        residues.add(int(m.group(1)))
    assert residues == set(range(8))


def test_edge_read_partitions_on_src_id(spark, jdbc_calls):
    dictionary = clinic_dictionary()
    src = JdbcGraphSource(spark, URL, dictionary, num_partitions=4)
    df = src.edge_df("sample", "participant")
    assert df.columns == ["_sample_id", "_participant_id"]

    [call] = jdbc_calls
    assert call["table"].startswith("edge_")
    preds = call["predicates"]
    assert len(preds) == 4
    assert all("hashtext(src_id)" in p and "% 4" in p for p in preds)
    assert {int(p.rsplit("= ", 1)[1]) for p in preds} == set(range(4))


def test_table_opened_once_per_source(spark, jdbc_calls):
    # every node_df/edge_df on one label reuses the first open: one
    # partitioned jdbc read per table per source instance
    src = JdbcGraphSource(spark, URL, clinic_dictionary(), num_partitions=4)
    a = src.node_df("participant", props=(PropSpec("submitter_id"),))
    b = src.node_df("participant", props=(PropSpec("project_id"),))
    assert a.columns == ["_participant_id", "submitter_id"]
    assert b.columns == ["_participant_id", "project_id"]
    assert [c["table"] for c in jdbc_calls] == ["node_participant"]
