"""Source-layer tests: CSV (Sqoop-format) graph dumps, prop pruning."""

from __future__ import annotations

import json

from tube_spark.config.mapping import PropSpec, parse_mapping
from tube_spark.plans.translator import Aggregator
from tube_spark.sources.graph import PropsJsonGraphSource


def test_csv_sqoop_format(spark, tmp_path):
    """The reference's physical format: headerless CSV shards with
    _props JSON — engine reads them with explicit schemas."""
    from tests.conftest import EDGES, NODES, clinic_dictionary

    d = clinic_dictionary()
    base = tmp_path / "csvgraph"
    base.mkdir()
    for label, rows in NODES.items():
        data = [("2024-01-01", "{}", "{}", json.dumps(props), nid) for nid, props in rows]
        spark.createDataFrame(
            data, "created string, acl string, _sysan string, _props string, node_id string"
        ).repartition(1).write.mode("overwrite").option("quote", '"').option(
            "escape", '"'
        ).csv(str(base / f"node_{label}"))
    for (child, parent), rows in EDGES.items():
        link = d.link_between(child, parent)
        data = [("2024-01-01", "{}", "{}", "{}", s, t) for s, t in rows]
        spark.createDataFrame(
            data,
            "created string, acl string, _sysan string, _props string, src_id string, dst_id string",
        ).repartition(1).write.mode("overwrite").csv(str(base / f"edge_{link.edge}"))

    source = PropsJsonGraphSource(spark, str(base), d, fmt="csv")
    mapping = parse_mapping(
        {
            "name": "m", "doc_type": "participant", "type": "aggregator", "root": "participant",
            "props": [{"name": "submitter_id"}, {"name": "consortium_id"}],
            "aggregated_props": [
                {"name": "n_samples", "path": "samples", "fn": "count"},
                {"name": "avg_na", "src": "quantity", "path": "samples", "fn": "sum"},
            ],
        }
    )
    rows = {r["submitter_id"]: r.asDict() for r in Aggregator(source, mapping).translate().collect()}
    assert rows["A"]["n_samples"] == 2 and rows["A"]["avg_na"] == 3.5
    assert rows["B"]["consortium_id"] == 8


def test_json_prop_pruning(spark, props_json_dir):
    """from_json parses only requested props — the parse schema must not
    widen to the full dictionary."""
    from tests.conftest import clinic_dictionary

    source = PropsJsonGraphSource(spark, props_json_dir, clinic_dictionary())
    df = source.node_df("participant", (PropSpec(name="submitter_id"),))
    assert set(df.columns) == {"_participant_id", "submitter_id"}
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the from_json schema in the optimized plan carries a single field
    assert "consent_codes" not in plan and "consortium_id" not in plan


# --- open once per source, schema inferred once per session ----------

TWO_MAPPINGS = """
mappings:
  - name: participant_index
    doc_type: participant
    type: aggregator
    root: participant
    props:
      - name: submitter_id
    parent_props:
      - path: centers[center_name:name].projects[project_code:code]
    aggregated_props:
      - {name: n_samples, path: samples, fn: count}
      - {name: total_quantity, src: quantity, path: samples, fn: sum}
    nested_props:
      - name: visits_nested
        path: visits
        props: [{name: age_at_visit}]
  - name: file_index
    doc_type: file
    type: collector
    category: data_file
    props:
      - {name: submitter_id}
    injecting_props:
      participant:
        props:
          - {name: participant_id, src: id}
"""


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _pipeline(spark, base):
    from tests.conftest import clinic_dictionary
    from tube_spark.config.mapping import parse_mappings_yaml
    from tube_spark.plans.translator import Pipeline

    source = PropsJsonGraphSource(spark, base, clinic_dictionary())
    return Pipeline(source, parse_mappings_yaml(TWO_MAPPINGS))


def test_pipeline_opens_each_table_once(spark, props_json_dir, monkeypatch):
    from collections import Counter

    from pyspark.sql.readwriter import DataFrameReader

    opened = Counter()
    real = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        opened.update(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    results = _pipeline(spark, props_json_dir).run()
    assert set(results) == {"participant_index", "file_index"}
    assert opened and max(opened.values()) == 1, opened
    # the shared relations still plan and compute correctly
    rows = {r["submitter_id"]: r for r in results["participant_index"].collect()}
    assert rows["A"]["n_samples"] == 2 and rows["A"]["total_quantity"] == 3.5
    assert rows["B"]["center_name"] == "Center A"
    files = {r["_doc_id"]: r["participant_id"] for r in results["file_index"].collect()}
    assert files == {"samp1": "partA", "samp2": "partA", "samp3": "partB"}


def test_fresh_source_plans_without_jobs(spark, props_json_dir):
    # the first source infers each table's schema; a fresh source in the
    # same session replays it, so planning submits no Spark job at all
    _pipeline(spark, props_json_dir).run()
    before = _job_ids(spark)
    results = _pipeline(spark, props_json_dir).run()
    assert _job_ids(spark) == before, "planning on a warm session submitted a job"
    assert results["participant_index"].count() == 2


def test_rewritten_table_read_fresh(spark, props_json_dir, tmp_path):
    import shutil

    base = tmp_path / "graph"
    shutil.copytree(props_json_dir, base)
    first = _pipeline(spark, str(base)).run()["participant_index"]
    assert sorted(r["submitter_id"] for r in first.collect()) == ["A", "B"]

    from tests.conftest import NODES

    rows = [*NODES["participant"], ("partC", {"submitter_id": "C"})]
    spark.createDataFrame(
        [("2024-01-01", "{}", "{}", json.dumps(props), nid) for nid, props in rows],
        "created string, acl string, _sysan string, _props string, node_id string",
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "node_participant"))

    second = _pipeline(spark, str(base)).run()["participant_index"]
    docs = {r["submitter_id"]: r for r in second.collect()}
    assert sorted(docs) == ["A", "B", "C"]
    assert docs["C"]["n_samples"] == 0
