"""End-to-end pipeline tests: multi-index mapping file → versioned
indexes via the CLI entry point, ES mapping generation."""

from __future__ import annotations

import json

from tube_spark.sinks.es_mapping import es_mapping

MAPPING_YAML = """
mappings:
  - name: participant_index
    doc_type: participant
    type: aggregator
    root: participant
    props:
      - name: submitter_id
      - name: join_key
        src: id
    aggregated_props:
      - {name: _samples_count, path: samples, fn: count}
    nested_props:
      - name: visits_nested
        path: visits
        props: [{name: age_at_visit}, {name: bmi}]
  - name: file_index
    doc_type: file
    type: collector
    category: data_file
    props:
      - {name: submitter_id}
      - {name: source_node}
    injecting_props:
      participant:
        props:
          - {name: participant_id, src: id}
"""


def _cli_inputs(props_json_dir, tmp_path):
    """(dictionary JSON file, graph dir) for ``run.main`` over the
    clinic fixture graph."""
    from tests.conftest import clinic_dictionary

    # the CLI needs the dictionary as {label: json_schema}; build it from
    # the fixture dictionary
    d = clinic_dictionary()
    schemas = {}
    kind_map = {"string": "string", "integer": "integer", "number": "number", "boolean": "boolean"}
    for label, node in d.nodes.items():
        props = {}
        for pname, pt in node.props.items():
            if pt.kind == "array":
                props[pname] = {"type": "array", "items": {"type": pt.item}}
            else:
                props[pname] = {"type": kind_map[pt.kind]}
        links = [
            {"target_type": l.parent, "label": l.edge.split("_")[1], "multiplicity": l.multiplicity}
            for l in d.parents_of(label)
        ]
        schemas[label] = {"properties": props, "links": links}
    dict_file = tmp_path / "schemas.json"
    dict_file.write_text(json.dumps(schemas))

    # the dictionary built from json schemas derives edge table names from
    # link labels — regenerate the graph dir with those names
    from tube_spark.dictionary import dictionary_from_json_schemas

    d2 = dictionary_from_json_schemas(json.loads(dict_file.read_text()))
    import shutil

    graph2 = tmp_path / "graph"
    shutil.copytree(props_json_dir, graph2)
    for child, parent in [("project", "program"), ("center", "project"),
                          ("participant", "center"), ("sample", "participant"),
                          ("visit", "participant")]:
        old = d.link_between(child, parent).edge
        new = d2.link_between(child, parent).edge
        if old != new:
            (graph2 / f"edge_{old}").rename(graph2 / f"edge_{new}")
    # categories: the fixture dictionary sets sample.category directly;
    # json-schema path carries it in the schema dict
    schemas["sample"]["category"] = "data_file"
    dict_file.write_text(json.dumps(schemas))
    return dict_file, graph2


def test_cli_end_to_end(spark, props_json_dir, tmp_path):
    from tube_spark.run import main

    dict_file, graph2 = _cli_inputs(props_json_dir, tmp_path)
    mapping_file = tmp_path / "etlMapping.yaml"
    mapping_file.write_text(MAPPING_YAML)
    out_dir = tmp_path / "indexes"

    rc = main(
        [
            "--mapping", str(mapping_file),
            "--source-dir", str(graph2),
            "--out-dir", str(out_dir),
            "--dictionary", str(dict_file),
            "--watermark", "tx1",
            "--master", "local[4]",
        ]
    )
    assert rc == 0

    pdf = spark.read.parquet(str(out_dir / "participant_index_v1"))
    rows = {r["submitter_id"]: r.asDict() for r in pdf.collect()}
    assert rows["A"]["_samples_count"] == 2
    assert [v["age_at_visit"] for v in rows["A"]["visits_nested"]] == [30, 31]

    fdf = spark.read.parquet(str(out_dir / "file_index_v1"))
    frows = {r["_doc_id"]: r.asDict() for r in fdf.collect()}
    assert set(frows) == {"samp1", "samp2", "samp3"}
    assert frows["samp1"]["participant_id"] == "partA"

    # second run with same watermark: freshness gate skips everything
    rc2 = main(
        [
            "--mapping", str(mapping_file),
            "--source-dir", str(graph2),
            "--out-dir", str(out_dir),
            "--dictionary", str(dict_file),
            "--watermark", "tx1",
            "--master", "local[4]",
        ]
    )
    assert rc2 == 0
    assert json.loads((out_dir / "participant_index.manifest.json").read_text())["current"] == 1


JOINING_YAML = """
mappings:
  - name: participant_index
    doc_type: participant
    type: aggregator
    root: participant
    props:
      - name: submitter_id
      - name: join_key
        src: id
    joining_props:
      - index: sample_index
        join_on: join_key
        props:
          - {name: sample_types, src: sample_type, fn: set}
  - name: sample_index
    doc_type: sample
    type: aggregator
    root: sample
    props:
      - {name: sample_type}
    parent_props:
      - path: participants[join_key:id]
"""


def test_cli_releases_cached_indexes(spark, props_json_dir, tmp_path):
    # Pipeline caches an index another index joins; once every index is
    # published run.main must drop that cache, or a long-lived process
    # keeps it and a later identical plan re-serves it
    from tube_spark.run import main

    dict_file, graph2 = _cli_inputs(props_json_dir, tmp_path)
    mapping_file = tmp_path / "etlMapping.yaml"
    mapping_file.write_text(JOINING_YAML)
    out_dir = tmp_path / "indexes"
    spark.catalog.clearCache()
    rc = main(
        [
            "--mapping", str(mapping_file),
            "--source-dir", str(graph2),
            "--out-dir", str(out_dir),
            "--dictionary", str(dict_file),
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    pdf = spark.read.parquet(str(out_dir / "participant_index_v1"))
    rows = {r["submitter_id"]: sorted(r["sample_types"]) for r in pdf.collect()}
    assert rows == {"A": ["Blood", "Saliva"], "B": ["Blood"]}


def test_es_mapping_generation(spark):
    df = spark.createDataFrame(
        [("x", 1, 2.0, True, ["t"], [(1, "s")])],
        "name string, n long, score double, flag boolean, tags array<string>, "
        "kids array<struct<k: long, v: string>>",
    )
    m = es_mapping(df)["mappings"]["properties"]
    assert m["name"]["type"] == "keyword" and m["name"]["fields"]["analyzed"]["type"] == "text"
    assert m["n"]["type"] == "long" and m["score"]["type"] == "float"
    assert m["flag"]["type"] == "boolean"
    assert m["tags"]["type"] == "keyword"  # array of element type
    assert m["kids"]["type"] == "nested"
    assert m["kids"]["properties"]["k"]["type"] == "long"
