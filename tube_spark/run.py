"""ETL entry point — the engine's equivalent of the reference's
``run_etl.py``: parse the mapping file, translate every index, publish
through the versioned sink with a freshness gate.

Usage::

    python -m tube_spark.run \
        --mapping etlMapping.yaml \
        --source-dir /data/graph          # node_*/edge_* parquet or CSV \
        --out-dir   /data/indexes \
        [--source-format parquet|csv] \
        [--watermark <txid-or-timestamp>] \
        [--force]

Unlike the reference there is no Sqoop dump step, no Parquet
checkpointing between phases, and no per-step eager execution: each
index is ONE Catalyst plan from scans to sink.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--mapping", required=True, help="etlMapping-style YAML file")
    ap.add_argument("--source-dir", required=True, help="dir of node_*/edge_* tables")
    ap.add_argument("--out-dir", required=True, help="index output root")
    ap.add_argument("--source-format", default="parquet", choices=["parquet", "csv"])
    ap.add_argument("--dictionary", help="JSON file: {label: json_schema} node schemas")
    ap.add_argument("--watermark", help="source freshness watermark (txid/timestamp)")
    ap.add_argument("--force", action="store_true", help="publish even when fresh")
    ap.add_argument(
        "--sink", default="file", choices=["file", "opensearch"],
        help="file: versioned parquet under --out-dir; opensearch: live "
             "cluster via --os-hosts (needs the opensearchpy package)",
    )
    ap.add_argument("--os-hosts", help="opensearch host[:port][,host...]")
    ap.add_argument(
        "--discover-edges",
        action="store_true",
        help="infer hash-truncated edge-table names by id sampling",
    )
    ap.add_argument("--master", default=None, help="spark master override")
    args = ap.parse_args(argv)

    import json

    from tube_spark.config.mapping import parse_mappings_yaml
    from tube_spark.dictionary import dictionary_from_json_schemas
    from tube_spark.plans.translator import Pipeline
    from tube_spark.session import get_spark
    from tube_spark.sinks.writer import VersionedIndexWriter, freshness_check
    from tube_spark.sources.graph import PropsJsonGraphSource

    try:
        with open(args.mapping) as f:
            mappings = parse_mappings_yaml(f.read())
    except OSError as e:
        print(f"cannot read mapping file: {e}", file=sys.stderr)
        return 2
    if not mappings:
        print("no mappings found", file=sys.stderr)
        return 2

    if not args.dictionary:
        print("--dictionary is required for file sources", file=sys.stderr)
        return 2
    try:
        with open(args.dictionary) as f:
            dictionary = dictionary_from_json_schemas(json.load(f))
    except (OSError, json.JSONDecodeError) as e:
        print(f"cannot read dictionary: {e}", file=sys.stderr)
        return 2

    from tube_spark.config.validate import validate_mapping

    problems = [
        f"{m.name}: {p}" for m in mappings for p in validate_mapping(m, dictionary)
    ]
    if problems:
        for p in problems:
            print(f"mapping error: {p}", file=sys.stderr)
        return 3

    spark = get_spark("tube_spark-etl", master=args.master)
    edge_overrides = None
    if args.discover_edges:
        from tube_spark.sources.graph import discover_edge_tables

        edge_overrides = discover_edge_tables(
            spark, args.source_dir, dictionary, fmt=args.source_format
        )
        for (c, p), t in sorted(edge_overrides.items()):
            print(f"discovered edge table: {c} -> {p} = {t}", file=sys.stderr)
    source = PropsJsonGraphSource(
        spark, args.source_dir, dictionary, fmt=args.source_format,
        edge_overrides=edge_overrides,
    )

    from tube_spark.sinks import select_sink

    try:
        writers = {
            m.name: select_sink(
                args.sink, m.name, out_dir=args.out_dir, hosts=args.os_hosts
            )
            for m in mappings
        }
    except (RuntimeError, ValueError) as e:
        print(f"sink error: {e}", file=sys.stderr)
        return 2
    # the file writer carries a manifest watermark; the live sink's gate
    # is transaction-log based (sinks.check_to_run_etl) and out of CLI
    # scope — opensearch publishes run unconditionally here
    stale = [
        m
        for m in mappings
        if args.force
        or args.sink != "file"
        or freshness_check(writers[m.name], args.watermark)
    ]
    if not stale:
        print("all indexes fresh — nothing to do")
        return 0

    pipeline = Pipeline(source, stale)
    try:
        results = pipeline.run()
        for name, df in results.items():
            if args.sink == "file":
                path = writers[name].publish(df, watermark=args.watermark)
            else:
                from tube_spark.sinks.es_mapping import es_mapping

                path = writers[name].write(df, mapping=es_mapping(df)["mappings"])
            print(f"published {name} -> {path}")
    finally:
        pipeline.release()
    return 0


if __name__ == "__main__":
    sys.exit(main())
