"""Graph sources: typed node / edge DataFrames from storage.

A ``GraphSource`` yields, for any node label, a DataFrame with the node
id aliased ``_<label>_id`` plus requested (typed, renamed) props; and
for any link, a two-column edge DataFrame ``(_<child>_id, _<parent>_id)``.
Every graph walk in the engine is then an equi-join over these frames.

``PropsJsonGraphSource`` reads the reference's physical format — tables
``node_<label>`` / ``edge_<rel>`` whose domain properties live in a
``_props`` JSON string column (format evidence:
``tube/etl/indexers/base/lambdas.py:10-71``; the reference parsed CSV
lines with Python lambdas into RDDs, ``base/translator.py:100-193``).
We instead read Parquet/CSV with ``spark.read`` and parse ``_props``
with ``from_json`` against a schema **pruned to the requested props** —
JSON parse width is the dominant scan cost for wide dictionaries, and
Catalyst cannot prune inside ``from_json`` on its own.

Missing table ⇒ correctly-typed empty DataFrame (the reference's
"zero-frame" synthesis, ``base/translator.py:94-98,195-212``) so
downstream joins/aggs compile without ``isEmpty()`` job-triggering
checks.

Open once: a source instance resolves each physical table name once
and opens each table once; every later ``node_df``/``edge_df`` on it
builds its projection over the same reader, so the many requests one
ETL run makes for a table (a mapping set typically asks for each table
two or three times) cost one open, and Catalyst sees one relation
where a table feeds several branches.
Parquet opens go through ``functions.pqread.read_parquet``, which keeps
the inferred schema per (session, path, file signature): a later
source in the same session opens the table without the footer-inference
job a bare ``spark.read.parquet`` submits.

Staleness contract: an instance is a snapshot for ONE run.  The frames
it memoizes carry the file listing taken when the table was opened, so
build a new source for every run over inputs that may change
(``tube_spark.run.main`` does); a new source re-resolves every table,
and the schema cache re-infers any table whose file signature moved (a
rewritten, added or removed part file).  Paths the schema cache cannot
stat locally (object stores, relative paths) get the stock read.
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tube_spark.config.mapping import PropSpec
from tube_spark.dictionary import Dictionary
from tube_spark.functions import fsio
from tube_spark.functions.pqread import read_parquet
from tube_spark.functions.valuemap import value_map_col


def id_col(label: str) -> str:
    return f"_{label}_id"


class GraphSource(Protocol):
    dictionary: Dictionary

    def node_df(self, label: str, props: tuple[PropSpec, ...] = ()) -> DataFrame: ...

    def edge_df(self, child: str, parent: str) -> DataFrame: ...


def _apply_prop_specs(
    df: DataFrame,
    label: str,
    props: tuple[PropSpec, ...],
    extra: tuple[Column, ...] = (),
    dictionary: Dictionary | None = None,
    legacy_bool_as_string: bool = False,
) -> DataFrame:
    """Select id + props with rename + value-mapping applied.

    ``extra`` columns (e.g. FK ids for the collector's single-scan
    injection path) are appended verbatim to the projection.

    ``src: id`` resolves to the node id column (reference
    ``base/translator.py:123-153``).  Props unknown to the node align as
    typed nulls (the reference's missing-column alignment, SURVEY P9 /
    ``injection/new_translator.py:60-66``) — typed per the DICTIONARY
    declaration when available, so a leaf missing a physical column
    null-pads as double/bool/… and the collector union keeps the
    field's declared type instead of silently widening it to string.
    """
    id_name = id_col(label)
    cols = []
    # a prop may be NAMED like the id column (e.g. injected `_dataset_id`
    # with src: id) — emit it once, not as a duplicate column
    id_shadowed = any(p.name == id_name for p in props)
    if id_shadowed and any(p.name == id_name and p.source != "id" for p in props):
        raise ValueError(
            f"prop {id_name!r} on node {label!r} shadows the id column but "
            "does not select the id (src: id)"
        )
    if not id_shadowed:
        cols.append(F.col(id_name))
    for p in props:
        src = id_name if p.source == "id" else p.source
        if src in df.columns:
            c = F.col(src)
        else:
            pt = dictionary.prop_type(label, src) if dictionary is not None else None
            null_t = pt.spark_type(legacy_bool_as_string) if pt is not None else T.StringType()
            c = F.lit(None).cast(null_t)
        if p.value_mappings:
            c = value_map_col(c, p.value_mappings)
        cols.append(c.alias(p.name))
    return df.select(*cols, *extra)


# Sqoop CSV column order for node / edge dumps (reference
# ``base/lambdas.py:10-71``): domain props live in the _props JSON blob.
_NODE_CSV_SCHEMA = "created string, acl string, _sysan string, _props string, node_id string"
_EDGE_CSV_SCHEMA = (
    "created string, acl string, _sysan string, _props string, src_id string, dst_id string"
)


class PropsJsonGraphSource:
    """Reference-format source: ``node_<label>`` / ``edge_<rel>`` tables
    with a ``_props`` JSON column, as Parquet or Sqoop-style CSV dumps
    under ``base_dir`` (``fmt="csv"`` matches the reference's HDFS text
    shards: no header, explicit 5/6-column schema).

    ``edge_overrides`` maps (child, parent) → physical table name for
    edge tables whose names can't be synthesized from the dictionary
    (psqlgraph hashes names over 63 chars); see
    ``discover_edge_tables`` for automatic inference."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        dictionary: Dictionary,
        legacy_bool_as_string: bool = False,
        fmt: str = "parquet",
        edge_overrides: dict[tuple[str, str], str] | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.dictionary = dictionary
        self.legacy_bool_as_string = legacy_bool_as_string
        self.fmt = fmt
        self.edge_overrides = edge_overrides or {}
        self._paths: dict[str, str | None] = {}
        self._frames: dict[str, DataFrame] = {}

    def _table_path(self, table: str) -> str | None:
        if table not in self._paths:
            self._paths[table] = self._resolve(table)
        return self._paths[table]

    def _resolve(self, table: str) -> str | None:
        # psqlgraph strips underscores from the LABEL part of physical
        # table names (node_ct_series_file → node_ctseriesfile)
        prefix, _, label = table.partition("_")
        for name in (table, f"{prefix}_{label.replace('_', '')}"):
            for ext in ("", ".parquet", ".csv"):
                p = fsio.join(self.base_dir, name + ext)
                if fsio.exists(self.spark, p):
                    return p
        return None

    def _read(self, path: str, csv_schema: str) -> DataFrame:
        """The table at ``path``, opened on first use and reused after
        (two threads racing on a first use may both open it; every
        caller still gets the one frame that was stored)."""
        df = self._frames.get(path)
        if df is None:
            df = self._frames.setdefault(path, self._open(path, csv_schema))
        return df

    def _open(self, path: str, csv_schema: str) -> DataFrame:
        if self.fmt == "csv" or path.endswith(".csv"):
            # Sqoop/psql CSV quoting doubles embedded quotes ("" inside a
            # quoted field) — escape must be '"', not the backslash default
            return (
                self.spark.read.schema(csv_schema)
                .option("quote", '"')
                .option("escape", '"')
                .csv(path)
            )
        return read_parquet(self.spark, path)

    def node_df(self, label: str, props: tuple[PropSpec, ...] = ()) -> DataFrame:
        wanted = sorted({p.source for p in props if p.source != "id"})
        schema = self.dictionary.props_schema(
            label, only=wanted, legacy_bool_as_string=self.legacy_bool_as_string
        )
        path = self._table_path(f"node_{label}")
        if path is None:
            out_schema = T.StructType(
                [T.StructField(id_col(label), T.StringType(), True), *schema.fields]
            )
            empty = self.spark.createDataFrame([], out_schema)
            return _apply_prop_specs(empty, label, props,
                                      dictionary=self.dictionary,
                                      legacy_bool_as_string=self.legacy_bool_as_string)
        raw = self._read(path, _NODE_CSV_SCHEMA)
        parsed = raw.select(
            F.col("node_id").alias(id_col(label)),
            F.from_json(F.col("_props"), schema).alias("_p"),
        ).select(id_col(label), "_p.*")
        return _apply_prop_specs(parsed, label, props,
                                  dictionary=self.dictionary,
                                  legacy_bool_as_string=self.legacy_bool_as_string)

    def edge_df(self, child: str, parent: str) -> DataFrame:
        link = self.dictionary.link_between(child, parent)
        override = self.edge_overrides.get((child, parent))
        path = self._table_path(override) if override else self._table_path(
            f"edge_{link.edge}"
        )
        if path is None:
            schema = T.StructType(
                [
                    T.StructField(id_col(child), T.StringType(), True),
                    T.StructField(id_col(parent), T.StringType(), True),
                ]
            )
            return self.spark.createDataFrame([], schema)
        raw = self._read(path, _EDGE_CSV_SCHEMA)
        return raw.select(
            F.col("src_id").alias(id_col(child)),
            F.col("dst_id").alias(id_col(parent)),
        )


class JdbcGraphSource(PropsJsonGraphSource):
    """Direct-from-Postgres source (replaces the reference's
    Sqoop-dump-to-HDFS hop, ``tube/importers/sql_to_hdfs.py:36-61``).

    Reads ``node_<label>`` / ``edge_<rel>`` tables over ``spark.read.jdbc``
    with key-range partitioned reads — the executors pull partitions in
    parallel straight from the database, no intermediate dump.  The
    generated partition predicates (disjoint, exhaustive hash-residue
    classes) are pinned by ``tests/test_jdbc_source.py`` against an
    intercepted ``spark.read.jdbc``; the query shapes above the read are
    the same as the file-based source, covered by the Parquet/CSV tests.
    Like the file-based source, an instance opens each table once.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        dictionary: Dictionary,
        properties: dict | None = None,
        num_partitions: int = 16,
        legacy_bool_as_string: bool = False,
        edge_overrides: dict[tuple[str, str], str] | None = None,
    ):
        self.spark = spark
        self.url = url
        self.dictionary = dictionary
        self.properties = properties or {}
        self.num_partitions = num_partitions
        self.legacy_bool_as_string = legacy_bool_as_string
        self.fmt = "jdbc"
        self.edge_overrides = edge_overrides or {}
        self._frames: dict[str, DataFrame] = {}

    def _table_path(self, table: str) -> str | None:
        return table  # existence resolved by the database

    def _open(self, table: str, csv_schema: str) -> DataFrame:
        # hash-partition on the id column so executors read in parallel;
        # predicates push down to Postgres as WHERE clauses
        id_column = "src_id" if table.startswith("edge_") else "node_id"
        preds = [
            f"abs(hashtext({id_column})) % {self.num_partitions} = {i}"
            for i in range(self.num_partitions)
        ]
        return self.spark.read.jdbc(
            self.url, table, predicates=preds, properties=self.properties
        )


def discover_edge_tables(
    spark: SparkSession,
    base_dir: str,
    dictionary: Dictionary,
    fmt: str = "csv",
    sample: int = 50,
) -> dict[tuple[str, str], str]:
    """Infer (child, parent) → table for edge tables whose names don't
    match the synthesized convention (psqlgraph hash-truncates names
    over Postgres's 63-char identifier limit, e.g.
    ``edge_2d0f7d59_moqudepa``).

    Method: sample src/dst ids from each unidentified table and match
    them against the node tables; accept only unambiguous matches that
    correspond to a link declared in the dictionary.

    Every driver-side collect here is bounded by ``sample``: the edge
    side is ``limit(sample)`` per table, and node membership is probed
    with an ``isin(sampled ids)`` filter pushed into each node scan —
    only the (≤ sample-set-sized) intersection ever reaches the driver,
    never a full node-id column.  Production deployments should still
    pass explicit ``edge_overrides`` and skip discovery entirely.
    """
    src = PropsJsonGraphSource(spark, base_dir, dictionary, fmt=fmt)
    known = set()
    for link in dictionary.links:
        for name in (f"edge_{link.edge}", f"edge_{link.edge.replace('_', '')}"):
            known.add(name)
    unknown = [
        d
        for d in sorted(fsio.list_names(spark, base_dir))
        if d.startswith("edge_") and d not in known
    ]
    if not unknown:
        return {}

    sampled: dict[str, tuple[set, set]] = {}
    for table in unknown:
        raw = src._read(fsio.join(base_dir, table), _EDGE_CSV_SCHEMA)
        rows = raw.select("src_id", "dst_id").limit(sample).collect()
        if rows:
            sampled[table] = (
                {r["src_id"] for r in rows},
                {r["dst_id"] for r in rows},
            )
    if not sampled:
        return {}
    probe_ids = sorted(
        {i for srcs, dsts in sampled.values() for i in srcs | dsts}
    )

    # node membership of the sampled ids only: the isin() filter is
    # pushed into the scan, so each node table streams executor-side and
    # the driver receives at most len(probe_ids) rows per label
    node_ids: dict[str, set] = {}
    for label in dictionary.nodes:
        path = src._table_path(f"node_{label}")
        if path is None:
            continue
        rows = (
            src._read(path, _NODE_CSV_SCHEMA)
            .select("node_id")
            .filter(F.col("node_id").isin(probe_ids))
            .collect()
        )
        node_ids[label] = {r["node_id"] for r in rows}

    out: dict[tuple[str, str], str] = {}
    for table, (srcs, dsts) in sampled.items():
        child_matches = [l for l, ids in node_ids.items() if srcs <= ids]
        parent_matches = [l for l, ids in node_ids.items() if dsts <= ids]
        if len(child_matches) != 1 or len(parent_matches) != 1:
            continue  # ambiguous — require explicit override
        child, parent = child_matches[0], parent_matches[0]
        if any(l.child == child and l.parent == parent for l in dictionary.links):
            out[(child, parent)] = table
    return out


class DataFrameGraphSource:
    """In-memory source for tests: pre-built node/edge DataFrames.

    ``nodes[label]`` must carry ``_<label>_id`` + prop columns;
    ``edges[(child, parent)]`` the two id columns.
    """

    def __init__(
        self,
        dictionary: Dictionary,
        nodes: dict[str, DataFrame],
        edges: dict[tuple[str, str], DataFrame],
    ):
        self.dictionary = dictionary
        self._nodes = nodes
        self._edges = edges

    def node_df(self, label: str, props: tuple[PropSpec, ...] = ()) -> DataFrame:
        return _apply_prop_specs(self._nodes[label], label, props,
                                  dictionary=self.dictionary)

    def edge_df(self, child: str, parent: str) -> DataFrame:
        return self._edges[(child, parent)].select(id_col(child), id_col(parent))
