"""Translators: compile a Mapping into one Catalyst plan.

The reference executed each mapping eagerly step by step with Parquet
checkpoints between phases (``base/translator.py:330-366``) and blanket
``drop_duplicates()`` after every join (``base/translator.py:369-376`` —
a full shuffle each time).  Here ``translate()`` only *declares* the
plan; nothing runs until the caller writes or collects, so Catalyst
sees the whole DAG (column pruning reaches the scans, filters push
down, AQE sizes every shuffle) and dedup happens exactly once, on the
document key.

Aggregator dataflow (reference ``new_translator.py:386-414``):
root scan → parent chains → flatten (top-1) → aggregation tree →
nested docs → cross-index joins (phase 2) → filter → id columns.

Collector dataflow (reference ``injection/new_translator.py:197-213``):
discover category leaves → per-leaf scan + ancestor-prop injection →
``unionByName`` → dedup on document key.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tube_spark.config.mapping import Mapping, PropSpec
from tube_spark.functions.filters import compile_filter
from tube_spark.operators.agg_tree import aggregated_props_df, join_aggregates
from tube_spark.operators.flatten import flatten_props_df
from tube_spark.operators.nested import nested_props_df
from tube_spark.operators.parent import parent_props_df
from tube_spark.operators.paths import bridge_df, resolve_path
from tube_spark.sources.graph import GraphSource, id_col


class Aggregator:
    def __init__(self, source: GraphSource, mapping: Mapping):
        assert mapping.type == "aggregator" and mapping.root
        self.source = source
        self.mapping = mapping

    def translate(self) -> DataFrame:
        m, src = self.mapping, self.source
        root = m.root
        df = src.node_df(root, m.props)

        for pp in m.parent_props:
            frame, _ = parent_props_df(src, root, pp)
            df = df.join(frame, on=id_col(root), how="left")

        for fp in m.flatten_props:
            df = df.join(flatten_props_df(src, root, fp), on=id_col(root), how="left")

        if m.aggregated_props:
            frames = aggregated_props_df(src, root, m.aggregated_props)
            df = join_aggregates(df, root, frames, m.aggregated_props)

        for np in m.nested_props:
            df = df.join(nested_props_df(src, root, np), on=id_col(root), how="left")

        if m.filter is not None:
            df = df.filter(compile_filter(m.filter))

        return self._finalize_ids(df)

    def _finalize_ids(self, df: DataFrame) -> DataFrame:
        """Document id columns: ``_<doc_type>_id`` + legacy ``node_id``
        (reference ``base/translator.py:30-35``, ``writer.py:19-22``)."""
        m = self.mapping
        rid = id_col(m.root)
        out = df
        doc_id = id_col(m.doc_type)
        if doc_id != rid:
            out = out.withColumn(doc_id, F.col(rid))
        return out.withColumn("node_id", F.col(rid))


class Collector:
    """Category-union index: one row per node of ``mapping.category``,
    with ancestor props injected along the graph (reference
    ``injection/new_translator.py:81-213``)."""

    def __init__(
        self,
        source: GraphSource,
        mapping: Mapping,
        dedup_doc_ids: bool = True,
        dedup_scope: str = "global",
    ):
        assert mapping.type == "collector"
        assert dedup_scope in ("leaf", "global")
        self.source = source
        self.mapping = mapping
        # node ids are unique per leaf and leaves are distinct node types,
        # so doc ids are structurally unique — dedup_doc_ids=False skips
        # the defensive full-shuffle distinct (the reference always paid
        # it).  That skip is the real 100 TB lever: the distinct is 2/3
        # of collector wall-time at sf1 (5.5 s vs 15.3 s, BENCH_NOTES
        # round-8 experiment) and is a semantic no-op whenever leaf id
        # spaces are known disjoint.
        self.dedup_doc_ids = dedup_doc_ids
        # "global" (default): one distinct over the unioned frame.
        # "leaf": dedup each leaf BEFORE the union (narrower pre-padding
        # rows per exchange) — measured SLOWER at sf1 on the 3-column
        # collector shape (16.6 s vs 15.3 s: nothing to narrow, and the
        # extra exchange costs more than the padding saves); kept as an
        # option for wide-schema collectors where the padding dominates.
        self.dedup_scope = dedup_scope

    def translate(self) -> DataFrame:
        m, src = self.mapping, self.source
        leaves = src.dictionary.nodes_in_category(m.category)
        if not leaves:
            raise ValueError(f"no nodes in category {m.category!r}")

        frames = [self._collect_leaf(leaf) for leaf in leaves]
        if self.dedup_doc_ids and self.dedup_scope == "leaf":
            frames = [f.dropDuplicates(["_doc_id"]) for f in frames]
        frames = _harmonize_array_columns(frames)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        if self.dedup_doc_ids and self.dedup_scope == "global":
            return out.dropDuplicates(["_doc_id"])
        return out

    def _collect_leaf(self, leaf: str) -> DataFrame:
        m, src = self.mapping, self.source
        have = set(src.dictionary.nodes[leaf].props) if src.dictionary.nodes[leaf].props else None

        cols: list[PropSpec] = []
        for p in m.props:
            if p.name == "source_node":
                continue
            if have is None or p.source in have or p.source == "id":
                cols.append(p)
        # resolve every injection path up front: when the source can
        # surface the first-hop parent id in the leaf scan itself
        # (relational FK sources), the ancestor props join on that
        # (small, typically int) parent key instead of re-scanning the
        # leaf and self-joining on its doc id — one scan of the fact
        # table instead of two, and no fact⋈fact join.
        plans = []
        fused: list[str] = []
        for inj in m.injecting_props:
            path = _bfs_up(src, leaf, inj.node)
            fusible = bool(
                path
                and hasattr(src, "node_with_fks_df")
                # an injected prop named like the hop's id column would
                # collide with (and be dropped with) the FK helper column
                and not any(p.name == id_col(path[0]) for p in inj.props)
            )
            if fusible and path[0] not in fused:
                fused.append(path[0])
            plans.append((inj, path, fusible))

        df = (
            src.node_with_fks_df(leaf, tuple(fused), tuple(cols))
            if fused
            else src.node_df(leaf, tuple(cols))
        )
        # align: null-pad props this leaf lacks (reference
        # injection/new_translator.py:60-66; unionByName fills the rest)
        df = df.withColumn("source_node", F.lit(leaf))
        # document ids are strings: leaves of different types may use
        # different id types and the union must not coerce lossily
        df = df.withColumn("_doc_id", F.col(id_col(leaf)).cast("string")).drop(id_col(leaf))

        for inj, path, fusible in plans:
            if path is None:
                continue
            if fusible:
                frame = self._ancestor_frame(path[0], tuple(path[1:]), inj.node, inj.props)
                df = df.join(frame, on=id_col(path[0]), how="left")
            else:
                frame = self._injected_frame(leaf, inj.node, inj.props)
                if frame is not None:
                    df = df.join(frame, on="_doc_id", how="left")
        for hop in fused:
            df = df.drop(id_col(hop))
        return df

    def _ancestor_frame(
        self, first_hop: str, rest: tuple[str, ...], ancestor: str, props: tuple[PropSpec, ...]
    ) -> DataFrame:
        """Ancestor props keyed by the *first-hop parent* id (the FK the
        leaf scan already carries), instead of by the leaf doc id.  The
        remaining path (first_hop→…→ancestor) only touches dim-sized
        edge projections, never the leaf."""
        src = self.source
        node = src.node_df(ancestor, props)
        if not rest:  # the injected ancestor IS the direct parent
            joined = F.broadcast(node)
            unique = True
        else:
            walk = resolve_path(src, first_hop, rest)
            bridge = bridge_df(src, first_hop, walk)
            joined = bridge.join(F.broadcast(node), on=id_col(ancestor), how="inner")
            if not any(p.name == id_col(ancestor) for p in props):
                joined = joined.drop(id_col(ancestor))
            unique = walk.unique_per_root
        declared_agg = any(p.fn in ("set", "list", "sorted_list") for p in props)
        if unique and not declared_agg:
            return joined
        aggs = []
        for p in props:
            if p.fn in ("list", "sorted_list"):
                aggs.append(F.sort_array(F.collect_list(p.name)).alias(p.name))
            elif p.fn == "set" or not unique:
                aggs.append(F.sort_array(F.collect_set(p.name)).alias(p.name))
            else:
                aggs.append(F.min(p.name).alias(p.name))
        return joined.groupBy(id_col(first_hop)).agg(*aggs)

    def _injected_frame(
        self, leaf: str, ancestor: str, props: tuple[PropSpec, ...]
    ) -> DataFrame | None:
        """Props of ``ancestor`` attached to each leaf row, via the
        shortest ancestor path (BFS over child→parent links)."""
        src = self.source
        path = _bfs_up(src, leaf, ancestor)
        if path is None:
            return None
        walk = resolve_path(src, leaf, tuple(path))
        bridge = bridge_df(src, leaf, walk)
        node = src.node_df(ancestor, props)
        joined = bridge.join(F.broadcast(node), on=id_col(ancestor), how="inner")
        # keep the key column when an injected prop deliberately carries
        # the ancestor id's name (e.g. `_dataset_id` with src: id)
        if not any(p.name == id_col(ancestor) for p in props):
            joined = joined.drop(id_col(ancestor))
        joined = joined.withColumn(
            "_doc_id", F.col(id_col(leaf)).cast("string")
        ).drop(id_col(leaf))
        # aggregate when the path fans out, or when the mapping declares
        # an aggregating fn on an injected prop (reference A7 semantics:
        # fn: set/list injected props always surface as arrays,
        # ibdgc etlMapping.yaml)
        declared_agg = any(p.fn in ("set", "list", "sorted_list") for p in props)
        if walk.unique_per_root and not declared_agg:
            return joined
        aggs = []
        for p in props:
            if p.fn in ("list", "sorted_list"):
                aggs.append(F.sort_array(F.collect_list(p.name)).alias(p.name))
            elif p.fn == "set" or not walk.unique_per_root:
                aggs.append(F.sort_array(F.collect_set(p.name)).alias(p.name))
            else:  # unique path, no fn: keep scalar shape deterministically
                aggs.append(F.min(p.name).alias(p.name))
        return joined.groupBy("_doc_id").agg(*aggs)


def _harmonize_array_columns(frames: list[DataFrame]) -> list[DataFrame]:
    """When the same column is scalar on one leaf and array on another
    (injection paths of different multiplicity), lift the scalars to
    single-element arrays so the union types agree — the reference's
    collector reaches the same shape via its final set/list re-aggregation
    (``injection/new_translator.py:215-259``)."""
    from pyspark.sql import types as T

    array_cols: set[str] = set()
    scalar_seen: set[str] = set()
    for f in frames:
        for fld in f.schema.fields:
            if isinstance(fld.dataType, T.ArrayType):
                array_cols.add(fld.name)
            else:
                scalar_seen.add(fld.name)
    mixed = array_cols & scalar_seen
    if not mixed:
        return frames
    out = []
    for f in frames:
        for name in mixed:
            if name in f.columns and not isinstance(f.schema[name].dataType, T.ArrayType):
                f = f.withColumn(
                    name,
                    F.when(F.col(name).isNull(), F.lit(None)).otherwise(
                        F.array(F.col(name))
                    ),
                )
        out.append(f)
    return out


def _bfs_up(source: GraphSource, start: str, goal: str) -> list[str] | None:
    """Shortest chain of parent labels start→…→goal (exclusive of start)."""
    from collections import deque

    q = deque([(start, [])])
    seen = {start}
    while q:
        label, path = q.popleft()
        if label == goal:
            return path
        for link in source.dictionary.parents_of(label):
            if link.parent not in seen:
                seen.add(link.parent)
                q.append((link.parent, path + [link.parent]))
    return None


def build_translator(source: GraphSource, mapping: Mapping):
    if mapping.type == "aggregator":
        return Aggregator(source, mapping)
    if mapping.type == "collector":
        return Collector(source, mapping)
    raise ValueError(f"unknown mapping type {mapping.type!r}")


@dataclass
class Pipeline:
    """Multi-index orchestration incl. phase-2 cross-index joins
    (reference ``interpreter.py:34-55``).  Phase-1 results are reused
    in-memory (lineage), not round-tripped through Parquet.

    ``run`` caches every index another index joins; call ``release``
    once the results are published so a long-lived process does not
    keep (or, on an identical later plan, re-serve) that cache."""

    source: GraphSource
    mappings: list[Mapping]
    cached: list[DataFrame] = field(default_factory=list, init=False, repr=False)

    def run(self) -> dict[str, DataFrame]:
        phase1 = {m.name: build_translator(self.source, m).translate() for m in self.mappings}
        # an index referenced by another index's joining_props is a
        # fan-out point: it is both published AND re-read — cache it so
        # the cross-index join doesn't recompute the whole plan (the
        # reference round-tripped through Parquet here,
        # interpreter.py:50-55; in-memory reuse skips the write)
        referenced = {jp.index for m in self.mappings for jp in m.joining_props}
        for name in referenced:
            if name in phase1:
                phase1[name] = phase1[name].cache()
                self.cached.append(phase1[name])
        out: dict[str, DataFrame] = {}
        for m in self.mappings:
            df = phase1[m.name]
            for jp in m.joining_props:
                other = phase1.get(jp.index)
                if other is None:
                    raise KeyError(f"joining_props references unknown index {jp.index!r}")
                df = _join_index(df, other, jp)
            out[m.name] = df
        return out

    def release(self) -> None:
        """Unpersist what ``run`` cached."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def _join_index(df: DataFrame, other: DataFrame, jp) -> DataFrame:
    """Cross-index join (reference ``new_translator.py:291-370``):
    left-join ``other``'s selected props on the shared key, re-aggregated
    per key with the declared fn."""
    from tube_spark.functions.aggs import agg_expr

    key = jp.join_on
    sel = other.select(key, *[F.col(p.source).alias(p.name) for p in jp.props])
    aggs = [
        agg_expr(p.fn or "set", F.col(p.name)).alias(p.name) for p in jp.props
    ]
    grouped = sel.groupBy(key).agg(*aggs)
    return df.join(grouped, on=key, how="left")
