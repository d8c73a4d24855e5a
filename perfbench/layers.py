"""The traced run: per-layer metrics, named after the engine's modules.

Sequence, in one process:

1. set up once with the Spark event log on; spans around
   ``session.get_spark``, ``dictionary_from_json_schemas``,
   ``parse_mappings_yaml`` and ``validate_mapping``;
2. two untraced forced ETL runs to warm the JVM up (the second run is
   still markedly slower than later ones), then untraced and traced
   forced ETL runs in the order untraced, traced, traced, untraced, so
   the remaining drift from JIT warm-up cancels; ``trace.overhead_s`` is the
   difference of their medians.  Traced ETL runs carry spans around
   ``run.main``, ``Pipeline.run``, the translators, the operators, the
   source reads and the sink's publish, and the job description the
   event log groups by;
3. layer by layer, re-run what the ETL asked of that layer and write
   each output to Spark's ``noop`` sink: every node/edge frame the
   sources returned, every index plan, every operator output (timings
   of calls the ETL itself makes — ``Pipeline.run``, the sink's publish —
   come from the traced runs' spans);
4. a freshness-gated rerun without ``--force`` (``sinks.fresh_check_s``);
5. stop Spark and read the event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from spans import Tracer

WARMUP = 2
ORDER = (False, True, True, False)  # traced?
ETL_JOBS = "perfbench:etl"


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _plan_text(df) -> str:
    """The executed physical plan; for an adaptive plan, the final one."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return text.split("== Initial Plan ==")[0]


def _count_nodes(plan: str, needle: str) -> int:
    return sum(1 for line in plan.splitlines() if needle in line.split("(")[0])


def _instrument(tracer: Tracer, reads: list) -> None:
    from tube_spark import dictionary, run, session
    from tube_spark.config import mapping, validate
    from tube_spark.plans import translator
    from tube_spark.sinks import writer
    from tube_spark.sources.graph import PropsJsonGraphSource

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(dictionary, "dictionary_from_json_schemas", "dictionary.load")
    tracer.wrap(mapping, "parse_mappings_yaml", "config.parse")
    tracer.wrap(validate, "validate_mapping", "config.validate")
    tracer.wrap(run, "main", "run.main")
    tracer.wrap(translator.Pipeline, "run", "plans.translate")
    tracer.wrap(translator.Aggregator, "translate", "plans.aggregator")
    tracer.wrap(translator.Collector, "translate", "plans.collector")
    for fn in ("parent_props_df", "flatten_props_df", "aggregated_props_df",
               "nested_props_df"):
        tracer.wrap(translator, fn, f"operators.{fn[:-3]}")
    tracer.wrap(PropsJsonGraphSource, "node_df", "sources.node_df",
                on_call=lambda src, label, props=(): reads.append(("node", label, props)))
    tracer.wrap(PropsJsonGraphSource, "edge_df", "sources.edge_df",
                on_call=lambda src, child, parent: reads.append(("edge", child, parent)))
    tracer.wrap(writer.VersionedIndexWriter, "publish", "sinks.publish")
    tracer.wrap(writer, "freshness_check", "sinks.freshness_check")


def _event_log(trace_dir: str) -> dict[str, float]:
    """Task metrics of the jobs run under ``ETL_JOBS``, from the event log."""
    stage_desc: dict[int, str] = {}
    totals = defaultdict(float)
    # Spark 4 writes a directory per application (rolling event log v2)
    files = sorted((p for p in glob.glob(os.path.join(trace_dir, "**"), recursive=True)
                    if os.path.isfile(p) and not os.path.basename(p).startswith(".")),
                   key=os.path.getmtime)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    if stage_desc.get(ev.get("Stage ID")) != ETL_JOBS:
                        continue
                    totals["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        totals["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    totals["gc_ms"] += m.get("JVM GC Time", 0)
                    totals["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    totals["shuffle_b"] += sw.get("Shuffle Bytes Written", 0)
    return totals


def _jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _mapping_props(m) -> int:
    """Output properties a mapping declares."""
    def nested(ns):
        return sum(len(n.props) + nested(n.children) for n in ns)

    return (len(m.props)
            + sum(len(s.props) for pp in m.parent_props for s in pp.steps)
            + sum(len(f.props) for f in m.flatten_props)
            + len(m.aggregated_props) + nested(m.nested_props)
            + sum(len(j.props) for j in m.joining_props)
            + sum(len(i.props) for i in m.injecting_props))


def traced_run(program, runs, run_dir: str) -> dict:
    """Per-layer metrics: name -> (value, unit, samples)."""
    tracer = Tracer()
    reads: list = []
    _instrument(tracer, reads)
    try:
        return _measure(program, runs, tracer, reads, run_dir)
    finally:
        tracer.unwrap_all()
        tracer.dump(os.path.join(run_dir, "spans.json"))


def _measure(program, runs, tracer, reads, run_dir) -> dict:
    from gen import edge_table
    from oracle import current_version
    from tube_spark.operators.agg_tree import aggregated_props_df
    from tube_spark.operators.flatten import flatten_props_df
    from tube_spark.operators.nested import nested_props_df
    from tube_spark.operators.parent import parent_props_df
    from tube_spark.plans.translator import Pipeline
    from tube_spark.sources.graph import PropsJsonGraphSource

    tracer.enabled = True
    tracer.run_id = "setup"
    with tracer.span("setup"):
        program.setup()
    spark = program.spark
    out: dict[str, tuple[float, str, int]] = {}
    out["session.start_s"] = (tracer.total("session.get_spark"), "s", 1)
    out["config.parse_s"] = (tracer.total("config.parse"), "s", 1)
    out["config.validate_s"] = (tracer.total("config.validate"), "s", 1)
    out["dictionary.load_s"] = (tracer.total("dictionary.load"), "s", 1)
    out["config.mappings"] = (len(program.mappings), "count", 1)
    out["config.props"] = (sum(_mapping_props(m) for m in program.mappings), "count", 1)

    # warm-up, then untraced / traced runs in ABBA order
    tracer.enabled = False
    for _ in range(WARMUP):
        runs.one()
    plain, traced = [], []
    traced_ids = []
    for i, is_traced in enumerate(ORDER):
        if not is_traced:
            dt = runs.one()
            if dt is not None:
                plain.append(dt)
            continue
        tracer.enabled = True
        tracer.run_id = f"etl-{i}"
        reads.clear()
        tracer.calls.clear()
        spark.sparkContext.setJobDescription(ETL_JOBS)
        dt = runs.one()
        spark.sparkContext.setJobDescription(None)
        tracer.enabled = False
        if dt is not None:
            traced.append(dt)
            traced_ids.append(tracer.run_id)
    if not traced or not plain:
        raise RuntimeError("every traced ETL run failed")
    out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain),
                               "s", len(traced))

    # sources: what the last traced ETL read, re-read to the noop sink
    calls = dict(tracer.calls)
    tables = set()
    for kind, a, b in reads:
        tables.add(f"node_{a}" if kind == "node" else edge_table(a))
    n_calls = calls.get("sources.node_df", 0) + calls.get("sources.edge_df", 0)
    out["sources.node_df_calls"] = (calls.get("sources.node_df", 0), "count", 1)
    out["sources.edge_df_calls"] = (calls.get("sources.edge_df", 0), "count", 1)
    out["sources.tables"] = (len(tables), "count", 1)
    out["sources.reopen_ratio"] = (n_calls / max(1, len(tables)), "ratio", 1)
    src = PropsJsonGraphSource(spark, os.path.join(program.inputs, "graph"),
                               program.dictionary, fmt=program.manifest["format"])
    scan_s = 0.0
    for kind, a, b in list(reads):
        df = src.node_df(a, b) if kind == "node" else src.edge_df(a, b)
        scan_s += _noop(df)
    tmeta = program.manifest["tables"]
    props_mb = sum(tmeta[t]["props_bytes"] for t in tables if t in tmeta) / 1e6
    out["sources.scan_s"] = (scan_s, "s", len(reads))
    out["sources.rows"] = (sum(tmeta[t]["rows"] for t in tables if t in tmeta), "count", 1)
    out["sources.props_mb"] = (props_mb, "MB", 1)
    out["sources.parse_mb_per_s"] = (props_mb / scan_s if scan_s else float("nan"),
                                     "MB/s", 1)

    # plans: Pipeline.run as the traced ETL runs called it (lazy), then
    # every index plan executed to the noop sink
    translate = [tracer.total("plans.translate", r) for r in traced_ids]
    out["plans.translate_s"] = (statistics.median(translate), "s", len(translate))
    results = Pipeline(src, program.mappings).run()
    exec_s = collector_s = 0.0
    plans = []
    kinds = {m.name: m.type for m in program.mappings}
    for name, df in results.items():
        dt = _noop(df)
        exec_s += dt
        if kinds[name] == "collector":
            collector_s += dt
        plans.append(_plan_text(df))
    spark.catalog.clearCache()
    out["plans.exec_s"] = (exec_s, "s", len(results))
    out["plans.collector_s"] = (collector_s, "s", 1)
    text = "\n".join(plans)
    out["plans.exchanges"] = (_count_nodes(text, "Exchange"), "count", 1)
    out["plans.joins"] = (_count_nodes(text, "Join"), "count", 1)
    out["plans.cached_indexes"] = (sum(1 for df in results.values() if df.is_cached),
                                   "count", 1)
    scans = _count_nodes(text, "FileScan")
    out["sources.plan_scans"] = (scans, "count", 1)
    out["sources.scan_amplification"] = (scans / max(1, len(tables)), "ratio", 1)

    # operators: each operator's outputs for every mapping, to the noop sink
    op_s = defaultdict(float)
    for m in program.mappings:
        if m.type != "aggregator":
            continue
        for pp in m.parent_props:
            op_s["parent"] += _noop(parent_props_df(src, m.root, pp)[0])
        for fp in m.flatten_props:
            op_s["flatten"] += _noop(flatten_props_df(src, m.root, fp))
        if m.aggregated_props:
            for f in aggregated_props_df(src, m.root, m.aggregated_props):
                op_s["agg_tree"] += _noop(f)
        for np_ in m.nested_props:
            op_s["nested"] += _noop(nested_props_df(src, m.root, np_))
    for op in ("parent", "flatten", "agg_tree", "nested"):
        out[f"operators.{op}_s"] = (op_s[op], "s", 1)

    # sinks: publish time of the traced ETL runs and the published volume
    publish = [tracer.total("sinks.publish", r) for r in traced_ids]
    out["sinks.publish_s"] = (statistics.median(publish), "s", len(publish))
    out["sinks.write_overhead_s"] = (out["sinks.publish_s"][0] - exec_s, "s", 1)
    docs = files = nbytes = 0
    con = runs.oracle.con
    for m in program.mappings:
        path = current_version(program.out_dir, m.name)
        docs += con.execute(
            f"select count(*) from read_parquet('{path}/*.parquet')").fetchone()[0]
        for dirpath, _, names in os.walk(path):
            data = [n for n in names if not n.startswith((".", "_"))]
            files += len(data)
            nbytes += sum(os.path.getsize(os.path.join(dirpath, n)) for n in data)
    out["sinks.docs"] = (docs, "count", 1)
    out["sinks.files_written"] = (files, "count", 1)
    out["sinks.mb_written"] = (nbytes / 1e6, "MB", 1)
    out["sinks.bytes_per_doc"] = (nbytes / max(1, docs), "B", 1)
    fresh = []
    for _ in range(3):
        dt, rc = program.etl(force=False)
        if rc != 0:
            raise RuntimeError(f"freshness-gated rerun returned {rc}")
        fresh.append(dt)
    out["sinks.fresh_check_s"] = (statistics.median(fresh), "s", len(fresh))

    out["session.jvm_hwm_mb"] = (_jvm_hwm_mb(spark), "MB", 1)
    program.stop()
    ev = _event_log(os.path.join(run_dir, "eventlog"))
    n = len(traced_ids)
    out["operators.shuffle_write_mb"] = (ev["shuffle_b"] / 1e6 / n, "MB", n)
    out["operators.spill_mb"] = (ev["spill_b"] / 1e6 / n, "MB", n)
    out["operators.tasks"] = (ev["tasks"] / n, "count", n)
    out["operators.failed_tasks"] = (ev["failed_tasks"] / n, "count", n)
    out["operators.gc_s"] = (ev["gc_ms"] / 1e3 / n, "s", n)
    return out
