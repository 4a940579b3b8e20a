"""Per-op layer records of a traced run and the per-layer metrics.

Layer self times come from differencing separate materializations of
one op (see workloads: ``probe`` phases ``scan`` and ``render`` run
before the op, outside its timing):

- ``sources.scan_s``   = scan (every reader of the op to noop)
- ``pipelines.render_s`` = render (the rendered documents to noop) - scan
- ``sinks.write_s``    = full pipeline run - render

SPARQL ops split their timed call into ``compile`` (the sparql_select
call), ``plan`` (forcing the executed plan) and ``exec`` (collect);
registry queries into ``build``, ``plan`` and ``exec``, with a ``store``
phase (tpch_store) first for the registry's SPARQL queries. Jobs, stages,
tasks and task metrics come from the Spark event log, per op, over the
op's own phases (not the probe phases), except the source counters,
which are the probe scan's input metrics.
"""

from __future__ import annotations

import statistics

import harness
from eventlog import TagRecord, split_tag

PROBE_PHASES = ("scan", "render")

# every op type of the workloads in BENCHMARK.json, so each traced run
# reports the same keys (a by-hand geosparql_query run has its op types'
# medians in the run record's per_op_type only)
OP_TYPES = (
    "json_etl",
    "segmentation_etl",
    "mongo_etl",
    "hash_rewrite",
    "d08_dedup_clusters",
    "sp09_parent_closure",
    "sim06_pq_ann",
    "llm18_bpe_merges",
)

LAYER_METRICS = {
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "bytes",
    "pipelines.render_s": "s",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sparql.compile_s": "s",
    "sparql.plan_s": "s",
    "sparql.exec_s": "s",
    "driver.build_s": "s",
    "driver.plan_s": "s",
    "scheduling.jobs": "count",
    "scheduling.stages": "count",
    "scheduling.tasks": "count",
    "pyboundary.python_stages": "count",
    "pyboundary.python_task_run_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "movement.shuffle_read_bytes": "bytes",
    "movement.shuffle_write_bytes": "bytes",
    "movement.spill_bytes": "bytes",
}
# the traced run's own end-to-end figures, for the tracing overhead
TRACE_METRICS = {"trace.op_p50_s": "s", "trace.cpu_s_per_op": "s"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, in report order."""
    return {**LAYER_METRICS, **TRACE_METRICS, **{f"op.{op}_s": "s" for op in OP_TYPES}}


def _is_sparql(spans: dict) -> bool:
    # the geosparql queries time ``compile``; the registry's SPARQL
    # queries (its sp* family) time ``store``, then ``build`` = the compile
    return "compile" in spans or "store" in spans


def op_layers(rec, tags: dict[str, TagRecord]) -> dict:
    """One timed op (harness.OpRecord) + its event-log tag records -> its
    layer record."""
    own, scan = TagRecord(), TagRecord()
    for tag, t in tags.items():
        _, _, phase = split_tag(tag)
        if phase == "scan":
            scan.add(t)
        elif phase not in PROBE_PHASES:
            own.add(t)
    sp = rec.spans
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    if "full" in sp:  # a write-path op
        out["sources.scan_s"] = sp["scan"]
        out["sources.rows_read"] = scan.rows_read
        out["sources.bytes_read"] = scan.bytes_read
        out["pipelines.render_s"] = sp["render"] - sp["scan"]
        out["sinks.write_s"] = sp["full"] - sp["render"]
        out["sinks.files_written"] = rec.outcome.files
        out["sinks.bytes_written"] = rec.outcome.out_bytes
    elif _is_sparql(sp):
        out["sparql.compile_s"] = sp.get("compile", sp.get("build", 0.0))
        out["sparql.plan_s"] = sp.get("plan", 0.0)
        out["sparql.exec_s"] = sp.get("exec", 0.0)
        out["driver.build_s"] = sp.get("store", 0.0)
    else:
        out["driver.build_s"] = sp.get("build", 0.0)
        out["driver.plan_s"] = sp.get("plan", 0.0)
    out.update(
        {
            "scheduling.jobs": own.jobs,
            "scheduling.stages": own.stages,
            "scheduling.tasks": own.tasks,
            "pyboundary.python_stages": own.python_stages,
            "pyboundary.python_task_run_s": own.python_task_run_s,
            "executor.run_s": own.run_s,
            "executor.cpu_s": own.cpu_s,
            "executor.gc_s": own.gc_s,
            "movement.shuffle_read_bytes": own.shuffle_read_bytes,
            "movement.shuffle_write_bytes": own.shuffle_write_bytes,
            "movement.spill_bytes": own.spill_bytes,
        }
    )
    return {"op": rec.op, "index": rec.index, "wall_s": rec.wall_s, "spans": sp, "layers": out, "plans": own.plans}


def per_op_records(timed, tags: dict[str, TagRecord]) -> list[dict]:
    by_index: dict[str, dict[str, TagRecord]] = {}
    for tag, t in tags.items():
        parts = split_tag(tag)
        if parts is not None:
            by_index.setdefault(parts[0], {})[tag] = t
    return [op_layers(r, by_index.get(str(r.index), {})) for r in timed]


def per_layer_metrics(records: list[dict], timed) -> dict[str, float]:
    """Means per timed op of every layer metric, the traced run's own
    end-to-end counterparts, and the median of every op type (0 for op
    types the workload does not run)."""
    n = len(records)
    out = {k: sum(r["layers"][k] for r in records) / n for k in LAYER_METRICS}
    e2e = harness.end_to_end(timed)
    out["trace.op_p50_s"] = e2e["op_p50_s"]
    out["trace.cpu_s_per_op"] = e2e["cpu_s_per_op"]
    for op in OP_TYPES:
        out[f"op.{op}_s"] = e2e["op_median_s"].get(op, 0.0)
    return out


def by_op_type(records: list[dict]) -> dict[str, dict[str, float]]:
    """Median of every layer metric per op type (for the run record)."""
    groups: dict[str, list[dict]] = {}
    for r in records:
        groups.setdefault(r["op"], []).append(r["layers"])
    return {
        op: {k: statistics.median(x[k] for x in rows) for k in rows[0]} for op, rows in sorted(groups.items())
    }
