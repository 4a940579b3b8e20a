#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed, starts a local Spark session on every CPU the process may use,
warms up every op type, then runs closed-loop rounds of ops, as many
as take about ``--seconds`` on 4 cores, and checks every op's output. The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics for ``--trace 0`` and the per-layer metrics (from the
Spark event log) for ``--trace 1``. The line before it is the run
record summary; the full record goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

import eventlog
import harness
import layers
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "geomean_op_s": "s",
    "cpu_s_per_op": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(spark, steal0, steal1, nproc) -> dict:
    import pyspark

    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    return {
        "nproc": nproc,
        "loadavg": harness.loadavg(),
        "steal_pct": 100.0 * d_steal / d_total if d_total else 0.0,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def _session(work: str, workload: str, nproc: int, trace: bool):
    """The benchmark's own session: local[nproc], nproc shuffle
    partitions, a driver heap a quarter of physical memory (at most
    2 GiB) and every scratch path inside ``work``."""
    from geosparql_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap_mb = min(2048, harness.mem_total_mb() // 4)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(f"perfbench-{workload}", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "geosparql_etl_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no engine sources under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "inputs"))
    generate, build, round_s = workloads.WORKLOADS[args.workload]

    t = time.perf_counter()
    truth = generate(os.path.join(work, "inputs"), args.seed)
    gen_s = time.perf_counter() - t
    spark = None
    try:
        spark = _session(work, args.workload, nproc, trace)
        ops = build(spark, os.path.join(work, "inputs"), truth)
        steal0 = harness.cpu_times()
        warm, warm_end_age, timed, used = harness.run_loop(
            spark, ops, args.seed, harness.rounds_for(args.seconds, round_s), work, trace, sys.stderr
        )
        env = _environment(spark, steal0, harness.cpu_times(), nproc)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            harness.stop_spark(spark)

    e2e = harness.end_to_end(timed)
    e2e["setup_s"] = warm_end_age - gen_s
    failed = e2e["failed"] + sum(not r.outcome.ok for r in warm)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "gen_s": gen_s,
        "timed_phase_s": used,
        "warmup": [(r.op, r.wall_s, r.outcome.ok) for r in warm],
        "end_to_end": e2e,
        "ops": [(r.index, r.op, r.wall_s, r.cpu_s, r.steal, r.outcome.ok, r.outcome.detail) for r in timed],
    }
    if trace:
        with open(os.path.join(work, "eventlog", app_id)) as fh:
            tags = eventlog.parse(fh)
        per_op = layers.per_op_records(timed, tags)
        metrics = layers.per_layer_metrics(per_op, timed)
        units = layers.metric_units()
        record["per_layer"] = metrics
        record["per_op_type"] = layers.by_op_type(per_op)
        seen = set()
        for r in per_op:  # plans once per op type keep the record small
            if r["op"] in seen:
                r["plans"] = []
            seen.add(r["op"])
        record["per_op"] = per_op
        untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            record["trace_overhead"] = {
                k: e2e[k] - base[k] for k in ("op_p50_s", "geomean_op_s", "cpu_s_per_op", "setup_s")
            }
    else:
        metrics = {k: e2e[k] for k in E2E_UNITS}
        units = E2E_UNITS
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    keys = ("error_rate", "out_bytes_per_in_byte", "op_p50_all_s", "op_tail_s", "op_tail_pct", "ops", "op_median_s")
    summary = {k: e2e[k] for k in keys}
    summary.update(env=env, gen_s=gen_s, trace_overhead=record.get("trace_overhead"))
    print("run record: " + json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(timed),
                "failed": e2e["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
