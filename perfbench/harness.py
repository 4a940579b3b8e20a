"""Closed-loop op runner, /proc accounting and the run's statistics.

One client thread runs the ops of a workload back to back: a warm-up
pass over every op type, then a fixed number of rounds in which every
op type runs once in a seeded order. Each op gets a fresh output
directory, created and deleted outside its timed span.
"""

from __future__ import annotations

import contextlib
import gc
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")

# --- /proc --------------------------------------------------------------


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # comm may hold spaces and parentheses; the fields follow the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    start_ticks = int(_stat_fields("self")[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(name)
        except (OSError, ValueError):
            continue  # exited while we listed
        table[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return table


def descendants(root: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int, table: dict[int, tuple[int, int]] | None = None) -> float:
    """CPU seconds (user + system) of every descendant of ``root``, the
    root itself excluded. A process's reaped children are folded into
    its own cutime/cstime, so workers that exit between two readings
    are still counted once: by the parent that reaped them."""
    table = _proc_table() if table is None else table
    return sum(table[p][1] for p in descendants(root, table)) / CLK_TCK


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


# --- statistics ---------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    values beyond it. With ten values or fewer no percentile qualifies
    and the median stands in, reported as the 50th percentile."""
    n = len(values)
    if n <= 10:
        return statistics.median(values), 50.0
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --- ops ----------------------------------------------------------------


@dataclass
class Outcome:
    """What the check of one op found."""

    ok: bool
    rows: int = 0  # input records (write ops) or result rows (query ops)
    in_bytes: int = 0
    out_bytes: int = 0
    files: int = 0
    detail: str = ""


@dataclass
class OpRecord:
    index: int
    op: str
    wall_s: float
    cpu_s: float
    outcome: Outcome
    spans: dict[str, float] = field(default_factory=dict)
    steal: float = 0.0  # share of the CPUs' time stolen during the call


class Spans:
    """Times named phases of one op and tags the Spark jobs each phase
    starts (job description ``pb|<index>|<op>|<phase>``), so the event
    log can attribute jobs, stages and tasks back to the op."""

    def __init__(self, sc, index: int | str, op: str):
        self.sc, self.prefix, self.times = sc, f"pb|{index}|{op}|", {}

    @contextlib.contextmanager
    def __call__(self, phase: str):
        self.sc.setJobDescription(self.prefix + phase)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[phase] = self.times.get(phase, 0.0) + time.perf_counter() - t0
            self.sc.setJobDescription(None)


class Op:
    """One op type. ``run`` is the timed call; ``probe`` runs only in a
    traced run, before ``run`` and outside its timing, for the extra
    materializations that split the op into layers; ``check`` compares
    the result with the generator's truth or a committed oracle."""

    name = "op"

    def run(self, ctx: str, spans: Spans):
        raise NotImplementedError

    def probe(self, ctx: str, spans: Spans) -> None:
        return None

    def check(self, ctx: str, result) -> Outcome:
        raise NotImplementedError


def run_one(spark, op: Op, index, work: str, trace: bool, root_pid: int, log) -> OpRecord:
    """Run, time and check one op; also record the share of the CPUs'
    time the hypervisor stole during the timed call."""
    ctx = os.path.join(work, "ops", f"{index}-{op.name}")
    os.makedirs(ctx)
    spans = Spans(spark.sparkContext, index, op.name)
    wall = cpu = steal = 0.0
    try:
        if trace:
            op.probe(ctx, spans)
        gc.collect()
        cpu0, ticks0 = tree_cpu_s(root_pid), cpu_times()
        t0 = time.perf_counter()
        result = op.run(ctx, spans)
        wall = time.perf_counter() - t0
        ticks1 = cpu_times()
        cpu = tree_cpu_s(root_pid) - cpu0
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        outcome = op.check(ctx, result)
    except Exception as exc:  # one failed op must not end the run
        traceback.print_exc(file=log)
        outcome = Outcome(False, detail=f"{type(exc).__name__}: {str(exc)[:200]}")
    finally:
        spark.sparkContext.setJobDescription(None)
        shutil.rmtree(ctx, ignore_errors=True)
    if not outcome.ok:
        print(f"perfbench: op {index} {op.name} failed: {outcome.detail}", file=log)
    return OpRecord(index, op.name, wall, cpu, outcome, dict(spans.times), steal)


def run_loop(spark, ops: list[Op], seed: int, rounds: int, work: str, trace: bool, log):
    """A warm-up pass, then ``rounds`` whole rounds of every op type in a
    seeded order.

    Returns (warm-up records, process age at the end of the warm-up,
    timed records, timed-phase wall seconds)."""
    root = os.getpid()
    warm = [run_one(spark, op, f"w{i}", work, trace, root, log) for i, op in enumerate(ops)]
    warm_end_age = process_age_s()
    rng = random.Random(seed)
    timed: list[OpRecord] = []
    order = list(ops)
    t0 = time.perf_counter()
    for _ in range(rounds):
        rng.shuffle(order)
        for op in order:
            timed.append(run_one(spark, op, len(timed), work, trace, root, log))
    return warm, warm_end_age, timed, time.perf_counter() - t0


def rounds_for(seconds: float, round_s: float) -> int:
    """Timed rounds for ``seconds``: a fixed count for a given
    ``seconds``, from the workload's seconds per round, so that every run
    (and both sides of an A/B) times the same mix and number of ops; at
    least two, so every op type has two samples."""
    return max(2, round(seconds / round_s))


def end_to_end(timed: list[OpRecord]) -> dict:
    """The run's end-to-end figures over its timed ops. Times come from
    the ops whose call returned (an op that raised has no time); failures
    count against all ops attempted.

    Throughput and CPU are those of the median round: every op type at
    its median time, rows and CPU seconds. A burst of host contention
    that slows one or two calls of a type then moves none of them, where
    a sum over all calls takes it in whole."""
    done = [r for r in timed if r.wall_s > 0]
    walls = [r.wall_s for r in done]
    by_type: dict[str, list[OpRecord]] = {}
    for r in done:
        by_type.setdefault(r.op, []).append(r)
    medians = {k: statistics.median(r.wall_s for r in v) for k, v in sorted(by_type.items())}
    round_s = sum(medians.values())
    round_rows = sum(statistics.median(r.outcome.rows for r in v) for v in by_type.values())
    round_cpu_s = sum(statistics.median(r.cpu_s for r in v) for v in by_type.values())
    tail_v, tail_p = tail(walls)
    failed = sum(not r.outcome.ok for r in timed)
    in_b = sum(r.outcome.in_bytes for r in done)
    return {
        "ops_per_s": len(medians) / round_s,
        "rows_per_s": round_rows / round_s,
        # The median op type's median. Op types differ up to 5x in time
        # and each runs once a round, so the median of all ops falls on
        # the edge of a group of types (the 83rd percentile of the three
        # fast query types on geosparql_query), where it follows the
        # slowest few calls of those types.
        "op_p50_s": statistics.median(medians.values()),
        "op_p50_all_s": statistics.median(walls),
        "op_tail_s": tail_v,
        "op_tail_pct": tail_p,
        "geomean_op_s": geomean(list(medians.values())),
        "cpu_s_per_op": round_cpu_s / len(medians),
        "error_rate": failed / len(timed),
        "out_bytes_per_in_byte": (sum(r.outcome.out_bytes for r in done) / in_b) if in_b else None,
        "ops": len(timed),
        "failed": failed,
        "op_median_s": medians,
    }


# --- processes ----------------------------------------------------------


def stop_spark(spark, timeout: float = 20.0) -> None:
    """Stop the session, then the JVM it runs in, then any process that
    is still a descendant of this one; wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    end = time.monotonic() + timeout
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM if time.monotonic() < end - timeout / 2 else signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > end:
            print(f"perfbench: processes still running: {left}", file=sys.stderr)
            return
        time.sleep(0.2)
