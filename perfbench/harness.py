"""Closed-loop driver, statistics, process-tree memory and Spark shutdown."""

from __future__ import annotations

import os
import signal
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Op:
    """One benchmark operation. ``run`` does the timed work and returns
    what ``check`` (untimed) verifies; ``kind`` groups latencies:
    ``query``/``read`` are reads, every other kind is a write."""

    name: str
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    plan_df: Callable[[Any], Any] | None = None  # the DataFrame whose plan to walk
    pre: Callable[[], None] | None = None  # untimed preparation


@dataclass
class Sample:
    name: str
    kind: str
    seconds: float  # wall time less the host's CPU steal (``unstolen``)
    ok: bool
    traced: bool
    rec: dict | None = None
    wall: float = 0.0


@dataclass
class Loop:
    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    wall_s: float = 0.0
    pass_s: list[float] = field(default_factory=list)  # operation time per pass

    def run_op(self, op: Op, tracer, op_id: str, timed: bool = True) -> Sample:
        """Run, time and check one operation; a raised error or a wrong
        result counts as failed."""
        from tracing import plan_metrics

        self.attempted += 1
        rec, dt = None, 0.0
        c0 = c1 = (0, 0)
        try:
            if op.pre is not None:
                op.pre()
            with tracer.op(op_id, op.name, op.kind) as rec:
                c0 = busy_steal_ticks()
                t0 = time.perf_counter()
                try:
                    result = op.run()
                finally:
                    dt = time.perf_counter() - t0
                    c1 = busy_steal_ticks()
            if rec is not None and op.plan_df is not None:
                rec["plan"] = plan_metrics(op.plan_df(result))
        except Exception:
            traceback.print_exc()
            ok = False
        else:
            try:
                ok = bool(op.check(result))
            except Exception:
                traceback.print_exc()
                ok = False
        if not ok:
            self.failed += 1
            print(f"# FAILED {op.name} ({op.kind})", flush=True)
        s = Sample(op.name, op.kind, unstolen(dt, c0, c1), ok, rec is not None, rec, wall=dt)
        if timed:
            self.samples.append(s)
        return s


def busy_steal_ticks() -> tuple[int, int]:
    """Machine-wide CPU ticks since boot that this machine's virtual CPUs
    ran (user, nice, system, irq, softirq) and that the host stole from
    them to run other guests, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def unstolen(wall: float, c0: tuple[int, int], c1: tuple[int, int]) -> float:
    """``wall`` less the host's CPU steal over it: the virtual CPUs that
    wanted to run spent ``busy`` ticks running and ``steal`` ticks waiting
    for the host, so without the steal the same work takes
    ``wall * busy / (busy + steal)``. The host's load then moves the
    latencies far less than it moves wall time."""
    busy, steal = c1[0] - c0[0], c1[1] - c0[1]
    return wall * busy / (busy + steal) if busy > 0 and steal > 0 else wall


def geomean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """(90th percentile, samples above it). The percentile interpolates
    between the two nearest samples (``statistics.quantiles``, inclusive),
    so it moves smoothly with the latencies even at a few dozen samples."""
    if len(xs) < 2:
        return (xs[0] if xs else 0.0), 0
    p90 = statistics.quantiles(xs, n=10, method="inclusive")[-1]
    return p90, sum(x > p90 for x in xs)


# ------------------------------------------------------------- process tree
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(e))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident set of the processes this one started — the JVM and
    its Python workers. Sampled between operations: each sample sums the
    peak (VmHWM) of every such process alive then, so a process's in-op
    peak counts, a worker that has exited does not, and the result is the
    largest such sum."""

    def __init__(self):
        self.peak_kb = 0
        self.at_peak: dict[int, int] = {}

    def sample(self) -> None:
        now = {p: _vm_hwm_kb(p) for p in descendants(os.getpid())}
        total = sum(now.values())
        if total > self.peak_kb:
            self.peak_kb, self.at_peak = total, now

    def mb(self) -> float:
        return self.peak_kb / 1024.0

    def by_command(self) -> dict[str, list[float]]:
        """MB of each process in the peak sample, grouped by command name."""
        out: dict[str, list[float]] = {}
        for p, kb in self.at_peak.items():
            try:
                with open(f"/proc/{p}/comm") as fh:
                    name = fh.read().strip()
            except OSError:
                name = "exited"
            out.setdefault(name, []).append(round(kb / 1024.0, 1))
        return out


def cpu_seconds() -> dict[str, float]:
    """Machine-wide CPU time by state since boot, from ``/proc/stat``.
    ``steal`` is the time the host ran something else on this machine's
    virtual CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:9]
    tick = os.sysconf("SC_CLK_TCK")
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) / tick for n, v in zip(names, fields)}


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM and every
    Python worker to exit."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    for p in procs:
        while os.path.exists(f"/proc/{p}") and _is_alive(p):
            if time.time() > deadline:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
                time.sleep(0.1)
                break
            time.sleep(0.05)


def _is_alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[1][0] != "Z"
    except (OSError, IndexError):
        return False
