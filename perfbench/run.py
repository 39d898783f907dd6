"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One closed-loop client runs the
workload's seeded operations in whole passes, for at least ``--seconds``
seconds and the workload's minimum number of passes, checks every result,
and prints two JSON lines on stdout: a report (environment, sizes, sample
counts, every metric with its unit) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md). Times
are wall time less the host's CPU steal (``harness.unstolen``).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

from harness import busy_steal_ticks, unstolen  # noqa: E402

C0 = busy_steal_ticks()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("headline_olap", "lake_ingest")


def pin_env(work: Path) -> dict:
    """Spark settings derived from this machine, set before the JVM starts:
    one local core per usable CPU, driver memory well under physical RAM,
    spill and shuffle files inside the run's directory, and the package on
    the Python workers' path."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    driver_gb = max(1, min(2, mem_kb // (1024 * 1024) // 4))
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=str(local),
        PYTHONPATH=str(ROOT) + (os.pathsep + pp if pp else ""),
    )
    return {"cpus": cpus, "driver_memory": f"{driver_gb}g", "mem_total_gb": round(mem_kb / 2**20, 1)}


def end_to_end(W, loop, setup_s: float, attr: str = "seconds") -> tuple[dict, dict]:
    """The end-to-end metrics ``BENCHMARK.json`` names, each
    ``(value, unit)``, and what the report states about them.

    Every time is wall time less the host's CPU steal (``harness.unstolen``;
    ``attr="wall"`` gives the raw figures for the report). Each
    operation's latency is its median over the run's passes, so a burst
    that slows one pass moves no metric. The ``op_*`` metrics count the
    workload's primary operations: the queries on headline_olap, the
    commits of every kind (drains excluded) on lake_ingest."""
    from harness import geomean, tail

    by_op: dict[str, list[float]] = {}
    kind: dict[str, str] = {}
    for s in loop.samples:
        by_op.setdefault(s.name, []).append(getattr(s, attr))
        kind[s.name] = s.kind
    n_pass = len(loop.pass_s)
    med = {k: statistics.median(v) for k, v in by_op.items()}
    per_pass = {k: len(v) / n_pass for k, v in by_op.items()}
    prim = [k for k in med if kind[k] == W.primary]
    reads = [k for k in med if kind[k] in ("query", "read")]
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (
            sum(per_pass[k] for k in prim) / sum(per_pass[k] * med[k] for k in prim), "1/s"
        ),
        "op_geomean_s": (geomean([med[k] for k in prim]), "s"),
        "read_geomean_s": (geomean([med[k] for k in reads]), "s"),
        "pass_s": (sum(per_pass[k] * med[k] for k in med), "s"),
    }
    prim_samples = [x for k in prim for x in by_op[k]]
    t, above = tail(prim_samples)
    notes = {
        "passes": n_pass,
        "op_samples": len(prim_samples),
        "op_tail_s": t,
        "op_tail_percentile": 90,
        "op_samples_above_tail": above,
        "read_samples": sum(len(by_op[k]) for k in reads),
        "samples_by_op": {k: len(v) for k, v in by_op.items()},
        "p50_s_by_op": med,
        "passes_s": loop.pass_s,
        "error_rate": loop.failed / max(1, loop.attempted),
    }
    return metrics, notes


def run(args, work: Path, env: dict) -> tuple[dict, dict]:
    import datagen
    from harness import Loop, PeakRss, cpu_seconds
    from incubator_paimon_trino_spark import get_spark
    from tracing import Tracer
    import layers
    from workloads import WORKLOADS

    # the inputs are the benchmark's own work: generated before the session
    # starts and left out of set-up time
    t = time.perf_counter()
    rows = datagen.generate(str(work / "data"))
    gen_s = time.perf_counter() - t
    spark = get_spark("perfbench")
    try:
        session_s = unstolen(time.perf_counter() - T0 - gen_s, C0, busy_steal_ticks())
        tracer = Tracer(spark)
        W = WORKLOADS[args.workload](spark, args.seed, tracer, str(work / "data"))
        if args.trace:
            layers.install_shims(tracer)
        builds = []
        d = work / "fixture"
        for i in range(W.builds):
            d = work / f"fixture{i}"
            d.mkdir()
            t, c = time.perf_counter(), busy_steal_ticks()
            W.build(d)
            builds.append(unstolen(time.perf_counter() - t, c, busy_steal_ticks()))
            if i:
                shutil.rmtree(work / f"fixture{i - 1}", ignore_errors=True)
        W.prepare(d)

        loop, rss = Loop(), PeakRss()
        ids = iter(range(1, 1 << 30))
        t, c = time.perf_counter(), busy_steal_ticks()
        for op in W.warm_ops():
            loop.run_op(op, tracer, f"warm-{next(ids)}", timed=False)
            rss.sample()
        warm_s = unstolen(time.perf_counter() - t, c, busy_steal_ticks())
        setup_s = session_s + (statistics.median(builds) if builds else 0.0) + warm_s

        # whole passes until --seconds have elapsed and at least the
        # workload's minimum number of passes ran, so every run measures
        # the same mix of operations
        cpu0 = cpu_seconds()
        start = time.perf_counter()
        seen: dict[str, int] = {}
        for ops in W.passes():
            if time.perf_counter() - start >= args.seconds and len(loop.pass_s) >= W.min_passes:
                break
            busy = 0.0
            for op in ops:
                # a traced run traces every other occurrence of each
                # operation; the rest are the untraced reference for the
                # tracing overhead
                k = seen[op.name] = seen.get(op.name, -1) + 1
                tracer.enabled = bool(args.trace) and k % 2 == 0
                busy += loop.run_op(op, tracer, f"op-{next(ids)}").seconds
                rss.sample()
            loop.pass_s.append(busy)
        tracer.enabled = False
        loop.wall_s = time.perf_counter() - start
        cpu = {k: v - cpu0[k] for k, v in cpu_seconds().items()}

        extra = {}
        if W.name == "lake_ingest":
            extra = {
                "io": W.io,
                "compact_bytes": W.compact_bytes,
                "stored_bytes_per_user_byte": W.stored_ratio(),
                **W.end_state(),
            }
        e2e, notes = end_to_end(W, loop, setup_s)
        wall_e2e, wall_notes = end_to_end(W, loop, setup_s, "wall")
        extra["peak_rss_mb"] = rss.mb()
        if args.trace:
            metrics = {
                k: {"value": v, "unit": layers.UNITS[k]}
                for k, v in layers.compute(tracer, loop.samples, session_s, extra).items()
            }
            spans_path = work.parent / f"spans-{args.workload}-{args.seed}.json"
            spans_path.write_text(json.dumps(tracer.dump()))
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        report = {
            "workload": W.name,
            "seed": args.seed,
            "sf": datagen.SF,
            "trace": args.trace,
            **env,
            "input_rows": rows,
            "inputs": W.inputs(),
            **notes,
            "loop_wall_s": loop.wall_s,
            # host interference: a run slowed by other guests shows steal
            "loop_cpu_s": {k: cpu[k] for k in ("user", "system", "idle", "steal")},
            "input_gen_s": gen_s,
            "fixture_builds_s": builds,
            "warm_s": warm_s,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "wall_end_to_end": {k: v for k, (v, _) in wall_e2e.items()},
            "wall_p50_s_by_op": wall_notes["p50_s_by_op"],
            "peak_rss_mb": rss.mb(),
            "peak_rss_mb_by_command": rss.by_command(),
            **{k: extra[k] for k in ("stored_bytes_per_user_byte",) if k in extra},
        }
        result = {
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": metrics,
        }
        W.close()
        tracer.unshim()
        return result, report
    finally:
        from harness import stop_spark

        stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "incubator_paimon_trino_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: the package is not under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        env = pin_env(work)
        result, report = run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
