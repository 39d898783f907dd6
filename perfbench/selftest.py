"""Self-test of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

    python3 perfbench/selftest.py --reference <dir of TPC-H-like parquet>

Checks, in about ten minutes on four cores:
1. every workload prints every end-to-end metric (``--trace 0``) and every
   per-layer metric (``--trace 1``) named in BENCHMARK.json, with its unit,
   and no operation fails;
2. a wrong expected digest is counted as a failed operation;
3. the same seed reproduces identical commit batches and identical
   per-operation job, stage and task counts.

With ``--reference`` it first checks that ``datagen.py``, at the
reference's scale, writes the reference's tables: same row counts and
columns, numeric columns with the same 1st, 50th and 99th percentiles and
mean (within 2% of the range plus sampling error), and string columns of few values with the
same value set.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]


def _fail(msg: str) -> None:
    print(f"FAIL {msg}", flush=True)
    sys.exit(1)


def check_outputs(spec: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in (x["name"] for x in spec["workloads"]):
        for trace, want in ((0, e2e), (1, layer)):
            out = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "3",
                 "--seconds", "1", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=300,
            )
            if out.returncode != 0:
                _fail(f"{w} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                _fail(f"{w}: result keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                _fail(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                      f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
            if not res["correct"] or res["failed"]:
                _fail(f"{w} trace={trace}: {res['failed']} of {res['attempted']} operations failed")
            if trace == 0 and any(v["value"] <= 0 for v in res["metrics"].values()):
                _fail(f"{w}: an end-to-end metric is not positive: {res['metrics']}")
            print(f"ok   {w} trace={trace}: {len(got)} metrics, {res['attempted']} operations",
                  flush=True)


def check_reference(ref: Path, work: Path) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    import datagen

    sf = pq.ParquetFile(ref / "lineitem.parquet").metadata.num_rows / 6_000_000
    datagen.generate(str(work / "ref-gen"), sf)
    bad = []
    for t in datagen.TABLES:
        a = pq.read_table(work / "ref-gen" / f"{t}.parquet")
        b = pq.read_table(ref / f"{t}.parquet")
        if a.num_rows != b.num_rows or a.column_names != b.column_names:
            bad.append(f"{t}: {a.num_rows} rows {a.column_names} vs {b.num_rows} {b.column_names}")
            continue
        for c in a.column_names:
            x, y = a.column(c), b.column(c)
            if pa_numeric(x.type):
                xs, ys = (np.asarray(v.cast(pa.int64()) if pt.is_timestamp(v.type) else v,
                                     dtype=np.float64) for v in (x, y))
                span = max(ys.max() - ys.min(), 1e-9)
                q = [1, 50, 99]
                diffs = (*(np.percentile(xs, q) - np.percentile(ys, q)), xs.mean() - ys.mean())
                if max(abs(d) for d in diffs) > (0.02 + len(ys) ** -0.5) * span:
                    bad.append(f"{t}.{c}: p1/p50/p99/mean differ by {diffs}")
            elif str(x.type) == "string" and pc.count_distinct(y).as_py() <= 100:
                if set(pc.unique(x).to_pylist()) != set(pc.unique(y).to_pylist()):
                    bad.append(f"{t}.{c}: value sets differ")
    if bad:
        _fail("generated tables differ from the reference:\n  " + "\n  ".join(bad))
    print(f"ok   datagen at sf {sf:g} matches the reference tables", flush=True)


def pa_numeric(t) -> bool:
    import pyarrow.types as pt

    return pt.is_integer(t) or pt.is_floating(t) or pt.is_timestamp(t)


def check_in_process(work: Path) -> None:
    import run  # sets nothing at import time

    run.pin_env(work)
    import datagen
    from harness import Loop, stop_spark
    from incubator_paimon_trino_spark import get_spark
    from tracing import Tracer
    import layers
    from workloads import HeadlineOlap, LakeIngest

    spark = get_spark("perfbench-selftest")
    try:
        # 2. a wrong expected digest counts as a failure
        tracer = Tracer(spark)
        data = str(work / "data")
        datagen.generate(data)
        h = HeadlineOlap(spark, 1, tracer, data)
        h.prepare(work)
        name = "q6_forecast_revenue"
        loop = Loop()
        loop.run_op(h._op(name), tracer, "t-1")
        h.expected[name] = "0" * 64
        loop.run_op(h._op(name), tracer, "t-2")
        if (loop.attempted, loop.failed) != (2, 1):
            _fail(f"wrong digest: attempted={loop.attempted} failed={loop.failed}")
        print("ok   a wrong expected digest is a failed operation", flush=True)

        # 3. same seed -> same batches and the same counts per operation
        layers.install_shims(tracer)
        tracer.enabled = True
        runs = []
        for i in range(2):
            w = LakeIngest(spark, 5, tracer, data)
            (work / f"i{i}").mkdir()
            w.build(work / f"i{i}")
            w.prepare(work / f"i{i}")
            loop = Loop()
            for op in w.warm_ops():
                loop.run_op(op, tracer, f"w{i}-{op.name}", timed=False)
            first = len(tracer.ops)
            ops = next(w.passes())
            for j, op in enumerate(ops):
                loop.run_op(op, tracer, f"r{i}-{j}")
            if loop.failed:
                _fail(f"ingest replay {i}: {loop.failed} failed operations")
            batches = sorted((work / f"i{i}" / "batches").glob("*.parquet"))
            import pyarrow.parquet as pq

            runs.append({
                "batches": [pq.read_table(b).to_pydict() for b in batches],
                "counts": [(r["name"], r["jobs"], r["stages"], r["tasks"])
                           for r in tracer.ops[first:]],
            })
            w.close()
        tracer.unshim()
        if runs[0]["batches"] != runs[1]["batches"]:
            _fail("the same seed produced different commit batches")
        if runs[0]["counts"] != runs[1]["counts"]:
            diff = [(a, b) for a, b in zip(runs[0]["counts"], runs[1]["counts"]) if a != b]
            _fail(f"the same seed produced different job/stage/task counts: {diff[:5]}")
        print(f"ok   same seed: {len(runs[0]['batches'])} identical batches, "
              f"{len(runs[0]['counts'])} operations with identical counts", flush=True)
    finally:
        stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", type=Path, help="directory of reference parquet tables")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    import layers

    if {m["name"] for m in spec["per_layer"]} != set(layers.NAMES):
        _fail("BENCHMARK.json per_layer names differ from layers.NAMES")
    work = ROOT / ".perfbench" / f"selftest-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        if args.reference:
            check_reference(args.reference, work)
        check_in_process(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    check_outputs(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
