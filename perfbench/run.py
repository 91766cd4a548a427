"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload aci_ddb_lookup --seed 1 --seconds 10 --trace 0

Prints one JSON line with the run's context (op latency with its sample
count, contention, Spark version; with --trace 1 also the span tree), then,
as the last line, the result: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Inputs,
mirrors, journals and event logs live in a temporary directory under
``.perfbench_tmp/`` that is removed at the end; with --trace 1 the full span
list is kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aci_export_spark", "__init__.py")):
        print("perfbench: aci_export_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    import measure

    n = measure.n_cpus()
    # set before the session module is imported and the JVM is launched;
    # PYTHONPATH lets the PySpark workers import the program from any cwd
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (root, os.environ.get("PYTHONPATH")) if x)
    sys.path.insert(0, root)

    from workloads import E2E_UNITS, PER_LAYER_UNITS, WORKLOADS
    from runner import Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # keep every scratch file of Python, Spark and the JVM inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        x for x in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData") if x)
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), root, tmp)
    try:
        e2e, layer = WORKLOADS[args.workload](b)
    finally:
        b.shutdown()
        shutil.rmtree(tmp, ignore_errors=True)
    if args.trace:
        out = os.path.join(root, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump([dataclasses.asdict(s) for s in b.traced_spans], f)
    values, units = (layer, PER_LAYER_UNITS) if args.trace else (e2e, E2E_UNITS)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **b.info}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
