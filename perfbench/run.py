"""Benchmark entry point.

    python3 perfbench/run.py --workload suite_decode_sink --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Prints, as the last line of
stdout, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (see ``layers.py``) with ``--trace 1``. Everything it writes
goes under ``.perfbench_cache/`` (fixtures, kept across runs) and
``.perfbench_work/`` (scratch, logs, spans) in the current directory.
Exits 2 without a result when the package is not importable there.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402


def _isolate(root: str, work: str) -> None:
    """Keep every file the run (JVM, Python workers, compiled kernels)
    writes inside the checkout, and the JVM heap small."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PDVS_NATIVE_CACHE": os.path.join(work, "native"),
        "PDVS_DRIVER_MEM": "2g",
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def _shutdown() -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; its Python workers end with the session."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(run: workloads.Run, wl) -> dict:
    """The metrics a user of the system sees (see README.md)."""
    bulk = wl.measured(run.ops, wl.bulk_kind)
    point = wl.measured(run.ops, wl.point_kind)
    return {
        "setup_s": (measure.median(run.setups), "s"),
        "rows_per_s": (wl.rows / measure.median([o.wall for o in bulk]), "rows/s"),
        "cpu_s_per_m_rows": (measure.median([sum(o.cpu.values()) for o in bulk])
                             / wl.rows * 1e6, "cpu_s/Mrows"),
        "op_p50_ms": (measure.median([o.wall for o in point]) * 1e3, "ms"),
        "ok_op_share": (1 - measure.failed_share(
            sum(not o.ok for o in run.ops), len(run.ops)), "fraction"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(
            root, "perl_data_validate_sanctions_spark", "__init__.py")):
        print("perfbench: run from a checkout holding "
              "perl_data_validate_sanctions_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import bench  # the frozen harness; its machine-readiness probe
    env = workloads.Env(root, len(os.sched_getaffinity(0)))
    _isolate(root, env.work)

    run = workloads.Run(env, workloads.SPECS[args.workload], args.seed,
                        measure.Tracer(enabled=bool(args.trace)))
    wl = workloads.WORKLOADS[args.workload](run)
    stem = os.path.join(env.work, "runs", f"{args.workload}-s{args.seed}")
    t0 = time.perf_counter()
    phases = {}
    try:
        workloads.setup(run, wl, layers.event_log_dir(run) if args.trace else None)
        phases["setup"] = time.perf_counter() - t0
        # single-thread render Mpx/s, comparable only with itself
        readiness = bench._probe_mpxs(0.5)
        t1 = time.perf_counter()
        if args.trace:
            metrics = layers.traced(run, wl, stem + "-t0.json")
            metrics["machine.probe_mpxs"] = (readiness, "Mpx/s")
        else:
            wl.operate(t1 + args.seconds)
            phases["operate"] = time.perf_counter() - t1
            wl.verify()
            phases["verify"] = time.perf_counter() - t1 - phases["operate"]
            metrics = end_to_end(run, wl)
    finally:
        _shutdown()
    failed = sum(not o.ok for o in run.ops)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "readiness_mpxs": readiness, "phases_s": phases,
        "fixture_s": run.fixture_s,
        "total_s": time.perf_counter() - t0,
        "setups_s": run.setups, "session_starts_s": run.session_starts,
        "ops": [{"kind": o.kind, "cold": o.cold, "wall": o.wall, "ok": o.ok,
                 "cpu": o.cpu}
                for o in run.ops],
        "measured_walls": [o.wall for o in wl.measured(run.ops, wl.bulk_kind)],
        # (percentile, ms), or None below 11 samples: a tail needs at
        # least ten samples above it
        "point_tail_ms": measure.tail(
            [o.wall * 1e3 for o in wl.measured(run.ops, wl.point_kind)]),
        "problems": run.problems,
    }
    os.makedirs(os.path.dirname(stem), exist_ok=True)
    with open(f"{stem}-t{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        run.tracer.dump(stem + "-t1.spans.json")
    print(f"perfbench: readiness probe {readiness:.0f} Mpx/s", file=sys.stderr)
    print(json.dumps({
        "correct": not run.problems,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
