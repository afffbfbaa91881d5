"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload dashboard_rw --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``, with ``--trace 1`` the per-layer metrics of the
traced run. Everything the run writes stays under
``perfbench/.work/`` and is removed at exit, except a traced run's
spans, kept as ``perfbench/.work/spans-<workload>-<seed>.jsonl``. The
exit code is 0 when every answer was correct, 1 on a wrong answer or a
failed operation, 2 when the checkout has no engine to run, 3 when a
metric the run emits is not named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark cores: the machine's, at most 4, less one left to the driver's
# own threads (the Python client, py4j, the JVM's scheduler and GC).
# With every core given to Spark on a shared 4-vCPU VM, runs of
# registry_batch interleaved with 3-core runs spread 0.20 in round_ms
# against 0.05, at the same median.
MAX_CPUS = 4


def _env(work: str, cpus: int) -> None:
    """Pin the engine's cores and memory, and keep every file the JVM,
    Spark and Python write inside the work dir. Must run before
    pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
            # the heap is committed and touched whole at start, so peak
            # RSS does not step with G1's heap expansions
            f'-Xms2g -XX:+AlwaysPreTouch -Dderby.system.home={work}" '
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })


def _stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - TimeoutExpired: force it
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "quack_reduce_spark", "__init__.py")):
        print("perfbench: no quack_reduce_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, max(1, min(MAX_CPUS, os.cpu_count() or 1) - 1))
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
    if args.trace:
        from spans import Tracer

        run.tracer = Tracer()
    t0 = time.perf_counter()
    try:
        out = workloads.WORKLOADS[args.workload](run)
    finally:
        _stop_jvm()
        if run.trace and os.path.exists(run.path("spans.jsonl")):
            os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
            shutil.move(run.path("spans.jsonl"),
                        os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    workloads.log(f"{args.workload} seed {args.seed}: {time.perf_counter() - t0:.1f}s wall")

    metrics = out["layers"] if args.trace else out["e2e"]
    if args.trace:
        metrics["engine.stale_answers"] = float(run.stale)
        metrics["run.fail_ratio"] = run.failed / max(1, run.attempted)
    units = _units(args.trace)
    unknown = sorted(set(metrics) - set(units))
    if unknown:
        print(f"perfbench: metrics missing from BENCHMARK.json: {unknown}", file=sys.stderr)
        return 3
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


def _units(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = spec["per_layer"] if trace else spec["end_to_end"]
    return {m["name"]: m["unit"] for m in rows}


if __name__ == "__main__":
    sys.exit(main())
