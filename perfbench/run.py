"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run it from the root of a checkout of the repository. It generates the
inputs from ``--seed``, starts a local Spark session, runs the workload
for about ``--seconds`` seconds, checks every answer, and prints one JSON
object as the last line of standard output:

    {"correct": true, "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans around the engine's calls and the metrics are the
per-layer ones (spans are written to ``.bench_work/traces/``). Every run
also writes its full result, both metric sets included, to
``.bench_work/results/``; ``overhead.py`` compares traced and untraced
results there. A human-readable summary goes to standard error.

Everything the run writes stays under ``.bench_work/`` in the checkout.
The exit code is 0 when every check passed, 1 when a check failed or the
run broke, and 2 when the directory is not a checkout of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from common import END_TO_END, PER_LAYER, Context, cpu_ticks, host_steal_share  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("serve_read_mostly", "ingest_query_mix")
SF = 0.1
SMOKE_SF = 0.001
RUN_LIMIT_S = 170
CPUS = max(1, min(4, os.cpu_count() or 1))
DRIVER_MEM = "3g"


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001 inputs and one set-up, for testing the benchmark itself")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt the expected answers; every correctness gate must then fail")
    return p.parse_args(argv)


def _hermetic_env(root: str, run_dir: str) -> None:
    """Point every file the engine, Spark, the JVM and Python workers
    write into the run directory, and make the package importable by
    Python workers."""
    work = os.path.dirname(run_dir)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CDS_DIR=os.path.join(work, "cds"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, root)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _on_alarm(_sig, _frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _summary(args, outcome, metrics_e2e, metrics_layer) -> str:
    lines = [f"== {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}"]
    for name, v in metrics_e2e.items():
        lines.append(f"  {name:34s} {v:14.4f} {END_TO_END[name]}")
    for name, v in metrics_layer.items():
        lines.append(f"  {name:34s} {v:14.4f} {PER_LAYER[name]}")
    rate = outcome.failed / outcome.attempted if outcome.attempted else 0.0
    lines.append(f"  error_rate {rate:.6f} ({outcome.failed} of {outcome.attempted})")
    for name, ok, detail in outcome.checks:
        lines.append(f"  [{'ok' if ok else 'FAIL'}] {name}: {detail}")
    for k, v in outcome.notes.items():
        lines.append(f"  {k}: {v}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "cdc_cloudrun_demo_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "tests", "oracle_check.py"))
    ):
        print(f"{root} is not a checkout of the repository: run from its root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _hermetic_env(root, run_dir)
    os.chdir(run_dir)

    # Everything but the result line goes to stderr, including what the
    # JVM and its children print to the inherited stdout.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    spark = None
    try:
        from cdc_cloudrun_demo_spark.session import ensure_cds_archive, get_spark

        # one-time install of the JVM class-data archive, outside the limit
        ensure_cds_archive()
        signal.signal(signal.SIGALRM, _on_alarm)
        signal.alarm(RUN_LIMIT_S)

        if args.workload == "serve_read_mostly":
            import serving as workload
        else:
            import mix as workload
        sf = SMOKE_SF if args.smoke else SF
        data_dir = datagen.write_tables(os.path.join(run_dir, "data"), args.seed, sf, workload.TABLES)
        tracer = Tracer() if args.trace else NullTracer()
        app_name = f"perfbench-{args.workload}"
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=app_name)

        def new_session():
            nonlocal spark
            spark.stop()
            t = time.perf_counter()
            spark = get_spark(app_name=app_name)
            return spark, time.perf_counter() - t

        ctx = Context(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            sf=sf,
            data_dir=data_dir,
            work_dir=run_dir,
            repo_root=root,
            spark=spark,
            session_start_s=time.perf_counter() - t0,
            new_session=new_session,
            corrupt=args.corrupt,
            tracer=tracer,
            setups=2 if args.smoke else 3,
            smoke=args.smoke,
        )
        ticks = cpu_ticks()
        outcome = workload.run(ctx)
        signal.alarm(0)
        outcome.notes["run_wall_s"] = time.perf_counter() - T_PROCESS
        outcome.notes["host_steal_share"] = host_steal_share(ticks, cpu_ticks())

        e2e = {k: float(outcome.end_to_end[k]) for k in END_TO_END}
        layer = {k: float(outcome.per_layer.get(k, 0.0)) for k in PER_LAYER} if args.trace else {}
        print(_summary(args, outcome, e2e, layer), file=sys.stderr)

        tag = f"{args.workload}-seed{args.seed}"
        for sub in ("results", "traces"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        with open(os.path.join(work, "results", f"{tag}-trace{args.trace}.json"), "w") as fh:
            json.dump({"end_to_end": e2e, "per_layer": layer, "notes": outcome.notes,
                       "checks": outcome.checks, "attempted": outcome.attempted,
                       "failed": outcome.failed}, fh, indent=1, default=str)
        if args.trace:
            ctx.tracer.write(os.path.join(work, "traces", f"{tag}.json"))
    except BaseException:
        signal.alarm(0)
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)

    units = {**END_TO_END, **PER_LAYER}
    metrics = layer if args.trace else e2e
    result = {
        "correct": outcome.correct,
        "attempted": int(outcome.attempted),
        "failed": int(outcome.failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0 if outcome.correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
