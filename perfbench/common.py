"""Shared pieces of the benchmark: the run context, metric names and
units, percentiles, Spark job counting and memory measurement."""

from __future__ import annotations

import os
import resource
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from tracing import NullTracer, Tracer

# End-to-end metrics: every workload reports all of them (BENCHMARK.json).
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
}

# The registry queries of ingest_query_mix, run in this order: one or two
# from each operator and function family the registry covers.
QUERY_MIX = (
    "agg_pricing_summary",
    "join_star_revenue",
    "cdc_materialize",
    "win_streaks",
    "dedup_exact",
    "text_quality_score",
)

# Per-layer metrics: the traced run reports all of them on every workload;
# a layer the workload does not reach reports 0.
PER_LAYER = {
    # completed operations per second, as the clients saw it: unbounded,
    # because closed-loop throughput spreads too widely run to run here
    "client.throughput_per_s": "1/s",
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "serving.read_p90_ms": "ms",
    "serving.find_by_id_ms": "ms",
    "serving.http_overhead_ms": "ms",
    "serving.write_method_ms": "ms",
    "serving.write_p50_ms": "ms",
    "serving.write_p90_ms": "ms",
    "serving.flushes": "count",
    "serving.reads_with_flush_ratio": "ratio",
    "spark.jobs_per_read": "count",
    "spark.tasks_per_read": "count",
    "log.batches": "count",
    "log.bytes_per_write": "bytes",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_rows_total": "count",
    "stream.state_memory_bytes": "bytes",
    "tx.commit_ms": "ms",
    "tx.state_bytes": "bytes",
    "tx.state_files": "count",
    **{f"query.{q}_ms": "ms" for q in QUERY_MIX},
}


@dataclass
class Context:
    """Everything a workload needs: its inputs, its run length and where
    to write."""

    workload: str
    seed: int
    seconds: float
    sf: float
    data_dir: str
    work_dir: str
    repo_root: str
    spark: object = None
    session_start_s: float = 0.0
    # stops ``spark``, builds a fresh session in the same JVM and returns
    # it with the seconds the build took
    new_session: Callable[[], tuple[object, float]] | None = None
    corrupt: bool = False
    tracer: Tracer | NullTracer = field(default_factory=NullTracer)
    setups: int = 3
    smoke: bool = False


@dataclass
class Outcome:
    """What a workload run returns to ``run.py``."""

    attempted: int
    failed: int
    checks: list[tuple[str, bool, str]]
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    notes: dict[str, object] = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(ok for _n, ok, _d in self.checks)


def timed_setups(ctx: Context, setup: Callable[[object, int], None],
                 teardown: Callable[[], None] = lambda: None) -> list[float]:
    """Time ``ctx.setups`` set-ups, each a fresh Spark session plus
    ``setup(spark, i)``. The first uses the session ``run.py`` launched
    and counts its start; later ones call ``teardown``, stop the session
    and build a new one in the same JVM, so their median does not rest on
    one JVM launch. Teardown and stop are not timed."""
    times = []
    for i in range(ctx.setups):
        if i:
            teardown()
            ctx.spark, start_s = ctx.new_session()
        else:
            start_s = ctx.session_start_s
        t0 = time.perf_counter()
        setup(ctx.spark, i)
        times.append(start_s + time.perf_counter() - t0)
    return times


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark driver JVM plus this Python
    process (each process's own high-water mark)."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return len(jobs), tasks


def cpu_ticks() -> list[int] | None:
    """The aggregate ``cpu`` line of ``/proc/stat`` (None off Linux)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def host_steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings: the host's load, which slows every timing."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) and len(d) > 7 else None


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _dirs, names in os.walk(path)
        for n in names
    )


def mark(tracer, name: str, **attrs) -> None:
    """A zero-length span that carries counts measured at its moment."""
    now = time.perf_counter()
    tracer.add(name, now, now, **attrs)


def session_layers(ctx: Context) -> dict[str, float]:
    """Every per-layer metric at 0 except the session's own, which come
    from the ``session.start`` span and a ``session.memory`` mark."""
    tr = ctx.tracer
    mark(tr, "session.memory", peak_rss_mb=peak_rss_mb(ctx.spark))
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"] = sum(s["end"] - s["start"] for s in tr.named("session.start"))
    out["session.peak_rss_mb"] = tr.named("session.memory")[-1]["attrs"]["peak_rss_mb"]
    return out
