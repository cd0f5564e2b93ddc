"""The ``ingest_query_mix`` workload: one caller runs passes over a fixed
mix. A pass ingests the next slice of the change log through the streaming
materializer into the transactional snapshot sink (``stream.py``), then
runs a fixed list of ``registry()`` queries (``common.QUERY_MIX``).

Set-up builds a Spark session and registers every table as a view. An
untimed warm-up pass runs the whole mix once, so the measured passes see
compiled code and cached files. About ``--seconds`` of measured passes
follow (their number is fixed by ``--seconds``, see ``PASS_S``); the
latency is the median wall time of one pass. Correctness, checked after
the timed region: the snapshot after the last slice must equal
``cdc_materialize`` over the same prefix of the log, and each query's
last result must match its DuckDB oracle (``tests/oracle_check``).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

import pyarrow.parquet as pq

import datagen
import stream
from common import QUERY_MIX, Context, Outcome, median, session_layers, timed_setups
from tracing import NullTracer, duration_ms

TABLES = datagen.TABLES  # the input tables this workload reads
# seconds one pass takes at sf0.1 on 4 cores: a run makes
# round(--seconds / PASS_S) measured passes, so how many it makes does
# not depend on the speed of the code under test
PASS_S = 6.5


class _Frozen:
    """A computed result handed to ``compare_one`` in place of a lazy
    DataFrame, so the check does not run the query again."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _oracle_check(root: str):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tests", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["oracle_check"] = mod
    spec.loader.exec_module(mod)
    return mod


def corrupt_sql(sql: str) -> str:
    """The oracle's answer with its first row repeated: a wrong expected
    answer for any non-empty result."""
    return f"SELECT * FROM ({sql}) _o UNION ALL (SELECT * FROM ({sql}) _d LIMIT 1)"


def oracle_gate(oc, con, name: str, pdf, sql: str, data_dir: str) -> tuple[bool, str]:
    r = oc.compare_one(None, con, name, lambda _s, _d: _Frozen(pdf), sql, data_dir)
    return r.ok, r.detail or f"{r.spark_rows} rows"


def run(ctx: Context) -> Outcome:
    from cdc_cloudrun_demo_spark.catalog import register_views
    from cdc_cloudrun_demo_spark.operators import registry
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import TxSnapshotStore

    queries, oracles = registry()
    n_passes = max(1, round(ctx.seconds / PASS_S))
    slice_events = stream.SMOKE_SLICE_EVENTS if ctx.smoke else stream.SLICE_EVENTS
    # one slice for the warm-up pass and one for each measured pass
    slices = stream.write_slices(ctx.spark, ctx.data_dir, os.path.join(ctx.work_dir, "slices"),
                                 slice_events, 1 + n_passes)
    setup_times = timed_setups(ctx, lambda spark, _i: register_views(spark, ctx.data_dir))
    spark = ctx.spark
    ingest = stream.Ingest(spark, slices, os.path.join(ctx.work_dir, "ingest"))
    progress, results = [], {}

    def one_pass(tracer) -> tuple[float, float]:
        """Run the mix once: returns the seconds of the ingest step and of
        the queries."""
        t0 = time.perf_counter()
        progress.append(ingest.step())
        t1 = time.perf_counter()
        for name in QUERY_MIX:
            with tracer.span(f"query.{name}"):
                results[name] = queries[name](spark, ctx.data_dir).toPandas()
        return t1 - t0, time.perf_counter() - t1

    warm_s = sum(one_pass(NullTracer()))

    tracer = ctx.tracer
    orig_commit = TxSnapshotStore.commit
    if tracer.enabled:

        def commit(self, *a, **kw):
            with tracer.span("tx.commit"):
                return orig_commit(self, *a, **kw)

        TxSnapshotStore.commit = commit
    try:
        t_start = time.perf_counter()
        parts = [one_pass(tracer) for _ in range(n_passes)]
        elapsed = time.perf_counter() - t_start
    finally:
        TxSnapshotStore.commit = orig_commit
    passes = [a + b for a, b in parts]

    # correctness, outside the timed region: the snapshot after the last
    # slice, and the last result of every query
    t_check = time.perf_counter()
    n_events = sum(pq.read_metadata(p).num_rows for p in slices)
    want = stream.expected(spark, os.path.join(ctx.data_dir, "events.parquet"), n_events,
                           os.path.join(ctx.work_dir, "expected"))
    if ctx.corrupt:
        k = next(iter(want))
        want[k] = ("corrupted-expected-value", want[k][1])
    ingested = sum(p["numInputRows"] for ps in progress for p in ps)
    bad, detail = stream.check_snapshot(stream.snapshot(spark, ingest.state_dir), want)
    checks = [
        ("every slice was ingested", ingested == n_events, f"{ingested} of {n_events} events"),
        ("snapshot equals cdc_materialize", bad == 0, detail),
    ]
    oc = _oracle_check(ctx.repo_root)
    con = oc.duck_connection(ctx.data_dir)
    for name in QUERY_MIX:
        sql = corrupt_sql(oracles[name]) if ctx.corrupt else oracles[name]
        ok, detail = oracle_gate(oc, con, name, results[name], sql, ctx.data_dir)
        checks.append((f"{name} matches its DuckDB oracle", ok, detail))
    con.close()
    check_s = time.perf_counter() - t_check

    ops_per_pass = 1 + len(QUERY_MIX)
    throughput = n_passes * ops_per_pass / elapsed
    per_layer = {}
    if tracer.enabled:
        stream.trace_progress(tracer, [p for ps in progress[1:] for p in ps], ingest.state_dir)
        per_layer = {**session_layers(ctx), **stream.layers(tracer)}
        for name in QUERY_MIX:
            per_layer[f"query.{name}_ms"] = median([duration_ms(s) for s in tracer.named(f"query.{name}")])
        per_layer["client.throughput_per_s"] = throughput
    return Outcome(
        # ingest steps and queries run, the warm-up's included
        attempted=(1 + n_passes) * ops_per_pass,
        failed=sum(not ok for _n, ok, _d in checks),
        checks=checks,
        end_to_end={
            "setup_s": median(setup_times),
            "latency_p50_ms": median(passes) * 1000.0,
        },
        per_layer=per_layer,
        notes={
            "throughput_per_s": throughput,
            "passes": n_passes,
            "pass_s": passes,
            "ingest_s": [a for a, _b in parts],
            "queries_s": [b for _a, b in parts],
            "trigger_ms": [float(p["durationMs"]["triggerExecution"]) for ps in progress[1:] for p in ps],
            "elapsed_s": elapsed,
            "workload_setup_s": setup_times,
            "warm_s": warm_s,
            "check_s": check_s,
        },
    )
