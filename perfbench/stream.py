"""The streaming half of the ``ingest_query_mix`` workload: ingest the
change log through the keyed-state materializer into the transactional
snapshot sink, one slice at a time.

The change log (``fixtures.message_changes_df`` over the events table) is
cut into seq-ordered slices of ``SLICE_EVENTS`` events, one parquet file
each. An ``Ingest`` step publishes the next slice and restarts the query
from its checkpoint with the ``availableNow`` trigger the sink sets, so
the step's one micro-batch folds that slice through
``materialize_with_state`` into the state the earlier slices left and
commits it with ``tx_snapshot_sink`` (manifest backend). Correctness:
after the last step the committed snapshot must equal
``cdc_materialize`` over the same prefix of the log.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from common import mark, median
from tracing import duration_ms

SLICE_EVENTS = 1000
SMOKE_SLICE_EVENTS = 100
_SLICE_ARROW_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("id", pa.int64()),
        ("content", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def write_slices(spark, data_dir: str, out_dir: str, slice_events: int, count: int) -> list[str]:
    """The first ``count`` seq-ordered parquet slices of the change log;
    file modification times increase with seq so the file source lists
    them in order."""
    from cdc_cloudrun_demo_spark.fixtures import message_changes_df

    log = message_changes_df(spark, data_dir).orderBy("seq").toPandas()
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = int(time.time()) - 1_000_000
    for k, lo in enumerate(range(0, min(len(log), count * slice_events), slice_events)):
        part = log.iloc[lo : lo + slice_events]
        p = os.path.join(out_dir, f"slice_{k:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=_SLICE_ARROW_SCHEMA, preserve_index=False), p)
        os.utime(p, (base + k, base + k))
        paths.append(p)
    return paths


class Ingest:
    """An incremental change-log ingest job. Each ``step`` publishes the
    next slice into the source directory and restarts the
    ``availableNow`` query from its checkpoint, so the one micro-batch it
    runs folds just that slice into the keyed state the earlier steps
    left, and commits the result as a new snapshot."""

    def __init__(self, spark, slices: list[str], root: str):
        self.spark = spark
        self.slices = slices
        self.source = os.path.join(root, "source")
        self.state_dir = os.path.join(root, "state")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.done = 0
        os.makedirs(self.source)

    def step(self, timeout_s: float = 170) -> list[dict]:
        """Ingest the next slice; returns the progress reports of the
        micro-batches that read input."""
        from cdc_cloudrun_demo_spark.streaming.cdc_stream import CHANGE_SCHEMA, materialize_with_state
        from cdc_cloudrun_demo_spark.streaming.tx_snapshot import tx_snapshot_sink

        p = self.slices[self.done]
        os.link(p, os.path.join(self.source, os.path.basename(p)))
        self.done += 1
        stream = (
            self.spark.readStream.schema(CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.source)
        )
        q = tx_snapshot_sink(materialize_with_state(stream), self.state_dir, self.checkpoint,
                             backend="manifest")
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise RuntimeError(f"stream did not finish within {timeout_s:.0f} s")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return [p for p in q.recentProgress if p["numInputRows"] > 0]


def check_snapshot(got: dict[int, tuple], want: dict[int, tuple]) -> tuple[int, str]:
    """(number of mismatched keys, detail) between the committed snapshot
    and the batch fold, both ``id -> (content, last_seq)``."""
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    if not bad:
        return 0, f"{len(got)} keys match"
    return len(bad), f"{len(bad)} keys differ, first {[(k, got.get(k), want.get(k)) for k in bad[:3]]}"


def expected(spark, events_path: str, n_events: int, out_dir: str) -> dict[int, tuple]:
    """``cdc_materialize`` over the first ``n_events`` events."""
    from cdc_cloudrun_demo_spark.operators.cdc import cdc_materialize

    os.makedirs(out_dir, exist_ok=True)
    events = pq.read_table(events_path)
    pq.write_table(events.slice(0, n_events), os.path.join(out_dir, "events.parquet"))
    return {
        r["id"]: (r["content"], r["last_seq"])
        for r in cdc_materialize(spark, out_dir).collect()
    }


def trace_progress(tracer, progress: list, store_dir: str) -> None:
    """One ``stream.trigger`` span per micro-batch, from the query's own
    progress reports, and a ``tx.snapshot`` mark with the size of the
    committed snapshot."""
    from datetime import datetime

    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import TxSnapshotStore

    offset = time.perf_counter() - time.time()
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() + offset
        ops = p.get("stateOperators") or [{}]
        tracer.add(
            "stream.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
            duration_ms=p["durationMs"], input_rows=p["numInputRows"],
            state_rows=ops[0].get("numRowsTotal", 0), state_bytes=ops[0].get("memoryUsedBytes", 0),
        )
    manifest = TxSnapshotStore(store_dir).latest_manifest() or {"buckets": {}}
    files = [f for fl in manifest["buckets"].values() for f in fl]
    mark(tracer, "tx.snapshot", files=len(files),
         bytes=sum(os.path.getsize(os.path.join(store_dir, f)) for f in files))


def snapshot(spark, state_dir: str) -> dict[int, tuple]:
    """The committed snapshot as ``id -> (content, last_seq)``."""
    from cdc_cloudrun_demo_spark.streaming.tx_snapshot import read_tx_snapshot

    return {
        r["id"]: (r["content"], r["last_seq"])
        for r in read_tx_snapshot(spark, state_dir).select("id", "content", "last_seq").collect()
    }


def layers(tracer) -> dict[str, float]:
    """Stream and commit metrics from the trigger, commit and snapshot
    spans."""
    out = {}
    triggers = tracer.named("stream.trigger")
    dur = [s["attrs"]["duration_ms"] for s in triggers]
    out["stream.trigger_ms"] = median([duration_ms(s) for s in triggers])
    out["stream.add_batch_ms"] = median([d.get("addBatch", 0) for d in dur])
    out["stream.wal_commit_ms"] = median([d.get("walCommit", 0) for d in dur])
    if triggers:
        out["stream.state_rows_total"] = float(triggers[-1]["attrs"]["state_rows"])
        out["stream.state_memory_bytes"] = float(triggers[-1]["attrs"]["state_bytes"])
    out["tx.commit_ms"] = median([duration_ms(s) for s in tracer.named("tx.commit")])
    snap = tracer.named("tx.snapshot")[-1]["attrs"]
    out["tx.state_files"] = float(snap["files"])
    out["tx.state_bytes"] = float(snap["bytes"])
    return out
