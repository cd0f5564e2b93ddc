"""The ``serve_read_mostly`` workload: closed-loop HTTP clients against a
``MessageServer`` seeded with the customer table.

The clients send ``GET /messages/{id}``, 90% of them on a hot set of 256
keys, and between them one PUT, POST or DELETE every few seconds (one or
two in a hundred requests). They take turns from one thread, so one request is in
flight at a time: the latency measured is the server's own, not queueing
for the host's few cores.

Correctness: client ``c`` writes only seed keys with ``id % 4 == c`` and
the keys its own POSTs created, and keeps a model of them. Every answer
for those keys must equal the model; answers for other keys must be the
seed row, a value their owner wrote, or null after a delete. After the
run, ``GET /messages`` must equal the seed with every client's model
applied.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import random
import threading
import time
from collections.abc import Callable

from common import (
    Context,
    Outcome,
    dir_bytes,
    job_counts,
    mark,
    median,
    percentile,
    session_layers,
    timed_setups,
)
from tracing import duration_ms

TABLES = ("customer",)  # the input tables this workload reads
N_CLIENTS = 4
HOT_KEYS = 256
# the warm-up runs every client in a thread of its own: four reads in
# flight compile the read path sooner than one would
WARMUP_S = 10.0
# the server sees one write every WRITE_INTERVAL_S, rotating over the
# clients: a fixed number of refolds per run, whatever the read rate
WRITE_INTERVAL_S = 6.0
# --smoke runs last about a second, so their writes come sooner
SMOKE_WRITE_INTERVAL_S = 0.1
WRITE_OPS = ("PUT", "PUT", "POST", "DELETE")


def _owner(key: int) -> int:
    return key % N_CLIENTS


class Client:
    """One closed-loop client: sends its next request only after the
    previous answer arrived, and keeps a model of the keys it owns."""

    def __init__(self, idx: int, port: int, seed_rows: dict[int, str],
                 hot: list[int], seed: int, tracer, first_post_id: int,
                 write_interval_s: float = WRITE_INTERVAL_S):
        self.idx = idx
        self.port = port
        self.seed_rows = seed_rows
        self.hot = hot
        self.rng = random.Random(seed * 1000 + idx)
        self.tracer = tracer
        self.first_post_id = first_post_id
        self.write_interval_s = write_interval_s
        self.model: dict[int, str | None] = {}
        self.all_keys = list(seed_rows)
        self.owned = [k for k in seed_rows if _owner(k) == idx]
        self.hot_owned = [k for k in hot if _owner(k) == idx]
        self.posted: list[int] = []
        self.reads: list[float] = []
        self.writes: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self._writes_done = 0
        self._rid = itertools.count()
        self.next_write = 0.0

    # -- transport -----------------------------------------------------
    def _call(self, method: str, path: str, body: dict | None, kind: str):
        rid = f"c{self.idx}-{next(self._rid)}"
        payload = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json", "X-Request-Id": rid}
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.request(rid), self.tracer.span("client.request", kind=kind):
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            try:
                conn.request(method, path, body=payload, headers=headers)
                resp = conn.getresponse()
                data = resp.read()
                status = resp.status
            finally:
                conn.close()
        ms = (time.perf_counter() - t0) * 1000.0
        if status != 200:
            raise RuntimeError(f"{method} {path} -> HTTP {status}")
        return json.loads(data or b"null"), ms

    def _fail(self, msg: str) -> None:
        self.failures.append(msg)

    # -- expected answers ----------------------------------------------
    def _expected(self, key: int) -> str | None:
        if key in self.model:
            return self.model[key]
        return self.seed_rows.get(key)

    def _check_read(self, key: int, got) -> None:
        if _owner(key) == self.idx or key in self.posted:
            want = self._expected(key)
            ok = got is None if want is None else got == {"id": key, "content": want}
        elif got is None:
            ok = True  # deleted by its owner
        else:
            c = got.get("content")
            ok = got.get("id") == key and (
                c == self.seed_rows.get(key)
                or (isinstance(c, str) and c.startswith(f"c{_owner(key)}-"))
            )
        if not ok:
            self._fail(f"GET {key}: got {got!r}")

    # -- operations ----------------------------------------------------
    def read(self, key: int, record: bool = True) -> None:
        try:
            got, ms = self._call("GET", f"/messages/{key}", None, "read")
        except (OSError, RuntimeError, ValueError) as e:
            self._fail(f"GET {key}: {e}")
            return
        if record:
            self.reads.append(ms)
        self._check_read(key, got)

    def _live_owned(self, prefer_hot: bool) -> int:
        """A key this client owns that is not deleted, from its hot keys
        when ``prefer_hot`` and one is live."""
        if prefer_hot:
            live = [k for k in self.hot_owned if self._expected(k) is not None]
            if live:
                return self.rng.choice(live)
        while True:
            k = self.rng.choice(self.owned)
            if self._expected(k) is not None:
                return k

    def write(self, op: str, prefer_hot: bool) -> int:
        """One PUT/POST/DELETE; returns the key it touched."""
        self._writes_done += 1
        try:
            if op == "POST":
                content = f"c{self.idx}-new-{self._writes_done}"
                got, ms = self._call("POST", "/messages", {"content": content}, "write")
                key = got.get("id") if isinstance(got, dict) else None
                if not isinstance(key, int) or key < self.first_post_id or got.get("content") != content:
                    self._fail(f"POST: got {got!r}")
                    return self._live_owned(prefer_hot)
                self.posted.append(key)
                self.model[key] = content
            elif op == "PUT":
                key = self._live_owned(prefer_hot)
                content = f"c{self.idx}-{key}-{self._writes_done}"
                got, ms = self._call("PUT", f"/messages/{key}", {"content": content}, "write")
                if got != {"id": key, "content": content}:
                    self._fail(f"PUT {key}: got {got!r}")
                self.model[key] = content
            else:
                key = self._live_owned(prefer_hot)
                got, ms = self._call("DELETE", f"/messages/{key}", None, "write")
                if got is not None:
                    self._fail(f"DELETE {key}: got {got!r}")
                self.model[key] = None
        except (OSError, RuntimeError, ValueError) as e:
            self._fail(f"{op}: {e}")
            return self.owned[0]
        self.writes.append(ms)
        return key

    # -- loop ------------------------------------------------------------
    def start(self, t0: float) -> None:
        """Clients' writes are staggered: client ``i``'s first is due
        ``(i + 0.5)`` write intervals after ``t0``, its next ones every
        ``N_CLIENTS`` intervals."""
        self.next_write = t0 + (self.idx + 0.5) * self.write_interval_s

    def step(self, now: float, record: bool = True) -> None:
        """Send one request: this client's write when one is due, else a
        read, 90% of them on the hot keys. With ``record`` off (the
        warm-up) the client only reads and keeps no latencies."""
        if record and now >= self.next_write:
            self.next_write += N_CLIENTS * self.write_interval_s
            # deletes stay off the hot set: a deleted key answers
            # without a Spark job and would skew the read mix
            op = WRITE_OPS[(self.idx + self._writes_done) % len(WRITE_OPS)]
            self.write(op, prefer_hot=op != "DELETE")
        elif self.rng.random() < 0.9:
            self.read(self.rng.choice(self.hot), record)
        elif self.posted and self.rng.random() < 0.1:
            self.read(self.rng.choice(self.posted), record)
        else:
            self.read(self.rng.choice(self.rng.choice((self.owned, self.all_keys))), record)


def _seed_df(spark, data_dir: str):
    """The customer table as ``(id, content)`` messages."""
    from cdc_cloudrun_demo_spark.catalog import load_table
    from pyspark.sql import functions as F

    return load_table(spark, data_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").cast("string").alias("content"),
    )


def _get_json(port: int, path: str):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=300)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


def check_final(served: list[dict], seed_rows: dict[int, str],
                models: list[dict[int, str | None]]) -> tuple[bool, str]:
    """The served table must be the seed with every client's writes
    applied (``None`` in a model is a delete)."""
    want = dict(seed_rows)
    for m in models:
        for k, v in m.items():
            if v is None:
                want.pop(k, None)
            else:
                want[k] = v
    got = {r["id"]: r["content"] for r in served}
    if len(got) != len(served):
        return False, "duplicate ids in GET /messages"
    if got == want:
        return True, f"{len(got)} rows match"
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])[:3]
    return False, f"missing={missing} extra={extra} wrong={wrong}"


def _instrument(srv, spark, tracer) -> None:
    """Span wrappers around the server's public operations (and its
    buffer flush, to tell which reads paid for one). Job and task counts
    per read come from a job group set on the handler thread."""
    sc = spark.sparkContext
    groups = itertools.count()

    def wrap(name: str, fn: Callable) -> Callable:
        def call(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        return call

    orig_find = srv.find_by_id

    def find_by_id(mid):
        gid = f"perfbench-read-{next(groups)}"
        sc.setJobGroup(gid, "perfbench read")
        with tracer.span("serving.find_by_id") as attrs:
            out = orig_find(mid)
        attrs["jobs"], attrs["tasks"] = job_counts(spark, gid)
        return out

    srv.find_by_id = find_by_id
    for op in ("create", "update", "delete"):
        setattr(srv, op, wrap(f"serving.{op}", getattr(srv, op)))

    orig_flush = srv._flush_locked

    def flush_locked():
        if not srv._pending:
            return orig_flush()
        with tracer.span("serving.flush"):
            return orig_flush()

    srv._flush_locked = flush_locked

    handler = srv._httpd.RequestHandlerClass
    for verb in ("do_GET", "do_POST", "do_PUT", "do_DELETE"):
        orig = getattr(handler, verb)

        def handle(self, _orig=orig):
            with tracer.request(self.headers.get("X-Request-Id")), tracer.span("server.handle"):
                return _orig(self)

        setattr(handler, verb, handle)


def _layers(ctx: Context, clients: list[Client], log_dir: str, seed_log_bytes: int) -> dict[str, float]:
    """Per-layer metrics from the spans of the measured window."""
    tr = ctx.tracer
    reads_ms = [ms for c in clients for ms in c.reads]
    writes_ms = [ms for c in clients for ms in c.writes]
    log_bytes = dir_bytes(log_dir)
    batches = sum(d.startswith("batch=") for d in os.listdir(log_dir))
    mark(tr, "serving.log", batches=batches, bytes_written=log_bytes - seed_log_bytes,
         writes=len(writes_ms), read_p90_ms=percentile(reads_ms, 90),
         write_p50_ms=percentile(writes_ms, 50), write_p90_ms=percentile(writes_ms, 90))

    out = session_layers(ctx)
    reads = tr.named("serving.find_by_id")
    flush_parents = {s["parent"] for s in tr.named("serving.flush")}
    client_ms = {
        s["request_id"]: duration_ms(s)
        for s in tr.named("client.request")
        if s["attrs"].get("kind") == "read"
    }
    log = tr.named("serving.log")[-1]["attrs"]
    out["serving.read_p90_ms"] = log["read_p90_ms"]
    out["serving.write_p50_ms"] = log["write_p50_ms"]
    out["serving.write_p90_ms"] = log["write_p90_ms"]
    out["serving.find_by_id_ms"] = median([duration_ms(s) for s in reads])
    out["serving.http_overhead_ms"] = median(
        [client_ms[s["request_id"]] - duration_ms(s) for s in reads if s["request_id"] in client_ms]
    )
    out["serving.write_method_ms"] = median(
        [duration_ms(s) for op in ("create", "update", "delete") for s in tr.named(f"serving.{op}")]
    )
    out["serving.flushes"] = float(len(tr.named("serving.flush")))
    if reads:
        out["serving.reads_with_flush_ratio"] = sum(s["id"] in flush_parents for s in reads) / len(reads)
        out["spark.jobs_per_read"] = sum(s["attrs"]["jobs"] for s in reads) / len(reads)
        out["spark.tasks_per_read"] = sum(s["attrs"]["tasks"] for s in reads) / len(reads)
    out["log.batches"] = float(log["batches"])
    if log["writes"]:
        out["log.bytes_per_write"] = log["bytes_written"] / log["writes"]
    return out


def run(ctx: Context) -> Outcome:
    from cdc_cloudrun_demo_spark.serving.rest_api import MessageServer

    seed_rows = {r["id"]: r["content"] for r in _seed_df(ctx.spark, ctx.data_dir).collect()}
    keys = sorted(seed_rows)
    rng = random.Random(ctx.seed)
    hot = rng.sample(keys, min(HOT_KEYS, len(keys)))
    probe_key = hot[0]

    # set-up: boot a server over a fresh change log and answer one read
    servers = []

    def setup(spark, i):
        srv = MessageServer(spark, os.path.join(ctx.work_dir, f"msglog-{i}"),
                            seed=_seed_df(spark, ctx.data_dir))
        servers.append(srv)
        status, got = _get_json(srv.port, f"/messages/{probe_key}")
        if status != 200 or got != {"id": probe_key, "content": seed_rows[probe_key]}:
            raise RuntimeError(f"set-up read of {probe_key} answered {status} {got!r}")

    setup_times = timed_setups(ctx, setup, teardown=lambda: servers[-1].close())
    spark, srv = ctx.spark, servers[-1]
    log_dir = os.path.join(ctx.work_dir, f"msglog-{len(servers) - 1}")
    seed_log_bytes = dir_bytes(log_dir)

    first_post = max(keys) + 1
    write_interval = SMOKE_WRITE_INTERVAL_S if ctx.smoke else WRITE_INTERVAL_S
    clients = [
        Client(c, srv.port, seed_rows, hot, ctx.seed, ctx.tracer, first_post, write_interval)
        for c in range(N_CLIENTS)
    ]

    def drive(seconds: float) -> float:
        """The clients take turns, one request each, until ``seconds``
        have passed."""
        t0 = time.perf_counter()
        for c in clients:
            c.start(t0)
        for c in itertools.cycle(clients):
            now = time.perf_counter()
            if now >= t0 + seconds:
                break
            c.step(now)
        return time.perf_counter() - t0

    def warm_up(seconds: float) -> None:
        deadline = time.perf_counter() + seconds

        def loop(c: Client) -> None:
            while time.perf_counter() < deadline:
                c.step(0.0, record=False)

        threads = [threading.Thread(target=loop, args=(c,)) for c in clients]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    # warm-up: reads only, until the read path's code is compiled
    warm_up(min(WARMUP_S, ctx.seconds))
    if ctx.tracer.enabled:
        _instrument(srv, spark, ctx.tracer)
    elapsed = drive(ctx.seconds)

    per_layer = _layers(ctx, clients, log_dir, seed_log_bytes) if ctx.tracer.enabled else {}
    status, served = _get_json(srv.port, "/messages")
    srv.close()

    models = [dict(c.model) for c in clients]
    if ctx.corrupt:
        k = clients[0].owned[0]
        models[0][k] = "corrupted-expected-value"
    final_ok, final_detail = (
        check_final(served, seed_rows, models) if status == 200 else (False, f"HTTP {status}")
    )
    reads = [ms for c in clients for ms in c.reads]
    writes = [ms for c in clients for ms in c.writes]
    failures = [f for c in clients for f in c.failures]
    attempted = sum(c.attempted for c in clients) + 1
    failed = len(failures) + (0 if final_ok else 1)
    n_requests = len(reads) + len(writes)
    end_to_end = {
        "setup_s": median(setup_times),
        "latency_p50_ms": percentile(reads, 50),
    }
    throughput = n_requests / elapsed
    if per_layer:
        per_layer["client.throughput_per_s"] = throughput
    return Outcome(
        attempted=attempted,
        failed=failed,
        checks=[
            ("client answers match the models", not failures, "; ".join(failures[:3])),
            ("final GET /messages equals seed plus models", final_ok, final_detail),
        ],
        end_to_end=end_to_end,
        per_layer=per_layer,
        notes={
            "throughput_per_s": throughput,
            "reads": len(reads),
            "writes": len(writes),
            "read_p99_ms": percentile(reads, 99) if len(reads) >= 1000 else None,
            "write_p50_ms": percentile(writes, 50),
            "write_p90_ms": percentile(writes, 90),
            "elapsed_s": elapsed,
            "workload_setup_s": setup_times,
        },
    )
