"""Tests for the benchmark itself.

    python3 -m pytest perfbench -q

The gate tests need no Spark: each feeds a correctness gate a right
answer and then a deliberately corrupted expected answer. The smoke tests
run every workload end to end on sf0.001 inputs for one second and check
the printed result line: every metric named in BENCHMARK.json, with its
unit, and a failing result when the expected answers are corrupted.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
from common import END_TO_END, PER_LAYER, QUERY_MIX  # noqa: E402

WORKLOADS = ("serve_read_mostly", "ingest_query_mix")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_datagen_is_a_function_of_the_seed():
    a = datagen.build_tables(3, 0.001)
    b = datagen.build_tables(3, 0.001)
    c = datagen.build_tables(4, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])


# -- correctness gates, without Spark ---------------------------------------

def test_serving_final_gate():
    from serving import check_final

    seed = {0: "a", 1: "b", 2: "c"}
    models = [{0: "a2"}, {1: None}, {7: "new"}]
    served = [{"id": 0, "content": "a2"}, {"id": 2, "content": "c"}, {"id": 7, "content": "new"}]
    assert check_final(served, seed, models)[0]
    corrupted = [{**models[0], 0: "wrong"}] + models[1:]
    assert not check_final(served, seed, corrupted)[0]


def test_serving_read_gate():
    from serving import Client
    from tracing import NullTracer

    seed = {k: f"Customer#{k}" for k in range(8)}
    c = Client(1, 0, seed, hot=[1, 2], seed=0, tracer=NullTracer(), first_post_id=8)
    c.model[5] = "c1-5-1"
    c._check_read(5, {"id": 5, "content": "c1-5-1"})
    c._check_read(2, {"id": 2, "content": "c2-2-9"})  # written by its owner
    assert not c.failures
    c.model[5] = "corrupted"
    c._check_read(5, {"id": 5, "content": "c1-5-1"})
    c._check_read(2, {"id": 2, "content": "c3-2-9"})  # not its owner's value
    assert len(c.failures) == 2


def test_stream_snapshot_gate():
    from stream import check_snapshot

    want = {1: ("x", 10), 2: ("y", 11)}
    assert check_snapshot(dict(want), want)[0] == 0
    assert check_snapshot(dict(want), {**want, 2: ("corrupted", 11)})[0] == 1
    assert check_snapshot(dict(want), {**want, 3: ("z", 12)})[0] == 1


@pytest.fixture(scope="module")
def tiny_data(tmp_path_factory):
    return datagen.write_tables(str(tmp_path_factory.mktemp("tiny")), 5, 0.001)


def test_query_oracle_gate(tiny_data):
    from cdc_cloudrun_demo_spark.operators import registry
    from mix import _oracle_check, corrupt_sql, oracle_gate

    oc = _oracle_check(ROOT)
    con = oc.duck_connection(tiny_data)
    _queries, oracles = registry()
    for name in QUERY_MIX:
        # the oracle's own answer stands in for the engine's
        answer = con.sql(oracles[name]).df()
        assert len(answer) > 0, name
        assert oracle_gate(oc, con, name, answer, oracles[name], tiny_data)[0], name
        assert not oracle_gate(oc, con, name, answer, corrupt_sql(oracles[name]), tiny_data)[0], name
    con.close()


# -- end to end, with Spark --------------------------------------------------

def _run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          timeout=600, text=True)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    rc, out = _run(workload, "--trace", str(trace))
    assert rc == 0 and out is not None
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "serve_read_mostly":
        # the write path ran: PUT/POST/DELETE, their log batches and the
        # flushes the following reads paid for
        for name in ("serving.write_method_ms", "serving.flushes", "log.bytes_per_write",
                     "serving.reads_with_flush_ratio"):
            assert out["metrics"][name]["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_fails_on_corrupted_expected_answers(workload):
    rc, out = _run(workload, "--trace", "0", "--corrupt")
    assert rc == 1
    assert out is not None and out["correct"] is False and out["failed"] >= 1


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, out = _run("ingest_query_mix", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and out is None
