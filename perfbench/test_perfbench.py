"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The last tests run every workload once at sf0.001 (a few minutes on
four cores); deselect them with ``-k 'not smoke'``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from layers import LAYER_UNITS, OP_SELF_TOLERANCE, account  # noqa: E402
from tracing import Tracer, attribute  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_regenerates_byte_identical_inputs(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, 0.002)
    gen.generate(str(tmp_path / "b"), 7, 0.002)
    gen.generate(str(tmp_path / "c"), 8, 0.002)
    a, b, c = (_bytes(str(tmp_path / x)) for x in "abc")
    assert sorted(a) == [f"{t}.parquet" for t in sorted(gen.TABLES)]
    assert a == b
    # region and nation are fixed dimensions; every drawn table differs
    differ = {k for k in a if a[k] != c[k]}
    assert differ == {f"{t}.parquet" for t in gen.TABLES} - {
        "region.parquet",
        "nation.parquet",
    }


@pytest.mark.parametrize("sf", [0.001, 0.004, 0.02])
def test_generated_tables_keep_every_foreign_key(sf):
    t = gen.build_tables(11, sf)

    def col(table, name):
        return set(t[table].column(name).to_pylist())

    assert col("lineitem", "l_orderkey") <= col("orders", "o_orderkey")
    assert col("lineitem", "l_partkey") <= col("part", "p_partkey")
    assert col("lineitem", "l_suppkey") <= col("supplier", "s_suppkey")
    assert col("orders", "o_custkey") <= col("customer", "c_custkey")
    assert col("customer", "c_nationkey") <= col("nation", "n_nationkey")
    assert col("supplier", "s_nationkey") <= col("nation", "n_nationkey")
    assert col("nation", "n_regionkey") <= col("region", "r_regionkey")
    assert col("events", "user_id") <= col("customer", "c_custkey")
    # keys are unique where they are primary keys
    for table, key in (
        ("orders", "o_orderkey"),
        ("part", "p_partkey"),
        ("customer", "c_custkey"),
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        assert len(col(table, key)) == t[table].num_rows


def test_generated_schema_matches_the_engine_tables():
    from cqu_bigdata_recommender_system_for_movies_spark.tables import TABLE_NAMES

    assert set(gen.TABLES) == set(TABLE_NAMES)
    t = gen.build_tables(1, 0.001)
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert t["embeddings"].column("embedding").type.value_type == "float"


def test_metric_names_match_benchmark_json():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == {k: run.E2E_UNITS[k] for k in run.E2E_ORDER}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layers == LAYER_UNITS
    listed = {w["name"] for w in spec["workloads"]}
    assert listed <= set(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def _traced_op(tr, gap_s=0.0):
    """One op holding two layer spans, with ``gap_s`` outside both."""
    with tr.op("pass0"):
        with tr.span("als.fit"):
            time.sleep(0.05)
        time.sleep(gap_s)
        with tr.span("als.eval"):
            time.sleep(0.05)


def _job(start, ms=100.0):
    return {"start": start, "task_run_ms": ms}


def test_accounting_holds_when_layer_spans_cover_the_op():
    tr = Tracer(True)
    _traced_op(tr)
    fit = next(s for s in tr.spans if s["name"] == "als.fit")
    out = account(tr.spans, {0: _job(fit["start"] + 0.01)})
    assert out["ok"], out["problems"]
    assert out["task_time_attributed_share"] == 1.0


def test_accounting_fails_on_a_job_outside_every_layer_span():
    tr = Tracer(True)
    _traced_op(tr, gap_s=0.0005)
    fit = next(s for s in tr.spans if s["name"] == "als.fit")
    jobs = {0: _job(fit["start"] + 0.01), 1: _job(fit["end"] + 0.0001, ms=50.0)}
    out = account(tr.spans, jobs)
    assert not out["ok"]
    assert abs(out["task_time_attributed_share"] - 100.0 / 150.0) < 1e-9
    # a job outside every timed op (set-up, the check) is not counted
    out = account(tr.spans, {0: jobs[0], 2: _job(fit["start"] - 100.0)})
    assert out["ok"], out["problems"]


def test_accounting_fails_on_op_time_outside_every_layer_span():
    tr = Tracer(True)
    _traced_op(tr, gap_s=0.05)
    out = account(tr.spans, {})
    assert not out["ok"]
    assert out["op_self_share_max"] > OP_SELF_TOLERANCE


def test_jobs_attribute_to_the_innermost_span():
    spans = [
        {"id": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "start": 2.0, "end": 5.0},
        {"id": 2, "start": 3.0, "end": 4.0},
    ]
    assert attribute(spans, [1.0, 2.5, 3.5, 6.0, 11.0]) == [0, 1, 2, 0, None]


def test_exits_without_a_result_when_the_engine_is_missing(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "offline_recs",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_workload_at_sf0001(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(LAYER_UNITS)
