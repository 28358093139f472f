"""Tests of the benchmark itself, on sf0.001-sized generated tables
(the analytics check needs the sf0.1 ones: its op79 finds near-dups
only there).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
from tables import ensure_tables  # noqa: E402

SCALE = 0.001


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return ensure_tables(str(tmp_path_factory.mktemp("tables")), SCALE)


@pytest.fixture(scope="module")
def spark():
    from ocdb_server_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", master="local[2]", profile="interactive")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
    run._stop_processes()


def test_every_request_kind_compiles(spark):  # Column building needs a session
    from ocdb_server_spark.plans.expr_compiler import compile_expr

    stream = inputs.SearchStream(seed=7)
    for kind, pool in stream.pools.items():
        assert pool, kind
        for req in pool:
            if req.expr is not None:
                compile_expr(req.expr.expr(), [])


def test_stream_is_seeded_and_repeats():
    a, b = inputs.SearchStream(3), inputs.SearchStream(3)
    reqs = [a.next() for _ in range(120)]
    assert reqs == [b.next() for _ in range(120)]
    assert len(set(reqs)) < len(reqs)  # popular requests repeat
    assert {r.kind for r in reqs[: len(inputs.KINDS)]} == set(inputs.KINDS)


def test_search_requests_agree_with_duckdb(spark, sf_dir, tmp_path):
    from layers import Tracer
    from workloads import Context, Search

    w = Search()
    w.make_inputs(str(tmp_path), seed=5, seconds=1)
    ctx = Context(spark, sf_dir, {}, 5, Tracer(enabled=False))
    w.prepare(ctx)
    results = [w.run_op(ctx, i) for i in range(3 * len(inputs.KINDS))]
    assert {r.label for r in results} == set(inputs.KINDS)
    assert w.check(ctx, results) == {}
    assert any(r.payload[1]["total"] > 0 for r in results)


def test_search_check_catches_a_wrong_page(spark, sf_dir, tmp_path):
    from layers import Tracer
    from workloads import Context, Search

    w = Search()
    w.make_inputs(str(tmp_path), seed=6, seconds=1)
    ctx = Context(spark, sf_dir, {}, 6, Tracer(enabled=False))
    w.prepare(ctx)
    results = [w.run_op(ctx, 0)]
    results[0].payload[1]["total"] += 1
    assert list(w.check(ctx, results)) == [0]


def test_seabass_files_parse_to_expected_observations(spark, tmp_path):
    from ocdb_server_spark.sources.seabass import read_seabass_corpus

    batches = inputs.write_batches(str(tmp_path), seed=9, n_batches=2,
                                   files_per_batch=4, rows=60)
    for files in batches:
        for f in files:
            assert inputs.parse_seabass_file(f.path) == f.observations
        got = read_seabass_corpus(spark, [f.path for f in files])
        assert got.count() == sum(len(f.observations) for f in files)
    layouts = {(f.fields, f.delimiter) for files in batches for f in files}
    assert {d for _, d in layouts} == set(inputs.DELIMITERS)
    ids = [f.dataset_id for files in batches for f in files]
    assert len(set(ids)) < len(ids)  # some datasets are re-submitted


def test_ingest_store_matches_and_check_catches_a_lost_file(spark, tmp_path):
    from layers import Tracer
    from workloads import Context, Ingest

    w = Ingest()
    w.WARMUP_BATCHES = 0  # the first batch only
    w.make_inputs(str(tmp_path), seed=3, seconds=2)
    ctx = Context(spark, "", {}, 3, Tracer(enabled=False))
    w.prepare(ctx)
    w.warmup(ctx)
    results = [w.run_op(ctx, i) for i in range(2)]
    assert w.check(ctx, results) == {}
    assert w.store_rows > 0 and w.status_counts["ERROR"] > 0
    victim = next(
        os.path.join(d, f) for d, _, fs in os.walk(w.store) for f in fs if f.endswith(".parquet")
    )
    os.remove(victim)
    assert len(w.check(ctx, results)) >= 1


def test_analytics_ops_match_their_oracles(spark, tmp_path):
    """The analytics workload (not listed in BENCHMARK.json) at its own
    sf0.1 tables: each headline op once, checked against its oracle."""
    from layers import Tracer
    from ocdb_server_spark.io import clear_cache, warm_cache
    from ocdb_server_spark.registry import load_all
    from workloads import Analytics, Context

    sf = ensure_tables(str(tmp_path), 0.1)
    w = Analytics()
    w.make_inputs(str(tmp_path), seed=1, seconds=1)
    warm_cache(spark, sf, names=w.tables)
    try:
        ctx = Context(spark, sf, load_all(), 1, Tracer(enabled=False))
        results = [w.run_op(ctx, i) for i in range(len(w.OPS))]
        assert sorted(r.label for r in results) == sorted(w.OPS)
        assert w.check(ctx, results) == {}
    finally:
        clear_cache()


def test_pipeline_op_matches_its_oracle(spark, sf_dir, tmp_path):
    from layers import Tracer
    from ocdb_server_spark.registry import load_all
    from workloads import Context, Pipeline

    w = Pipeline()
    w.make_inputs(str(tmp_path), seed=2, seconds=1)
    ctx = Context(spark, sf_dir, load_all(), 2, Tracer(enabled=False))
    results = [w.run_op(ctx, i) for i in range(2)]
    assert w.at_cycle_end()
    assert results[0].payload.num_rows > 0
    assert w.check(ctx, results) == {}


def test_benchmark_json_names_match_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"search", "ingest", "pipeline"}


@pytest.mark.parametrize("workload,trace", [("ingest", 0), ("search", 1), ("pipeline", 1)])
def test_output_carries_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300, check=True,
    )
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    if workload == "pipeline":  # the workload that measures the Python-worker layer
        assert out["metrics"]["python.worker_ms"]["value"] > 0


def _processes_of_run(pid: int) -> list[int]:
    """Processes whose environment points into the run dir of `pid`:
    the JVM and the Python workers inherit its TMPDIR."""
    mark = f"{os.sep}run-{pid}{os.sep}".encode()
    found = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if mark in f.read():
                    found.append(int(name))
        except (OSError, ValueError):
            continue
    return found


def test_run_leaves_no_process_behind():
    # pipeline starts Python workers under the JVM as well
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "pipeline",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--scale", str(SCALE)],
        cwd=ROOT, stdout=subprocess.DEVNULL,
    )
    assert proc.wait(timeout=300) == 0
    assert _processes_of_run(proc.pid) == []
