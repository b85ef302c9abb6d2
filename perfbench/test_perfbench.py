"""The benchmark's own tests: pure helpers and seeded inputs, no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import random

import pytest

from perfbench import inputs, stats
from perfbench.tracing import callsite_module, metric_total
from perfbench.workloads import TAIL, TIMEOUT_S, WORKLOADS


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_beyond(n, expected):
    assert stats.tail_percentile(n) == expected
    if expected is not None:
        assert stats.n_beyond(n, expected) >= stats.MIN_BEYOND


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 21)]
    random.Random(0).shuffle(xs)
    assert stats.percentile(xs, 50) == 10.0
    assert stats.percentile(xs, 75) == 15.0
    assert stats.percentile(xs, 100) == 20.0
    assert stats.median(xs) == 10.5


def test_crm_run_meets_its_tail_rule():
    wl = WORKLOADS["crm_interactive"]
    n = wl.passes * len(wl.members)
    # The tail is the highest percentile the run length allows.
    assert stats.tail_percentile(n) == TAIL
    assert stats.n_beyond(n, TAIL) >= stats.MIN_BEYOND


@pytest.mark.parametrize("nproc, crm, vector", [(1, 1, 1), (3, 1, 3), (4, 2, 4), (8, 4, 8)])
def test_task_slots_follow_the_cpus(nproc, crm, vector):
    assert WORKLOADS["crm_interactive"].slots(nproc) == crm
    assert WORKLOADS["vector_stream"].slots(nproc) == vector


def _executions(n: int, failed: dict[int, str]) -> list[dict]:
    return [{"query": f"q{i % 20}", "t0": 0.0, "t2": 1.0 + i / 100, "error": failed.get(i)}
            for i in range(n)]


def test_a_failed_execution_keeps_the_tail_percentile():
    from perfbench.run import _end_to_end

    # The fastest execution failed: it counts at the timeout, so the
    # percentiles stay those of forty walls and the run reads slower.
    execs = _executions(40, {0: "raised"})
    tally = stats.Tally()
    for e in execs:
        tally.record("raised" if e["error"] else None)
    res = {"executions": execs, "timed_s": 60.0, "setup_s": 9.0, "peak_rss_mib": {"jvm": 800.0, "python": 100.0}}
    e2e = _end_to_end(res, tally, set())
    walls = [TIMEOUT_S] + [1.0 + i / 100 for i in range(1, 40)]
    assert e2e["latency_tail_s"]["value"] == stats.percentile(walls, TAIL) == 1.30
    assert e2e["latency_p50_s"]["value"] == pytest.approx(stats.median(walls))
    assert e2e["throughput_qpm"]["value"] == 39.0
    assert e2e["correct_share"]["value"] == pytest.approx(39 / 40)


def test_all_failed_executions_still_report_every_metric():
    from perfbench.run import _end_to_end

    execs = _executions(12, {i: "timeout" for i in range(12)})
    tally = stats.Tally()
    for _ in execs:
        tally.record("timeout")
    res = {"executions": execs, "timed_s": 60.0, "setup_s": 9.0, "peak_rss_mib": {"jvm": 800.0, "python": 100.0}}
    e2e = _end_to_end(res, tally, {"q1"})
    assert e2e["throughput_qpm"]["value"] == 0.0
    assert e2e["correct_share"]["value"] == 0.0
    assert e2e["latency_tail_s"]["value"] == e2e["latency_p50_s"]["value"] == TIMEOUT_S


def test_tally_counts_each_attempt_once():
    t = stats.Tally()
    for outcome in (None, None, "mismatch", "raised", None, "timeout", None, None):
        t.record(outcome)
    assert (t.attempted, t.failed) == (8, 3)
    assert t.failed_share == pytest.approx(3 / 8)
    assert t.reasons == {"mismatch": 1, "raised": 1, "timeout": 1}
    assert stats.Tally().failed_share == 0.0


def test_self_time_subtracts_the_union_of_children():
    # Children overlap each other and one sticks out past the parent.
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == pytest.approx(6.0)
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(-5.0, 20.0)]) == 0.0
    assert stats.covered([(5.0, 6.0), (1.0, 2.0)], 0.0, 10.0) == pytest.approx(2.0)


def test_seed_gives_same_bytes_and_another_seed_differs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.generate(a, 0.001, 7)
    inputs.generate(b, 0.001, 7)
    inputs.generate(c, 0.001, 8)
    for t in inputs.TABLES:
        f = f"{t}.parquet"
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), t
    assert not filecmp.cmp(os.path.join(a, "lineitem.parquet"), os.path.join(c, "lineitem.parquet"),
                           shallow=False)


def test_generated_tables_keep_the_catalog_schema(tmp_path):
    import pyarrow.parquet as pq

    inputs.generate(str(tmp_path), 0.001, 1)
    ev = pq.read_table(tmp_path / "events.parquet")
    assert ev.column("event_id").to_pylist() == list(range(ev.num_rows))  # unique ids
    assert str(ev.schema.field("ts").type) == "timestamp[us]"
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert (docs.text.str.len() == docs.n_chars).all()
    assert docs.text.str.endswith(" dup").any()
    emb = pq.read_table(tmp_path / "embeddings.parquet")
    assert len(emb.column("embedding")[0]) == 64


def test_seed_gives_same_pass_order():
    wl = WORKLOADS["vector_stream"]
    assert wl.pass_order(random.Random(3)) == wl.pass_order(random.Random(3))
    assert wl.pass_order(random.Random(3)) != wl.pass_order(random.Random(4))
    assert sorted(wl.pass_order(random.Random(3))) == sorted(wl.members)


def test_metric_total_parses_spark_formats():
    assert metric_total("1.5 MiB") == 1.5 * 2**20
    assert metric_total("1,234") == 1234
    assert metric_total("12 ms") == pytest.approx(0.012)
    assert metric_total("total (min, med, max (stageId: taskId))\n2.0 s (0.1 s, 0.5 s, 1.0 s (stage 3.0: task 7))") == 2.0


def test_callsite_module():
    assert callsite_module(
        "collect at /x/multi_crm_cross_sell_spark/operators/similarity_search.py:1298", "plans.datapipe"
    ) == "operators.similarity_search"
    assert callsite_module("save at NativeMethodAccessorImpl.java:0", "plans.events") == "plans.events"
    assert callsite_module("collect at /x/perfbench/engine.py:12", "plans.crm") == "plans.crm"


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    from perfbench.run import _end_to_end, layer_unit
    from perfbench.tracing import CONSTRUCT_JOB_MODULES, LAYER_METRICS

    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    res = {"executions": _executions(20, {}), "timed_s": 30.0, "setup_s": 9.0, "peak_rss_mib": {"jvm": 800.0, "python": 100.0}}
    e2e = _end_to_end(res, stats.Tally(attempted=40), set())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {k: v["unit"] for k, v in e2e.items()}
    layer = list(LAYER_METRICS) + [f"{m}.construct_jobs" for m in CONSTRUCT_JOB_MODULES]
    assert [m["name"] for m in bench["per_layer"]] == layer
    assert all(m["unit"] == layer_unit(m["name"]) for m in bench["per_layer"])


def test_refuses_to_run_without_the_engine(tmp_path):
    import shutil
    import subprocess
    import sys

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crm_interactive", "--seed", "1",
         "--seconds", "5", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
