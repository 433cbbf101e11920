"""Tests of the benchmark itself: seeded generators, the emulator's
counting middleware, span arithmetic, CPU accounting and the speed probe,
and a tiny run of every workload through ``run.main``.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
The workload smoke tests start Spark and the emulator (port 5123), so
they take a minute or two.
"""

from __future__ import annotations

import io
import json
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import replace
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.emulator import STATS_PATH, CountingMiddleware  # noqa: E402
from perfbench.speed import REFERENCE_S, SpeedProbe  # noqa: E402
from perfbench.trace import Tracer, covered, spark_summary  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _tables(d: Path) -> dict:
    return {p.name: pq.read_table(p) for p in sorted(d.glob("*.parquet"))}


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Shrink every workload's inputs to smoke-test size, and keep the runs'
    results and traces out of the checkout's ``.bench_work``."""
    monkeypatch.setattr(run, "BENCH_DIR", tmp_path / "bench_work")
    backlog = dict(gen.TRAFFIC["kinesis_backlog"])
    backlog["events"] = replace(backlog["events"], records=300)
    monkeypatch.setitem(gen.TRAFFIC, "kinesis_backlog", backlog)


def test_generators_are_deterministic_per_seed(tmp_path, tiny):
    a = _tables(gen.backlog_events(7, tmp_path / "a"))
    b = _tables(gen.backlog_events(7, tmp_path / "b"))
    c = _tables(gen.backlog_events(8, tmp_path / "c"))
    assert a == b
    assert a != c
    assert gen.paced_objects(7, 5) == gen.paced_objects(7, 5)
    assert gen.paced_objects(7, 5) != gen.paced_objects(8, 5)


def test_backlog_events_have_fixed_delivered_count_and_fixture_layout(tmp_path, tiny):
    d = gen.backlog_events(3, tmp_path / "e")
    assert len(gen.expected_payloads(d / "events.parquet")) == 300
    schema = pq.read_schema(d / "events.parquet")
    assert [f.name for f in schema] == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert str(schema.field("ts").type) == "timestamp[us]"
    ev = pq.read_table(d / "events.parquet").to_pydict()
    # the events fixture's value domains
    assert set(ev["user_id"]) <= set(range(150))
    assert set(ev["event_type"]) == {"click", "error", "purchase", "signup", "view"}
    assert ev["event_type"].count("error") == 75  # 20% of 375
    assert all(set(json.loads(p)) == {"k"} for p in ev["props"])


def test_middleware_counts_after_the_response_and_stats_wait_for_it():
    def app(environ, start_response):
        start_response("200 OK", [])
        return [json.dumps({"FailedRecordCount": 0,
                            "Records": [{"ShardId": "s0"}, {"ShardId": "s1"}]}).encode()]

    mw = CountingMiddleware(app, keep_spans=True)
    body = json.dumps({"StreamName": "x", "Records": [{"Data": "YWJj"}, {"Data": "YQ=="}]}).encode()
    environ = {"HTTP_X_AMZ_TARGET": "Kinesis_20131202.PutRecords",
               "CONTENT_LENGTH": str(len(body)), "wsgi.input": io.BytesIO(body)}
    out = mw(environ, lambda *a: None)
    assert b"".join(out) and mw.pending == 1 and not mw.actions  # not yet counted
    stats = []
    reader = threading.Thread(
        target=lambda: stats.append(b"".join(mw({"PATH_INFO": STATS_PATH}, lambda *a: None)))
    )
    reader.start()
    out.close()
    reader.join(timeout=10)
    doc = json.loads(stats[0])
    put = doc["actions"]["PutRecords"]
    assert (put["calls"], put["records"], put["data_bytes"]) == (1, 2, 4)
    assert doc["shard_records"] == {"x/s0": 1, "x/s1": 1}
    assert len(doc["spans"]) == 1


def test_self_time_subtracts_the_union_of_children():
    t = Tracer("r")
    root = t.add("root", 0.0, 10.0, None)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 5.0, root)  # overlaps a: the union is [1, 5]
    assert t.self_times()[root] == pytest.approx(6.0)
    assert covered([(0, 2), (8, 12)], 1, 10) == pytest.approx(3.0)


def test_jobs_are_attributed_by_call_window():
    jobs = {
        0: {"start": 1.0, "end": 2.0, "tasks": 2, "run_s": 1.0, "cpu_s": 0.5, "gc_s": 0.0,
            "deser_s": 0.1, "shuffle_read_bytes": 10, "fetch_wait_s": 0.0, "spill_bytes": 0},
        1: {"start": 6.0, "end": 7.0, "tasks": 1, "run_s": 2.0, "cpu_s": 1.0, "gc_s": 0.0,
            "deser_s": 0.0, "shuffle_read_bytes": 0, "fetch_wait_s": 0.2, "spill_bytes": 0},
    }
    s = spark_summary(jobs, [(0.0, 4.0)])
    assert (s["jobs"], s["tasks"], s["run_s"]) == (1, 2, 1.0)
    assert s["driver_only_s"] == pytest.approx(3.0)


def test_program_cpu_counts_descendants_but_not_helpers():
    burn = [sys.executable, "-c",
            "import sys\ns = 0\nfor i in range(3_000_000): s += i\nprint(1, flush=True)\nsys.stdin.read()"]
    procs = [subprocess.Popen(burn, stdin=subprocess.PIPE, stdout=subprocess.PIPE) for _ in range(2)]
    try:
        for p in procs:
            p.stdout.readline()  # done burning
        both = W.program_cpu_s(set())
        one = W.program_cpu_s({procs[1].pid})
    finally:
        for p in procs:
            p.stdin.close()
            p.wait(timeout=30)
            p.stdout.close()
    assert set(both) == {"driver", "jvm", "workers"}
    assert one["jvm"] > 0.05
    assert both["jvm"] - one["jvm"] > 0.05  # the helper's burn is left out


def test_speed_probe_samples_and_scales():
    probe = SpeedProbe()
    probe.start()
    try:
        t = time.time()
        time.sleep(1.5)
        s = probe.summary(t, time.time())
    finally:
        probe.stop()
    assert probe.proc is None
    assert s["samples"] >= 3 and s["loop_s"] > 0
    norm = W.norm_cpu_ms_per_record({"driver": 1.0, "jvm": 2.0}, 2 * REFERENCE_S, 500)
    assert norm == pytest.approx({"driver": 1.0, "jvm": 2.0, "total": 3.0})


def _last_json(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [("kinesis_backlog", 0), ("kinesis_paced", 1)],
)
def test_tiny_run_of_each_workload(workload, trace, tiny, capsys):
    code = run.main(["--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", str(trace)])
    assert code == 0
    result = _last_json(capsys.readouterr().out)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kinesis_backlog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
