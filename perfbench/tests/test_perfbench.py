"""The benchmark's own tests, at tiny input sizes.

    python3 -m pytest perfbench/tests -q

The end-to-end tests run ``perfbench/run.py`` as the driver does, with
``PERFBENCH_TINY=1``; the rest exercise the checks and the trace reader
without Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.clips import check_clusters  # noqa: E402
from perfbench.harness import Ledger  # noqa: E402
from perfbench.tracing import EventLog, Tracer, driver_time  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, cwd: Path = ROOT, seconds: int = 1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900,
        env={**os.environ, "PERFBENCH_TINY": "1"},
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def clips_untraced():
    return _result(_run("clips_mixed", 0))


@pytest.fixture(scope="module")
def clips_traced():
    return _result(_run("clips_mixed", 1))


def _assert_spec(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_end_to_end_metrics_printed_with_units(clips_untraced):
    _assert_spec(clips_untraced, BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in clips_untraced["metrics"].values())


def test_per_layer_metrics_printed_with_units(clips_traced):
    _assert_spec(clips_traced, BENCH["per_layer"])
    m = {k: v["value"] for k, v in clips_traced["metrics"].items()}
    for layer in ("signature", "bands", "lsh", "verify", "unionfind"):
        assert m[f"{layer}.wall_s"] > 0
        assert m.get(f"{layer}.tasks", 1) > 0
    assert m["incremental.dedup.tasks"] > 0 and m["incremental.fold.bytes_written"] > 0
    assert m["quality.dup_pair_recall"] >= 0.99


def test_traced_run_reports_tracing_overhead(clips_untraced, clips_traced):
    """Overhead = traced minus untraced warm wall, both measured in the
    traced run's session; the untraced run's own warm wall is reported too."""
    m = clips_traced["metrics"]
    assert m["trace.warm_wall_s"]["value"] > 0
    assert "trace.overhead_s" in m
    assert clips_untraced["metrics"]["warm_wall_s"]["value"] > 0


def test_headline_metrics_printed_with_units():
    _assert_spec(_result(_run("headline_queries", 0)), BENCH["end_to_end"])


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: non-zero exit, no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "clips_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ----------------------------------------------------------- output checks
IDS = [f"c{i}" for i in range(6)]
TRUTH = {("c0", "c1"), ("c0", "c2"), ("c1", "c2"), ("c3", "c4")}
GOOD = [("c0", "c0"), ("c1", "c0"), ("c2", "c0"), ("c3", "c3"), ("c4", "c3"), ("c5", "c5")]


def test_correct_clusters_pass():
    problems, stats = check_clusters(GOOD, IDS, TRUTH)
    assert problems == [] and stats["recall"] == 1.0 and stats["clusters"] == 3


def test_planted_split_raises_error_rate():
    split = [("c2", "c2") if cid == "c2" else (cid, k) for cid, k in GOOD]
    ledger = Ledger()
    ledger.record("good", check_clusters(GOOD, IDS, TRUTH)[0])
    ledger.record("split", check_clusters(split, IDS, TRUTH)[0])
    assert ledger.attempted == 2 and ledger.failed == 1
    assert ledger.error_rate == 0.5


def test_planted_merge_and_lost_clip_fail():
    merged = [(cid, "c0") if cid in ("c3", "c4") else (cid, k) for cid, k in GOOD]
    assert check_clusters(merged, IDS, TRUTH)[0]  # precision 3/10
    assert check_clusters(GOOD[:-1], IDS, TRUTH)[0]  # c5 unassigned


def test_raising_operation_counts_as_failed():
    ledger = Ledger()

    def boom():
        raise RuntimeError("planted")

    _, out = ledger.run("boom", boom, lambda _: [])
    assert out is None and ledger.failed == 1


def test_headline_check_catches_wrong_rows():
    from tools.check_oracle import value_hash

    from perfbench.headline import HeadlineQueries

    wl = HeadlineQueries.__new__(HeadlineQueries)
    cols, rows = ["k", "v"], [(1, 2.0), (2, 3.0)]
    wl.oracles = {"q": (sorted(cols), 2, value_hash(cols, rows))}
    wl.first_hash = {}
    assert wl._check("q", (cols, rows)) == []
    assert wl._check("q", (cols, [(1, 2.0), (2, 3.5)]))
    assert wl._check("q", (cols, rows[:1]))
    # constant-oracle queries: every execution must repeat the first
    assert wl._check("c", (cols, rows)) == [] and wl._check("c", (cols, rows[:1]))


# ------------------------------------------------------------------ tracing
def test_self_time_excludes_children():
    tr = Tracer()
    with tr.span("parent") as p:
        with tr.span("child"):
            pass
    p.start, p.end = 0.0, 10.0
    c = tr.named("child")[0]
    c.start, c.end = 2.0, 5.0
    assert tr.self_time(p) == pytest.approx(7.0)
    assert [s.parent for s in tr.spans] == [None, p.span_id]


def test_event_log_totals_per_job_group(tmp_path):
    tr = Tracer()
    with tr.span("layer") as s:
        pass
    s.start, s.end = 100.0, 110.0
    gid = tr.group_id(s)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Submission Time": 101_000, "Properties": {"spark.jobGroup.id": gid}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "40"},
             {"Name": "time to run Python workers", "Update": "500"}]},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "Disk Bytes Spilled": 7,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 104_000},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = EventLog(path).for_subtree(tr, s)
    assert (g.jobs, g.tasks, g.cpu_s) == (1, 1, 2.0)
    assert (g.shuffle_read_bytes, g.shuffle_write_bytes, g.spill_bytes) == (3, 5, 7)
    assert (g.python_bytes, g.python_s) == (40, 0.5)
    assert driver_time(s, g) == pytest.approx(7.0)
