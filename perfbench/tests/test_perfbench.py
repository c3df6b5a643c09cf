"""Tests of the benchmark itself (not part of the program's test suite).

    python3 -m pytest perfbench/tests -q

Each tiny run starts Spark, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, trace: int, seconds: int = 2) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_declared_metrics(workload, trace):
    line = run_bench(workload, trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    for m in line["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in line["metrics"].values())
        return
    # the per-layer record written next to the printed line
    path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed7.json")
    with open(path) as f:
        rec = json.load(f)
    assert set(rec["layer"]) >= {m["name"] for m in declared}
    assert rec["samples"] >= 1 and rec["spans"]
    for s in rec["spans"]:
        assert set(s) >= {"id", "name", "start", "end", "parent", "self_s"}
        assert s["end"] >= s["start"]
    details = {
        "telemetry_steady": {"io.keyed_sink.add_batch_ms", "io.keyed_sink.commit_ms",
                             "io.keyed_sink.table_keys", "streaming.trigger_ms_p50",
                             "io.sources.latest_offset_ms"},
        "analytics_mix": {"artifacts.build_s", "artifacts.builds", "artifacts.load_s",
                          "artifacts.loads", "queries.plan_s",
                          "streaming.stateful.state_rows",
                          "streaming.stateful.state_commit_ms"},
    }[workload]
    assert set(rec["details"]) >= details
    if workload == "telemetry_steady":
        assert set(rec["gen"]) == {"gen.files", "gen.rows", "gen.lag_ms_max"}


def _descendants(root: int) -> dict[int, str]:
    from run import _proc_table

    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out[c] = table[c][1]
            todo.append(c)
    return out


def test_sigterm_mid_stream_leaves_no_process():
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "telemetry_steady", "--seed", "3",
         "--seconds", "60", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{p.pid}")
    seen: dict[int, str] = {}
    deadline = time.time() + 120
    # wait until the live stream runs: the driver has written the go-file
    while not os.path.exists(os.path.join(run_dir, "go")):
        assert time.time() < deadline and p.poll() is None
        seen.update(_descendants(p.pid))
        time.sleep(0.2)
    time.sleep(2)
    seen.update(_descendants(p.pid))
    assert any("java" in open(f"/proc/{pid}/cmdline").read() for pid in seen
               if os.path.exists(f"/proc/{pid}/cmdline"))
    p.send_signal(signal.SIGTERM)
    out, _ = p.communicate(timeout=60)
    assert p.returncode != 0 and out == ""
    from run import _proc_table

    table = _proc_table()
    left = [pid for pid, st in seen.items() if pid in table and table[pid][1] == st]
    assert left == [], f"processes left running: {left}"
    assert not os.path.exists(run_dir)


def test_noop_action_keeps_every_q1_aggregate(tmp_path):
    """The timed action is a noop write: q1's executed plan keeps all of
    its output aggregates, which ``.count()`` would prune away."""
    import gen
    from iot_sparkstreaming_spark.queries.registry import load_all
    from iot_sparkstreaming_spark.session import get_spark

    gen.write_tables(str(tmp_path), 0.001, 5)
    spark = get_spark("perfbench-test")
    try:
        df = load_all()["q1_pricing_summary"].spark(spark, str(tmp_path))

        def final_aggregates() -> list[str]:
            ex = spark._jsparkSession.sharedState().statusStore().executionsList()
            plan = ex.apply(ex.size() - 1).physicalPlanDescription()
            funcs = [ln for ln in plan.splitlines() if ln.startswith("Functions")]
            return [f for f in funcs if "partial_" not in f]

        df.write.format("noop").mode("overwrite").save()
        noop = final_aggregates()  # adaptive execution lists the initial and final plan
        assert noop
        for f in noop:
            # the 8 outputs (4 sums, 3 averages, the row count) need 5
            # distinct decimal sums and 4 counts once shared ones merge
            assert f.startswith("Functions [9]:")
            assert len(re.findall(r"\bsum\(", f)) == 5 and "count(1)" in f
        df.count()
        assert not any("sum(" in f for f in final_aggregates())
    finally:
        spark.stop()


def test_stripped_tree_fails_without_result(tmp_path):
    """Without the program next to it the benchmark exits non-zero and
    prints nothing on stdout."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""
