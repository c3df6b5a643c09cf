"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Workloads:

* ``telemetry_steady``: open loop at a fixed offered rate; the warning
  pipeline upserts into the keyed sink on a 1 s trigger.
* ``analytics_mix``: one client running passes over a query mix, each
  query timed with a noop write, plus a catch-up drain through the
  stateful warning-streak operator.

This process supervises. It generates the seeded inputs, starts the
generator and the Spark driver (``driver.py``) each in its own process
group, samples their memory from ``/proc``, checks the outputs against
DuckDB once the driver has finished, and prints one JSON line. Every
process it starts is stopped and reaped on any exit, SIGTERM and
timeouts included. All files live in a per-run directory under
``.perfbench/`` that is deleted at exit; traced runs keep their spans in
``.perfbench/traces/``.

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones. The exit code is non-zero,
and nothing is printed on stdout, when the run fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402

RUN_DEADLINE_S = 160.0
GRACE_S = 10.0

# Offered load of the open loop, and how long it runs before timing.
# Measured on 4 cores: at 20 files/s a trigger picks up about 20 files,
# below the 32 paths above which Spark lists a batch's files in a job of
# its own (getBatch 0.37-0.62 s at 41-93 files a trigger, 11-19 ms at 20-23).
# The median trigger took 1.09-1.15 s at 5000 lines/s (over its 1 s
# budget, so batches ran back to back) and 0.86-0.96 s at 2000 in the
# same hour; it moves with the host's load about as much as with the
# rate (1.13 s at 1000 lines/s later on). 1000 lines/s gave the smallest
# latency spread between runs (IQR/median 14% over five seeds, 18% at
# 2000).
# A 12 s window gives 240 files, 12 of them beyond p95.
STEADY_RATE = 1000          # lines per second
STEADY_FILES_PER_S = 20
WARM_S = 2.0
# Scale of the analytics tables, and the backlog the streak catch-up drains.
# One run at sf0.1 took 108 s on 4 cores (warm pass 24 s, three passes
# 44 s), too long for the run count the benchmark must fit in an hour.
MIX_SF = 0.01
# Ten small files from 200 users, drained five files a batch: every seed
# yields streaks to check.
STREAK_FILES = 10
STREAK_LINES = 250          # lines per file
STREAK_USERS = 200
STREAK_FILES_PER_BATCH = 5

END_TO_END = {
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "throughput_per_s": "1/s",
    "setup_s": "s",
}
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s",
    "setup.prepare_s": "s",
    "ops": "count",
    "op.plan_ms_p50": "ms",
    "op.exec_ms_p50": "ms",
    "op.exec_ms_max": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.wait_s": "s",
    "spark.driver_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "trace.overhead_ms": "ms",
}


# Which end-to-end metric, on which workload, each layer figure should
# move (longest matching prefix wins). Printed next to the figures of a
# traced run.
PREDICTS = {
    "session.": "setup_s on every workload",
    "setup.": "setup_s on every workload",
    "memory.": "none: reported, not bounded",
    "artifacts.": "setup_s on analytics_mix; no change on telemetry_steady",
    "queries.": "latency_p95_ms on analytics_mix (the eager graph loop plans for seconds)",
    "ops": "none: sample count",
    "op.": "latency_p50_ms on this workload",
    "spark.": "latency_p50_ms on analytics_mix",
    "spark.gc_s": "latency_p95_ms on analytics_mix",
    "spark.shuffle_write_mb": "latency_p95_ms on analytics_mix",
    "spark.cpu_s": "throughput_per_s on analytics_mix",
    "spark.wait_s": "throughput_per_s on analytics_mix (the Python boundary)",
    "io.sources.": "latency_p50_ms on telemetry_steady; the catch-up op on analytics_mix",
    "streaming.": "latency_p50_ms on telemetry_steady; the catch-up op on analytics_mix",
    "streaming.stateful.": "latency_p50_ms and throughput_per_s on analytics_mix; "
                           "absent from telemetry_steady",
    "io.keyed_sink.": "latency_p50_ms and latency_p95_ms on telemetry_steady; "
                      "no change on analytics_mix",
    "gen.": "none: generator health, a late generator voids the run",
    "trace.": "none: tracing overhead",
}


def pct(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s), max(1, math.ceil(q / 100 * len(s)))) - 1]


def predicted(metric: str) -> str:
    best = max((p for p in PREDICTS if metric.startswith(p)), key=len, default=None)
    return PREDICTS[best] if best else "-"


class Terminated(Exception):
    pass


def _on_sigterm(signum, frame):
    raise Terminated()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# process bookkeeping
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, start time) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(name)] = (int(fields[1]), fields[19])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Processes:
    """Every process this run started, directly or not.

    The supervisor makes itself a child subreaper, so orphans of the
    driver (the JVM, PySpark's worker daemon, which puts itself in its
    own process group) stay its descendants and can be reaped."""

    def __init__(self) -> None:
        self.roots: dict[str, subprocess.Popen] = {}
        self.seen: dict[int, str] = {}   # pid -> start time
        try:
            ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
        except Exception:
            pass

    def start(self, name: str, cmd: list[str], env: dict, cwd: str, **kw) -> subprocess.Popen:
        p = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True, **kw)
        self.roots[name] = p
        return p

    def descendants(self, table=None) -> set[int]:
        table = table if table is not None else _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = set(), [os.getpid()]
        while todo:
            for c in kids.get(todo.pop(), []):
                if c not in out:
                    out.add(c)
                    todo.append(c)
        for pid in out:
            self.seen.setdefault(pid, table[pid][1])
        return out

    def tree_rss_mb(self, root: int) -> float:
        """Resident memory of ``root`` and everything under it."""
        table = _proc_table()
        self.descendants(table)
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        total, todo, done = 0, [root], set()
        while todo:
            pid = todo.pop()
            if pid in done or pid not in table:
                continue
            done.add(pid)
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, []))
        return total / 1024

    def _alive(self) -> list[int]:
        table = _proc_table()
        self.descendants(table)
        return [pid for pid, st in self.seen.items()
                if pid in table and table[pid][1] == st and pid != os.getpid()]

    def stop_all(self) -> None:
        """SIGTERM the driver (so it stops its streams and Spark), then
        SIGKILL every process group and process left, and reap them."""
        drv = self.roots.get("driver")
        if drv is not None and drv.poll() is None:
            drv.send_signal(signal.SIGTERM)
            try:
                drv.wait(GRACE_S)
            except subprocess.TimeoutExpired:
                pass
        for _ in range(50):
            alive = self._alive()
            if not alive:
                break
            for pid in alive:
                for kill in (lambda: os.killpg(os.getpgid(pid), signal.SIGKILL),
                             lambda: os.kill(pid, signal.SIGKILL)):
                    try:
                        kill()
                    except OSError:
                        pass
            self._reap()
            time.sleep(0.1)
        self._reap()
        for p in self.roots.values():
            try:
                p.wait(1)
            except Exception:
                pass

    @staticmethod
    def _reap() -> None:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                return


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def hermetic_env(run_dir: str) -> dict:
    env = dict(os.environ)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_ARTIFACTS": os.path.join(run_dir, "artifacts"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # -XX:-UsePerfData: no hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return env


def gen(procs: Processes, env, run_dir, *argv) -> None:
    g = env.copy()
    g["OMP_NUM_THREADS"] = "1"
    p = procs.start("gen-" + argv[0], [sys.executable, os.path.join(HERE, "gen.py"), *argv],
                    g, run_dir)
    if p.wait(120) != 0:
        raise RuntimeError(f"generator {argv[0]} failed")


def run(args, procs: Processes, run_dir: str) -> dict:
    env = hermetic_env(run_dir)
    seed = str(args.seed)
    w = args.workload
    t_start = time.time()
    if w == "telemetry_steady":
        gen(procs, env, run_dir, "backlog", "--out", os.path.join(run_dir, "warmup"),
            "--seed", str(args.seed + 1), "--rate", str(STEADY_RATE),
            "--files-per-s", str(STEADY_FILES_PER_S), "--files", str(STEADY_FILES_PER_S),
            "--log", os.path.join(run_dir, "warm.jsonl"))
        g = env.copy()
        g["OMP_NUM_THREADS"] = "1"
        procs.start("generator", [
            sys.executable, os.path.join(HERE, "gen.py"), "stream",
            "--out", os.path.join(run_dir, "live"), "--seed", seed,
            "--rate", str(STEADY_RATE), "--files-per-s", str(STEADY_FILES_PER_S),
            "--log", os.path.join(run_dir, "gen.jsonl"),
            "--go-file", os.path.join(run_dir, "go"),
            "--stop-file", os.path.join(run_dir, "stop")], g, run_dir)
    else:
        gen(procs, env, run_dir, "tables", "--out", os.path.join(run_dir, "tables"),
            "--seed", seed, "--sf", str(MIX_SF))
        gen(procs, env, run_dir, "backlog", "--out", os.path.join(run_dir, "backlog"),
            "--seed", seed, "--rate", str(STREAK_LINES), "--files-per-s", "1",
            "--files", str(STREAK_FILES), "--population", str(STREAK_USERS),
            "--log", os.path.join(run_dir, "backlog.jsonl"))
    gen_s = time.time() - t_start

    drv = procs.start("driver", [
        sys.executable, os.path.join(HERE, "driver.py"), "--workload", w,
        "--run-dir", run_dir, "--seconds", str(args.seconds), "--trace", str(args.trace)],
        env, run_dir)
    peak = 0.0
    deadline = t_start + RUN_DEADLINE_S
    while drv.poll() is None:
        peak = max(peak, procs.tree_rss_mb(drv.pid))
        if time.time() > deadline:
            raise TimeoutError("driver did not finish in time")
        time.sleep(0.5)  # a /proc walk per sample: keep it off the measured cores
    if drv.returncode != 0:
        raise RuntimeError(f"driver exited with {drv.returncode}")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    gp = procs.roots.get("generator")
    if gp is not None:
        gp.wait(10)

    t = time.time()
    if w == "telemetry_steady":
        gl = checks.read_jsonl(os.path.join(run_dir, "gen.jsonl"))
        res["gen"] = {"gen.files": len(gl), "gen.rows": sum(r["rows"] for r in gl),
                      "gen.lag_ms_max": max(r["late_ms"] for r in gl)}
        ok = checks.keyed_sink(os.path.join(run_dir, "live"), res["committed_files"],
                               res["sink_dir"])
        res["checks"] = {"keyed_sink": ok,
                         "generator_on_time": res["gen"]["gen.lag_ms_max"] < 250}
    else:
        res["checks"] = checks.oracles(os.path.join(run_dir, "tables"), res["digests"])
        res["checks"]["warning_streaks_catchup"] = checks.streaks(
            os.path.join(run_dir, "backlog"), os.path.join(run_dir, "streaks.json"))
    res["check_s"] = time.time() - t
    res["gen_s"] = gen_s
    res["layer"]["memory.peak_rss_mb"] = peak
    return res


def report(args, res: dict) -> dict:
    lat = res["latency_ms"]
    n_checks = len(res["checks"])
    bad_checks = sum(1 for ok in res["checks"].values() if not ok)
    if args.trace:
        metrics = {k: {"value": res["layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "latency_p50_ms": statistics.median(lat),
            "latency_p95_ms": pct(lat, 95),
            "throughput_per_s": res["throughput_per_s"],
            "setup_s": res["setup_s"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    failed = res["failed"] + bad_checks
    return {"correct": failed == 0, "attempted": res["attempted"] + n_checks,
            "failed": failed, "metrics": metrics}


def write_trace(args, res: dict) -> None:
    d = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    spans = res.get("spans", [])
    # self time: a span's duration minus what its children cover
    kids: dict[str, float] = {}
    for s in spans:
        if s["parent"]:
            kids[s["id"]] = kids.get(s["id"], 0.0) + s["end"] - s["start"]
    for s in spans:
        s["self_s"] = s["end"] - s["start"] - (0.0 if s["parent"] else kids.get(s["id"], 0.0))
    out = {k: res.get(k) for k in ("layer", "details", "gen", "checks", "gen_s", "check_s")}
    out["samples"] = len(res["latency_ms"])
    out["predicts"] = {k: predicted(k) for k in {**res["layer"], **(res.get("details") or {})}}
    out["spans"] = spans
    path = os.path.join(d, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    log(f"trace written to {os.path.relpath(path, ROOT)}")
    for k, v in sorted({**res["layer"], **(res.get("details") or {}),
                        **(res.get("gen") or {})}.items()):
        log(f"  {k} = {v}    -> {predicted(k)}")


def main() -> int:
    ap = argparse.ArgumentParser(description="iot_sparkstreaming_spark benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["telemetry_steady", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "iot_sparkstreaming_spark")):
        log(f"the program (iot_sparkstreaming_spark/) is not in {ROOT}")
        return 2
    signal.signal(signal.SIGTERM, _on_sigterm)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    procs = Processes()
    try:
        res = run(args, procs, run_dir)
        line = report(args, res)
        if args.trace:
            write_trace(args, res)
        lat = res["latency_ms"]
        log(f"{args.workload}: samples={len(lat)} beyond_p95="
            f"{sum(x > pct(lat, 95) for x in lat)} setup_s={res['setup_s']:.2f} "
            f"gen_s={res['gen_s']:.2f} check_s={res['check_s']:.2f} checks={res['checks']}")
    except Terminated:
        log("terminated")
        return 143
    except Exception:  # any failure: no result line
        log(f"run failed:\n{traceback.format_exc()}")
        return 1
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        procs.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
