"""Spark side of the benchmark: one workload in one process.

``run.py`` starts this file in its own process group with every input
already generated, and reads back ``result.json`` from the run
directory. This file only calls the program's public functions and
reads Spark's own records (streaming progress, the status store, the
file-source log in the checkpoint); it changes no program code.

Every workload sets up ``SETUP_REPS`` times, each time in a fresh Spark
session, and reports the median as its set-up time, then measures for
``--seconds``. On any
exit, SIGTERM included, it stops every active stream and calls
``spark.stop()``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import sys
import time

from py4j.protocol import Py4JJavaError

from checks import digest
from run import STEADY_FILES_PER_S, STREAK_FILES_PER_BATCH, WARM_S, pct

SETUP_REPS = 3

# The analytics mix, grouped by the layer each query leans on.
MIX = (
    # reference pipeline
    "warning_notification",
    # relational
    "q1_pricing_summary", "q3_shipping_priority", "q21_waiting_suppliers",
    # artifact-backed pair join and retrieval
    "tfidf_cosine_pairs", "ann_ivf_cosine",
    # graph with an eager driver loop
    "cheapest_path_lead_time",
    # Python boundary
    "udaf_iqr_pandas",
    # audit and window
    "fk_integrity_audit", "session_window_events",
    # stateful streaming operator, drained in catch-up mode
    "warning_streaks_catchup",
)
STREAK_OP = "warning_streaks_catchup"
# The queries whose set-up builds artifacts.
ARTIFACT_BACKED = ("tfidf_cosine_pairs", "ann_ivf_cosine")

# Micro-batch phases in the order the engine runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


T0 = time.time()


def note(msg: str) -> None:
    print(f"perfbench driver +{time.time() - T0:6.1f}s: {msg}", file=sys.stderr, flush=True)


class Terminated(Exception):
    pass


def _on_sigterm(signum, frame):
    raise Terminated()


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.dir = args.run_dir
        self.spark = None
        self.session_starts: list[float] = []
        self.trace = bool(args.trace)
        self.spans: list[dict] = []
        self.trace_cost_s = 0.0

    # -- session -----------------------------------------------------------
    def start_session(self) -> float:
        from iot_sparkstreaming_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t

    def stop_streams(self) -> None:
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            try:
                q.stop()
            except Exception:
                pass

    def close(self) -> None:
        if self.spark is not None:
            self.stop_streams()
            self.spark.stop()
            self.spark = None

    def setup(self, prepare) -> tuple[float, float]:
        """Set up SETUP_REPS times: start a Spark session, then run
        ``prepare(rep)`` in it. Every rep after the first stops the
        previous session first (untimed), so each one pays the session
        start and the cold start of the Python workers; only the first
        also pays the JVM launch. Returns the medians of (whole set-up,
        preparation alone); the session starts are kept on the run."""
        total, prep = [], []
        for rep in range(SETUP_REPS):
            self.close()
            s = self.start_session()
            t = time.perf_counter()
            prepare(rep)
            p = time.perf_counter() - t
            total.append(s + p)
            prep.append(p)
            self.session_starts.append(s)
        note(f"set-up reps {[round(t, 2) for t in total]}")
        return statistics.median(total), statistics.median(prep)

    # -- Spark status store ------------------------------------------------
    def stage_records(self, groups) -> list[dict]:
        """Completed stages of every job in the given job groups."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stage_ids = set()
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
        out = []
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if str(sd.status().toString()) != "COMPLETE":
                continue
            sub, comp = sd.submissionTime(), sd.completionTime()
            if sub.isEmpty() or comp.isEmpty():
                continue
            out.append({
                "start": sub.get().getTime() / 1000.0,
                "end": comp.get().getTime() / 1000.0,
                "tasks": sd.numTasks(),
                "run_s": sd.executorRunTime() / 1000.0,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "input_mb": sd.inputBytes() / 2**20,
                "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
            })
        return out

    def engine_layer(self, groups, ops) -> dict:
        """Sum the stages that ran inside the timed operations.

        ``ops`` are ``(start, end)`` wall-clock intervals; a stage
        counts when it started inside one. ``driver_s`` is the part of
        the operations' wall time during which no stage was running."""
        stages = [s for s in self.stage_records(groups)
                  if any(a - 0.01 <= s["start"] <= b for a, b in ops)]
        driver = 0.0
        for a, b in ops:
            covered, cur_a, cur_b = 0.0, None, None
            for s in sorted(stages, key=lambda s: s["start"]):
                sa, sb = max(a, s["start"]), min(b, s["end"])
                if sb <= sa:
                    continue
                if cur_b is None or sa > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = sa, sb
                else:
                    cur_b = max(cur_b, sb)
            if cur_b is not None:
                covered += cur_b - cur_a
            driver += (b - a) - covered
        run_s = sum(s["run_s"] for s in stages)
        cpu_s = sum(s["cpu_s"] for s in stages)
        return {
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.run_s": run_s,
            "spark.cpu_s": cpu_s,
            "spark.wait_s": max(0.0, run_s - cpu_s),
            "spark.driver_s": driver,
            "spark.input_mb": sum(s["input_mb"] for s in stages),
            "spark.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        }

    def jvm_gc_s(self) -> float:
        """Collection time of every collector of the JVM so far (local
        mode: the driver and executors share one JVM)."""
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def span(self, sid, name, start, end, parent=None, **attrs) -> None:
        if self.trace:
            t = time.perf_counter()
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, **attrs})
            self.trace_cost_s += time.perf_counter() - t


# ---------------------------------------------------------------------------
# streaming helpers
# ---------------------------------------------------------------------------

def batch_end(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + its duration."""
    from datetime import datetime

    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (start - datetime(1970, 1, 1)).total_seconds()
    return epoch + p["durationMs"]["triggerExecution"] / 1000.0


def batch_start(p: dict) -> float:
    return batch_end(p) - p["durationMs"]["triggerExecution"] / 1000.0


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the file source's checkpoint log
    (plain and ``.compact`` entries)."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def last_commit(checkpoint: str) -> int:
    """Id of the last batch the sink committed (checkpoint ``commits/``)."""
    d = os.path.join(checkpoint, "commits")
    return max((int(n) for n in os.listdir(d) if n.isdigit()), default=-1)


class ProgressLog:
    """Collects progress of every stream: a benchmark-attached
    ``StreamingQueryListener`` in a traced run, ``recentProgress`` after
    the fact otherwise."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.events: list[dict] = []
        if run.trace:
            from pyspark.sql.streaming import StreamingQueryListener

            log = self

            class Listener(StreamingQueryListener):
                def onQueryStarted(self, event):
                    pass

                def onQueryProgress(self, event):
                    t = time.perf_counter()
                    log.events.append(json.loads(event.progress.json))
                    run.trace_cost_s += time.perf_counter() - t

                def onQueryIdle(self, event):
                    pass

                def onQueryTerminated(self, event):
                    pass

            self.listener = Listener()
            run.spark.streams.addListener(self.listener)

    def progress(self, query) -> list[dict]:
        rid = str(query.runId)
        if self.run.trace:
            # the listener bus is asynchronous: let it drain
            deadline = time.time() + 5
            last = query.lastProgress
            while time.time() < deadline and last and not any(
                e["runId"] == rid and e["batchId"] == last["batchId"] for e in self.events
            ):
                time.sleep(0.05)
            got = [e for e in self.events if e["runId"] == rid]
        else:
            got = [p for p in query.recentProgress]
        seen, out = set(), []
        for p in got:
            if p["numInputRows"] > 0 and p["batchId"] not in seen:
                seen.add(p["batchId"])
                out.append(p)
        return sorted(out, key=lambda p: p["batchId"])

    def batch_spans(self, progress: list[dict]) -> None:
        """One span per micro-batch with its ``durationMs`` phases as
        children, laid out in engine order."""
        for p in progress:
            sid = f"{p['runId']}/{p['batchId']}"
            a, b = batch_start(p), batch_end(p)
            self.run.span(sid, "batch", a, b, rows=p["numInputRows"])
            t = a
            for ph in PHASES:
                ms = p["durationMs"].get(ph)
                if ms:
                    self.run.span(sid, ph, t, t + ms / 1000.0, parent="batch")
                    t += ms / 1000.0


def stream_layer(run: Run, query, progress: list[dict]) -> dict:
    ops = [(batch_start(p), batch_end(p)) for p in progress]
    layer = run.engine_layer([str(query.runId)], ops)
    layer["spark.jobs"] = _jobs_in(run, [str(query.runId)], ops)
    layer["ops"] = len(progress)
    layer["op.plan_ms_p50"] = statistics.median(
        p["durationMs"].get("queryPlanning", 0) for p in progress)
    layer["op.exec_ms_p50"] = statistics.median(
        p["durationMs"].get("addBatch", 0) for p in progress)
    layer["op.exec_ms_max"] = max(p["durationMs"].get("addBatch", 0) for p in progress)
    return layer


def _jobs_in(run: Run, groups, ops) -> int:
    """Jobs of the given groups whose first stage started inside an op."""
    sc = run.spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    n = 0
    for g in groups:
        for j in tracker.getJobIdsForGroup(g):
            try:
                jd = store.job(j)
            except Py4JJavaError:  # no longer retained
                continue
            sub = jd.submissionTime()
            if sub.isEmpty():
                continue
            t = sub.get().getTime() / 1000.0
            if any(a - 0.01 <= t <= b for a, b in ops):
                n += 1
    return n


def stream_details(progress: list[dict], checkpoint: str) -> dict:
    """Layer figures that exist only on streams (trace file only)."""
    d = lambda k: [p["durationMs"].get(k, 0) for p in progress]
    per_batch: dict[int, int] = {}
    for b in source_log(checkpoint).values():
        per_batch[b] = per_batch.get(b, 0) + 1
    files_per_batch = [per_batch.get(p["batchId"], 0) for p in progress]
    trig = d("triggerExecution")
    out = {
        "streaming.batches": len(progress),
        "streaming.trigger_ms_p50": statistics.median(trig),
        "streaming.trigger_ms_max": max(trig),
        "streaming.query_planning_ms": statistics.median(d("queryPlanning")),
        "streaming.wal_commit_ms": statistics.median(d("walCommit")),
        "streaming.commit_offsets_ms": statistics.median(d("commitOffsets")),
        "io.sources.latest_offset_ms": statistics.median(d("latestOffset")),
        "io.sources.get_batch_ms": statistics.median(d("getBatch")),
        "io.sources.rows": sum(p["numInputRows"] for p in progress),
    }
    if files_per_batch:
        out["io.sources.files_per_batch"] = statistics.median(files_per_batch)
    ops = [o for p in progress for o in p.get("stateOperators", [])]
    if ops:
        last = progress[-1].get("stateOperators", [{}])[0]
        out["streaming.stateful.state_rows"] = last.get("numRowsTotal", 0)
        out["streaming.stateful.state_mb"] = last.get("memoryUsedBytes", 0) / 2**20
        out["streaming.stateful.state_commit_ms"] = statistics.median(
            o.get("commitTimeMs", 0) for o in ops)
    return out


def wait_until(cond, timeout: float, step: float = 0.05) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if cond():
            return True
        time.sleep(step)
    return cond()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def telemetry_steady(run: Run) -> dict:
    """Open loop: the generator writes files on schedule; the warning
    pipeline upserts into the keyed sink on a 1 s trigger."""
    from iot_sparkstreaming_spark.io import keyed_sink
    from iot_sparkstreaming_spark.io.sources import lines_stream, parse_csv_records
    from iot_sparkstreaming_spark.schemas import FITBIT_SCHEMA
    from iot_sparkstreaming_spark.streaming.pipelines import warning_pipeline

    d = run.dir

    def start(src: str, tag: str, **trigger):
        keyed_sink.register(run.spark)
        fit = parse_csv_records(lines_stream(run.spark, "files", src), FITBIT_SCHEMA, "fitbit")
        return (
            warning_pipeline(fit).writeStream.format("keyed_files")
            .option("path", os.path.join(d, f"sink-{tag}"))
            .option("key", "user_id").option("version", "machine_timestamp")
            .option("checkpointLocation", os.path.join(d, f"ckpt-{tag}"))
            .trigger(**trigger).start()
        )

    def prepare(rep: int) -> None:
        q = start(os.path.join(d, "warmup"), f"warm{rep}", availableNow=True)
        q.awaitTermination()

    setup_s, prep_s = run.setup(prepare)
    plog = ProgressLog(run)
    q = start(os.path.join(d, "live"), "live", processingTime="1 second")
    # Files fall due at a fixed phase of the 1 s trigger grid, in the
    # middle of equal slots, so every run offers the same wait-for-trigger
    # mix.
    go = math.floor(time.time()) + 1 + 0.5 / STEADY_FILES_PER_S
    with open(os.path.join(d, "go.tmp"), "w") as f:
        f.write(repr(go))
    os.replace(os.path.join(d, "go.tmp"), os.path.join(d, "go"))
    w0, w1 = go + WARM_S, go + WARM_S + run.args.seconds
    gen_log = os.path.join(d, "gen.jsonl")

    def window_files():
        if not os.path.exists(gen_log):
            return []
        with open(gen_log) as f:
            recs = [json.loads(x) for x in f if x.endswith("\n")]
        return [r for r in recs if w0 <= r["due_ms"] / 1000 < w1]

    ckpt = os.path.join(d, "ckpt-live")

    def committed() -> bool:
        logged, files = source_log(ckpt), window_files()
        last = q.lastProgress
        return (bool(files) and all(r["file"] in logged for r in files) and last is not None
                and last["batchId"] >= max(logged[r["file"]] for r in files))

    time.sleep(max(0.0, w0 - time.time()))
    gc0 = run.jvm_gc_s()
    time.sleep(max(0.0, w1 - time.time()))
    gc_s = run.jvm_gc_s() - gc0
    note("window over")
    wait_until(committed, timeout=30, step=0.1)
    note("window files committed")
    with open(os.path.join(d, "stop"), "w"):
        pass
    wait_until(lambda: not q.status["isTriggerActive"], timeout=10)
    progress = plog.progress(q)
    q.stop()

    by_batch = {p["batchId"]: p for p in progress}
    logged = source_log(ckpt)
    files = window_files()
    lat, failed = [], 0
    for r in files:
        b = logged.get(r["file"])
        if b is None or b not in by_batch:
            failed += 1
            continue
        lat.append(batch_end(by_batch[b]) * 1000 - r["due_ms"])
    win = [p for p in progress if w0 <= batch_start(p) < w1]
    # rows processed inside the window: a batch that straddles an edge
    # counts by the share of its run time inside
    rows = sum(p["numInputRows"] * max(0.0, min(w1, batch_end(p)) - max(w0, batch_start(p)))
               / (batch_end(p) - batch_start(p)) for p in progress)
    res = {
        "setup_s": setup_s,
        "latency_ms": lat,
        "throughput_per_s": rows / run.args.seconds,
        "attempted": len(files),
        "failed": failed,
        "committed_files": sorted(f for f, b in logged.items() if b <= last_commit(ckpt)),
        "sink_dir": os.path.join(d, "sink-live"),
        "layer": {"session.start_s": statistics.median(run.session_starts),
                  "setup.prepare_s": prep_s,
                  "spark.gc_s": gc_s},
    }
    if run.trace:
        plog.batch_spans(win)
        res["layer"].update(stream_layer(run, q, win))
        res["details"] = stream_details(win, ckpt)
        res["details"].update(_keyed_sink_details(run, q, win, res["sink_dir"]))
    return res


def _keyed_sink_details(run: Run, q, progress, sink_dir) -> dict:
    """The keyed sink's commit runs in a JVM-spawned Python worker, so
    it is timed as addBatch minus the wall time of that batch's jobs."""
    stages = run.stage_records([str(q.runId)])
    commits = []
    for p in progress:
        a, b = batch_start(p), batch_end(p)
        mine = [s for s in stages if a <= s["start"] <= b]
        jobs_wall = (max(s["end"] for s in mine) - min(s["start"] for s in mine)) if mine else 0.0
        commits.append(max(0.0, p["durationMs"].get("addBatch", 0) - jobs_wall * 1000))
    from iot_sparkstreaming_spark.io.keyed_sink import TABLE_FILE, read_table

    table = os.path.join(sink_dir, TABLE_FILE)
    return {
        "io.keyed_sink.add_batch_ms": statistics.median(
            p["durationMs"].get("addBatch", 0) for p in progress),
        "io.keyed_sink.commit_ms": statistics.median(commits),
        "io.keyed_sink.table_keys": len(read_table(sink_dir)),
        "io.keyed_sink.table_mb": os.path.getsize(table) / 2**20,
    }


def streak_drain(run: Run, src: str, tag: str):
    """Catch-up drain of the files in ``src`` with ``availableNow``:
    parse → classify_warning → warning_streaks → memory table ``tag``.
    Returns the finished query and the time its start() returned."""
    from pyspark.sql.functions import col

    from iot_sparkstreaming_spark.functions.health import classify_warning
    from iot_sparkstreaming_spark.io.sources import parse_csv_records
    from iot_sparkstreaming_spark.schemas import FITBIT_SCHEMA
    from iot_sparkstreaming_spark.streaming.stateful import warning_streaks

    lines = (run.spark.readStream.format("text")
             .option("maxFilesPerTrigger", STREAK_FILES_PER_BATCH).load(src))
    fit = parse_csv_records(lines, FITBIT_SCHEMA, "fitbit")
    warned = fit.select(
        "user_id", "machine_timestamp",
        classify_warning(col("pulse"), col("age"), col("bp_cat")).alias("warning"))
    q = (warning_streaks(warned).writeStream.format("memory").queryName(tag)
         .outputMode("append")
         .option("checkpointLocation", os.path.join(run.dir, f"ckpt-{tag}"))
         .trigger(availableNow=True).start())
    started = time.perf_counter()
    while q.isActive:
        time.sleep(0.01)
    if q.exception() is not None:
        raise RuntimeError(f"{tag} failed: {q.exception()}")
    return q, started


def analytics_mix(run: Run) -> dict:
    """Closed loop, one client: repeated passes over the mix. A query is
    timed around ``Query.spark`` (plan) plus a noop write (execute); the
    streak catch-up is timed around building and starting the stream
    (plan) plus its drain (execute)."""
    from iot_sparkstreaming_spark import artifacts
    from iot_sparkstreaming_spark.queries.registry import load_all
    from iot_sparkstreaming_spark.tables import clear_session_memo

    reg = load_all()
    sf = os.path.join(run.dir, "tables")
    backlog = os.path.join(run.dir, "backlog")
    builds = []

    def prepare(rep: int) -> None:
        # a fresh artifact store each time: the set-up builds, never loads
        os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(run.dir, f"artifacts{rep}")
        clear_session_memo(run.spark)
        b0 = sum(artifacts.BUILD_TIMES.values())
        for name in ARTIFACT_BACKED:
            reg[name].spark(run.spark, sf)
        builds.append(sum(artifacts.BUILD_TIMES.values()) - b0)

    setup_s, prep_s = run.setup(prepare)
    # warm pass: everything once, collected for the correctness checks
    digests = {}
    t = time.perf_counter()
    for name in MIX:
        if name == STREAK_OP:
            streak_drain(run, backlog, "streaks_warm")
            rows = run.spark.sql("SELECT * FROM streaks_warm").collect()
            with open(os.path.join(run.dir, "streaks.json"), "w") as f:
                json.dump([r.asDict() for r in rows], f)
            continue
        df = reg[name].spark(run.spark, sf)
        digests[name] = digest(df.columns, [tuple(r) for r in df.collect()])
    note(f"warm pass {time.perf_counter() - t:.1f}s")
    # a pass takes about 7 s on 4 cores
    passes = max(1, round(run.args.seconds / 6))
    sc = run.spark.sparkContext
    plog = ProgressLog(run)
    times, plan, execs, ops, groups, drains = [], [], [], [], [], []
    loads0 = dict(artifacts.LOAD_TIMES)
    gc0 = run.jvm_gc_s()
    wall = 0.0
    for p in range(passes):
        t_pass = time.perf_counter()
        for name in MIX:
            gid = f"perfbench-{p}-{name}"
            sc.setJobGroup(gid, name)
            a = time.time()
            t0 = time.perf_counter()
            if name == STREAK_OP:
                q, t1 = streak_drain(run, backlog, f"streaks{p}")
                drains.append(q)
                gid = str(q.runId)
            else:
                df = reg[name].spark(run.spark, sf)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            b = time.time()
            times.append((t2 - t0) * 1000)
            plan.append((t1 - t0) * 1000)
            execs.append((t2 - t1) * 1000)
            ops.append((a, b))
            groups.append(gid)
            run.span(gid, "op", a, b, op=name)
            run.span(gid, "plan", a, a + (t1 - t0), parent="op")
            run.span(gid, "execute", a + (t1 - t0), b, parent="op")
        wall += time.perf_counter() - t_pass
    gc_s = run.jvm_gc_s() - gc0
    sc.setLocalProperty("spark.jobGroup.id", None)
    res = {
        "setup_s": setup_s,
        "latency_ms": times,
        "throughput_per_s": len(times) / wall,
        "attempted": len(times),
        "failed": 0,
        "digests": digests,
        "layer": {"session.start_s": statistics.median(run.session_starts),
                  "setup.prepare_s": prep_s,
                  "spark.gc_s": gc_s},
    }
    if run.trace:
        layer = run.engine_layer(groups, ops)
        layer["spark.jobs"] = _jobs_in(run, groups, ops)
        layer["ops"] = len(times)
        layer["op.plan_ms_p50"] = statistics.median(plan)
        layer["op.exec_ms_p50"] = statistics.median(execs)
        layer["op.exec_ms_max"] = max(execs)
        res["layer"].update(layer)
        progress = [pr for q in drains for pr in plog.progress(q)]
        plog.batch_spans(progress)
        qplan = [pl for pl, n in zip(plan, MIX * passes) if n != STREAK_OP]
        res["details"] = {
            "artifacts.build_s": statistics.median(builds),
            "artifacts.builds": len(artifacts.BUILD_TIMES),
            "artifacts.load_s": sum(artifacts.LOAD_TIMES.values()) - sum(loads0.values()),
            # artifacts read from disk at least once in the timed passes
            "artifacts.loads": sum(v != loads0.get(k) for k, v in artifacts.LOAD_TIMES.items()),
            "queries.plan_s": sum(qplan) / 1000,
            "queries.plan_s_p90": pct(qplan, 90) / 1000,
            **stream_details(progress, os.path.join(run.dir, f"ckpt-streaks{passes - 1}")),
        }
    return res


WORKLOADS = {
    "telemetry_steady": telemetry_steady,
    "analytics_mix": analytics_mix,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_sigterm)
    run = Run(args)
    try:
        res = WORKLOADS[args.workload](run)
        res["layer"]["trace.overhead_ms"] = run.trace_cost_s * 1000
        if run.trace:
            # the first session start also launches the JVM
            res["details"]["session.first_start_s"] = run.session_starts[0]
        res["spans"] = run.spans
        note("workload done")
        tmp = os.path.join(args.run_dir, "result.json.tmp")
        with open(tmp, "w") as f:
            json.dump(res, f)
        os.replace(tmp, os.path.join(args.run_dir, "result.json"))
        return 0
    except Terminated:
        print("driver: terminated", file=sys.stderr)
        return 143
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        run.close()
        note("spark stopped")


if __name__ == "__main__":
    sys.exit(main())
