"""Traced run: per-layer metrics from spans plus Spark's own event log.

The benchmark installs wrappers around the public functions of each layer
at run time (no program file changes). A wrapper records a span (name,
start, end, parent) and tags every Spark job started inside it with the
span's id (``SparkContext.addJobTag``). After the run, Spark's event log
(uncompressed, written only in this mode) gives each job's wall interval
and its stages' task metrics; a job belongs to the innermost span whose tag
it carries, and to every span enclosing that one.

Functions are patched on their defining module and wherever another
canal_spark module imported them by name (``streaming/replay.py`` imports
``apply_events``, ``split_at_txn_boundary`` and ``batch_stats`` that way).

A traced invocation runs the same protocol as an untraced one, with the
event log on and the wrappers switched on for every other timed write op
(and the reads that follow it); the ops run with wrappers off are the
reference for ``trace.overhead_share``, so the event log's own cost is not
in that share. Per-layer metrics come from the traced ops only. The
catchup workload then replays its log once under ``local[1]`` for
``spark.speedup_vs_local1``. Spans and jobs are written to
``.perfbench_work/runs/`` for inspection.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

import host
from workloads import Run

S, N, B, R = "s", "count", "bytes", "ratio"
UNITS = {
    "pipeline.apply_events.self_s": S,
    "pipeline.jobs_outside_merge": N,
    "pipeline.ranges": N,
    "lww.events_in": N,
    "lww.keys_out": N,
    "lww.collapse_ratio": R,
    "lww.collapse.core_s": S,
    "lww.collapse.shuffle_write_bytes": B,
    "lake.create.wall_s": S,
    "lake.merge_apply.wall_s": S,
    "lake.merge_apply.probe_job_s": S,
    "lake.merge_apply.write_job_s": S,
    "lake.merge_apply.driver_s": S,
    "lake.merge_apply.core_s": S,
    "lake.merge_apply.shuffle_bytes": B,
    "lake.merge_apply.bytes_written": B,
    "lake.merge_apply.files_read": N,
    "lake.merge_apply.files_carried": N,
    "lake.merge_apply.mor_share": R,
    "lake.merge_apply.changelog_job_s": S,
    "lake.lookup.wall_s": S,
    "lake.lookup.bytes_read": B,
    "lake.read.wall_s": S,
    "lake.read.core_s": S,
    "lake.read.bytes_read": B,
    "lake.read.delta_files": N,
    "lake.maintain.wall_s": S,
    "transactions.split.wall_s": S,
    "transactions.tail_save.wall_s": S,
    "transactions.tail_rows": N,
    "metrics.batch_stats.wall_s": S,
    "stream.epoch.wall_s": S,
    "stream.add_batch_s": S,
    "stream.overhead_s": S,
    "stream.jobs_per_epoch": N,
    "views.apply.wall_s": S,
    "views.apply.core_s": S,
    "views.apply.jobs": N,
    "relay.step.wall_s": S,
    "relay.rows_applied": N,
    "spark.jobs": N,
    "spark.stages": N,
    "spark.task_core_s": S,
    "spark.task_cpu_s": S,
    "spark.gc_s": S,
    "spark.spill_bytes": B,
    "spark.shuffle_read_bytes": B,
    "spark.shuffle_write_bytes": B,
    "spark.input_bytes": B,
    "spark.output_bytes": B,
    "spark.driver_s": S,
    "spark.slot_idle_share": R,
    "spark.speedup_vs_local1": R,
    "trace.coverage": R,
    "trace.overhead_share": R,
}


# ================================================================= spans
class Tracer:
    """In-memory span recorder. Each thread keeps its own span stack; a
    span opened on a thread with an empty stack (Spark's foreachBatch
    callback thread) takes the main thread's innermost span as parent."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = True
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "t0": time.time(), "t1": None, "res": None}
            self.spans.append(rec)
        tag = f"pb{rec['id']}"
        stack.append(rec["id"])
        self.sc.addJobTag(tag)
        try:
            yield rec
        finally:
            self.sc.removeJobTag(tag)
            stack.pop()
            rec["t1"] = time.time()


def install(tracer: Tracer) -> list:
    """Wrap each layer's public functions; returns the undo list."""
    from canal_spark import metrics, pipeline, views
    from canal_spark.operators import lww, transactions
    from canal_spark.streaming import relay
    from canal_spark.streaming.replay import StreamingReplay
    from canal_spark.table.lake import LakeTable

    undo: list = []

    def wrapper(fn, name, keep_result):
        @functools.wraps(fn)
        def w(*a, **k):
            if not tracer.enabled:
                return fn(*a, **k)
            with tracer.span(name) as rec:
                res = fn(*a, **k)
                if keep_result:
                    rec["res"] = keep_result(res)
                return res
        return w

    def patch_func(mod, attr, name, keep_result=None):
        fn = getattr(mod, attr)
        w = wrapper(fn, name, keep_result)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("canal_spark"):
                for k, v in list(vars(m).items()):
                    if v is fn:
                        setattr(m, k, w)
                        undo.append((m, k, fn))

    def patch_method(cls, attr, name, keep_result=None):
        orig = cls.__dict__[attr]
        if isinstance(orig, classmethod):
            new = classmethod(wrapper(orig.__func__, name, keep_result))
        else:
            new = wrapper(orig, name, keep_result)
        setattr(cls, attr, new)
        undo.append((cls, attr, orig))

    def ranges(st):
        return {"ranges": st.ranges}

    def as_dict(res):
        return dict(res) if isinstance(res, dict) else None

    patch_func(pipeline, "replay", "pipeline.replay")
    patch_func(pipeline, "apply_events", "pipeline.apply_events", ranges)
    patch_func(pipeline, "apply_dml_range", "pipeline.apply_dml_range")
    patch_func(lww, "changes_from_events", "lww.changes_from_events")
    patch_func(lww, "collapse_lww", "lww.collapse_lww")
    patch_func(lww, "wire_net_changes", "lww.wire_net_changes")
    patch_func(transactions, "split_at_txn_boundary", "transactions.split")
    patch_method(transactions.TxnTailState, "save", "transactions.tail_save",
                 lambda n: {"rows": n})
    patch_method(transactions.TxnTailState, "attach", "transactions.tail_attach")
    patch_func(metrics, "batch_stats", "metrics.batch_stats")
    patch_method(LakeTable, "create", "lake.create")
    patch_method(LakeTable, "read", "lake.read")
    patch_method(LakeTable, "lookup", "lake.lookup")
    patch_method(LakeTable, "merge_apply", "lake.merge_apply", as_dict)
    patch_method(LakeTable, "_write_data", "lake.write")
    patch_method(LakeTable, "_write_changelog", "lake.changelog")
    patch_method(LakeTable, "read_changes", "lake.read_changes")
    patch_method(LakeTable, "maintain", "lake.maintain")
    patch_method(StreamingReplay, "start", "stream.start")
    patch_method(StreamingReplay, "_apply_batch", "stream.epoch")
    patch_method(views.MultiJoinedView, "apply", "views.apply", as_dict)
    patch_func(relay, "relay_step", "relay.step", as_dict)
    patch_func(relay, "relay_until_idle", "relay.until_idle")
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# ============================================================ event log
def parse_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs from Spark's event log: wall interval, span tags and summed
    task metrics of the stages the job ran."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tags = (ev.get("Properties") or {}).get("spark.job.tags") or ""
                jid = ev["Job ID"]
                jobs[jid] = {
                    "t0": ev["Submission Time"] / 1000, "t1": None,
                    "tags": {int(t[2:]) for t in tags.split(",")
                             if t.startswith("pb")},
                    "stages": {}, "core_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                    "spill": 0, "sh_read": 0, "sh_write": 0, "input": 0,
                    "output": 0}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                st = job["stages"].setdefault(
                    ev["Stage ID"], {"core_s": 0.0, "sh_write": 0})
                core = m["Executor Run Time"] / 1000
                shw = m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st["core_s"] += core
                st["sh_write"] += shw
                job["core_s"] += core
                job["cpu_s"] += m["Executor CPU Time"] / 1e9
                job["gc_s"] += m["JVM GC Time"] / 1000
                job["spill"] += (m["Memory Bytes Spilled"]
                                 + m["Disk Bytes Spilled"])
                rd = m["Shuffle Read Metrics"]
                job["sh_read"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                job["sh_write"] += shw
                job["input"] += m["Input Metrics"]["Bytes Read"]
                job["output"] += m["Output Metrics"]["Bytes Written"]
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return jobs


# ====================================================== interval helpers
def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(intervals, lo: float, hi: float) -> float:
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in _union(intervals))


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ============================================================== metrics
class Layers:
    """Per-layer metrics of one traced run (``run.windows`` are the timed
    op intervals; warm-up and verification are outside them)."""

    def __init__(self, run: Run, spans: list[dict], jobs: dict[int, dict],
                 n_cores: int):
        self.run, self.spans, self.jobs, self.cores = run, spans, jobs, n_cores
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        traced = [w for w in run.windows if w["traced"]]
        self.windows = [(w["t0"], w["t1"]) for w in traced]
        self.write_windows = [(w["t0"], w["t1"]) for w in traced if w["write"]]
        self.none: set[str] = set()
        # inclusive job ownership: innermost tagged span and its ancestors
        self.owned: dict[int, list[dict]] = {}
        for j in jobs.values():
            if not j["tags"]:
                continue
            sid = max(j["tags"])
            while sid is not None:
                self.owned.setdefault(sid, []).append(j)
                sid = self.by_id[sid]["parent"]

    def timed(self, s: dict) -> bool:
        return any(a <= s["t0"] <= b for a, b in self.windows)

    def agg(self, name: str, fn, xs) -> None:
        """Set metric ``name`` to fn(xs); no samples -> recorded as absent."""
        xs = list(xs)
        if xs:
            self.m[name] = fn(xs)
        else:
            self.none.add(name)
            self.m[name] = 0.0

    def sel(self, name: str, timed: bool = True) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["t1"]
                and (not timed or self.timed(s))]

    def jobs_of(self, s: dict) -> list[dict]:
        return self.owned.get(s["id"], [])

    @staticmethod
    def dur(s: dict) -> float:
        return s["t1"] - s["t0"]

    def job_wall(self, jobs) -> float:
        return _covered([(j["t0"], j["t1"]) for j in jobs], -1e18, 1e18)

    def compute(self) -> dict[str, float]:
        self.m = m = {}
        agg = self.agg
        run = self.run
        n_ops = len(self.write_windows)
        if not n_ops:
            raise RuntimeError("no traced write op in the timed window")
        dur = self.dur

        def total(key, spans):
            return [sum(j[key] for j in self.jobs_of(s)) for s in spans]

        # ---- pipeline
        ae = self.sel("pipeline.apply_events")
        agg("pipeline.apply_events.self_s", _mean, [
            dur(s) - sum(dur(c) for c in self.children.get(s["id"], []))
            for s in ae])
        agg("pipeline.jobs_outside_merge", _mean, [
            sum(1 for j in self.jobs_of(s)
                if not any(self.by_id[t]["name"] in ("lake.merge_apply",
                                                     "views.apply")
                           for t in j["tags"]))
            for s in ae])
        agg("pipeline.ranges", _mean, [s["res"]["ranges"] for s in ae])

        # ---- lake.merge_apply on the main table (one call per merge range)
        main = [s for s in self.sel("lake.merge_apply")
                if self.by_id[s["parent"]]["name"] == "pipeline.apply_dml_range"]
        probe, write, log = [], [], []
        for s in main:
            kids = self.children.get(s["id"], [])
            first_write = min((c["t0"] for c in kids if c["name"] == "lake.write"),
                              default=s["t1"])
            probe.append([j for j in self.jobs_of(s)
                          if j["t0"] < first_write and max(j["tags"]) == s["id"]])
            write.append([j for c in kids if c["name"] == "lake.write"
                          for j in self.jobs_of(c)])
            log.append([j for c in kids if c["name"] == "lake.changelog"
                        for j in self.jobs_of(c)])
        res = [s["res"] or {} for s in main]
        ma = "lake.merge_apply."
        agg(ma + "wall_s", _med, map(dur, main))
        agg(ma + "probe_job_s", _mean, map(self.job_wall, probe))
        agg(ma + "write_job_s", _mean, map(self.job_wall, write))
        agg(ma + "changelog_job_s", _mean,
            [self.job_wall(js) for js in log if js])
        agg(ma + "driver_s", _mean,
            [dur(s) - self.job_wall(self.jobs_of(s)) for s in main])
        agg(ma + "core_s", _mean, total("core_s", main))
        agg(ma + "shuffle_bytes", _mean, total("sh_write", main))
        agg(ma + "bytes_written", _mean, total("output", main))
        agg(ma + "files_read", _mean, [r.get("files_read", 0) for r in res])
        agg(ma + "files_carried", _mean, [r.get("files_carried", 0) for r in res])
        agg(ma + "mor_share", _mean,
            [1.0 if r.get("mode") == "mor" else 0.0 for r in res])

        # ---- lww: the collapse is lazy and runs inside merge_apply's
        # probe jobs (those before its write), as their shuffle-map stages
        keys_out = sum(r.get("upserts", 0) + r.get("deletes", 0) for r in res)
        changes = run.changes / max(1, run.write_ops)
        agg("lww.events_in", _mean, [changes] if main else [])
        agg("lww.keys_out", _mean, [keys_out / n_ops] if main else [])
        agg("lww.collapse_ratio", _mean,
            [changes * n_ops / keys_out] if keys_out else [])
        agg("lww.collapse.core_s", sum, [
            st["core_s"] / n_ops for js in probe for j in js
            for st in j["stages"].values() if st["sh_write"]] if main else [])
        agg("lww.collapse.shuffle_write_bytes", sum,
            [j["sh_write"] / n_ops for js in probe for j in js] if main else [])

        # ---- lake reads and maintenance; read() and lookup() only build a
        # plan, so a read is timed by the benchmark's op span, which covers
        # the call and the action that consumes the returned DataFrame
        agg("lake.create.wall_s", _med, map(dur, self.sel("lake.create", False)))
        lk = self.sel("op.lookup")
        agg("lake.lookup.wall_s", _med, map(dur, lk))
        agg("lake.lookup.bytes_read", _mean, total("input", lk))
        rd = self.sel("op.scan")
        agg("lake.read.wall_s", _med, map(dur, rd))
        agg("lake.read.core_s", _mean, total("core_s", rd))
        agg("lake.read.bytes_read", _mean, total("input", rd))
        agg("lake.read.delta_files", _mean, run.extra.get("delta_files", []))
        agg("lake.maintain.wall_s", _med, map(dur, self.sel("lake.maintain")))

        # ---- streaming tail
        agg("transactions.split.wall_s", _med,
            map(dur, self.sel("transactions.split")))
        saves = self.sel("transactions.tail_save")
        agg("transactions.tail_save.wall_s", _med, map(dur, saves))
        agg("transactions.tail_rows", _mean, [s["res"]["rows"] for s in saves])
        agg("metrics.batch_stats.wall_s", _med,
            map(dur, self.sel("metrics.batch_stats")))
        ep = [s for s in self.sel("stream.epoch") if self.jobs_of(s)]
        prog = run.extra.get("progress", [])
        agg("stream.epoch.wall_s", _med, map(dur, ep))
        agg("stream.add_batch_s", _med, [p["add_batch_s"] for p in prog])
        agg("stream.overhead_s", _med,
            [p["trigger_s"] - p["add_batch_s"] for p in prog])
        agg("stream.jobs_per_epoch", _mean, [len(self.jobs_of(s)) for s in ep])

        # ---- views and relay
        va = self.sel("views.apply")
        agg("views.apply.wall_s", _med, map(dur, va))
        agg("views.apply.core_s", _mean, total("core_s", va))
        agg("views.apply.jobs", _mean, [len(self.jobs_of(s)) for s in va])
        steps = [s for s in self.sel("relay.step") if s["res"]["applied"]]
        agg("relay.step.wall_s", _med, map(dur, steps))
        agg("relay.rows_applied", sum, [
            (s["res"].get("upserts", 0) + s["res"].get("deletes", 0)) / n_ops
            for s in steps])

        # ---- process-wide Spark counters, per traced write op
        ww = self.write_windows
        tj = [j for j in self.jobs.values()
              if any(a <= j["t0"] <= b for a, b in ww)]
        wall = sum(b - a for a, b in ww)
        core = sum(j["core_s"] for j in tj)
        busy = sum(_covered([(j["t0"], j["t1"]) for j in tj], a, b)
                   for a, b in ww)
        m["spark.jobs"] = len(tj) / n_ops
        m["spark.stages"] = sum(len(j["stages"]) for j in tj) / n_ops
        m["spark.task_core_s"] = core / n_ops
        for key, name in (("cpu_s", "task_cpu_s"), ("gc_s", "gc_s"),
                          ("spill", "spill_bytes"),
                          ("sh_read", "shuffle_read_bytes"),
                          ("sh_write", "shuffle_write_bytes"),
                          ("input", "input_bytes"), ("output", "output_bytes")):
            m[f"spark.{name}"] = sum(j[key] for j in tj) / n_ops
        m["spark.driver_s"] = (wall - busy) / n_ops
        m["spark.slot_idle_share"] = 1 - core / (wall * self.cores)

        # ---- trace quality: share of the traced operations' wall that a
        # layer accounts for. The span that opens each op (the benchmark's
        # op.* spans, pipeline.replay, relay.until_idle, lake.maintain) is
        # the op itself and counts only where something below it does: a
        # layer span, a Spark job, or a stream trigger from the query's
        # progress (query planning, offsets, addBatch, commit)
        below = [(s["t0"], s["t1"]) for s in self.spans
                 if s["t1"] and s["parent"] is not None]
        below += [(j["t0"], j["t1"]) for j in self.jobs.values()]
        below += run.extra.get("triggers", [])
        m["trace.coverage"] = (
            sum(_covered(below, a, b) for a, b in self.windows)
            / sum(b - a for a, b in self.windows))
        return m


# metrics a workload does not exercise: prefix -> the workload that does
EXERCISED_BY = {
    "lake.merge_apply.changelog_job_s": "catchup",
    "lake.maintain": "tail",
    "transactions": "tail",
    "metrics": "tail",
    "stream": "tail",
    "views": "catchup",
    "relay": "catchup",
    "spark.speedup_vs_local1": "catchup",
}


def _why_absent(name: str, workload: str) -> str:
    for prefix, owner in sorted(EXERCISED_BY.items(), key=lambda kv: -len(kv[0])):
        if name.startswith(prefix) and owner != workload:
            return f"exercised only by {owner}"
    return "no sample in the traced ops"


# ============================================================== the run
def traced_run(args, inp, drive, work: str, hard_stop: float) -> dict:
    from canal_spark import pipeline
    from workloads import catchup_tables

    n = host.cores()
    noise = host.Noise()
    stamp = f"{args.workload}-{args.seed}-{int(time.time() * 1000)}"
    ev_dir = os.path.join(work, "eventlog", stamp)
    spark = host.start_spark(work, n, event_log=ev_dir)
    pids = [os.getpid(), host.jvm_pid(spark)]
    tracer = Tracer(spark.sparkContext)
    undo = install(tracer)
    try:
        run = Run(spark, args.seed, args.seconds, n, work, pids,
                  noise=noise, tracer=tracer, hard_stop=hard_stop)
        drive(run, inp)
    finally:
        uninstall(undo)
        spark.stop()
    jobs = parse_event_log(ev_dir)
    layers = Layers(run, tracer.spans, jobs, n)
    m = layers.compute()
    on, off = run.samples.get("write.on"), run.samples.get("write.off")
    if on and off:
        m["trace.overhead_share"] = statistics.median(on) / statistics.median(off) - 1
    else:
        m["trace.overhead_share"] = 0.0
        layers.none.add("trace.overhead_share")

    # catchup: the same replay (view maintained) once under local[1],
    # against the untraced local[4] replays of this run
    m["spark.speedup_vs_local1"] = 0.0
    replays = run.samples.get("write.off")
    if (args.workload == "catchup" and replays
            and time.perf_counter() < hard_stop):
        spark = host.start_spark(work, 1)
        try:
            main, vt, view = catchup_tables(
                spark, inp, run.scratch("catchup_local1"), n)
            t = time.perf_counter()
            pipeline.replay(spark, inp.path("log"), main, views=[view])
            m["spark.speedup_vs_local1"] = ((time.perf_counter() - t)
                                            / statistics.median(replays))
            run.check_table(main, inp.meta["cols"], inp.expected["log"],
                            "catchup local[1]")
        finally:
            spark.stop()
    else:
        layers.none.add("spark.speedup_vs_local1")

    missing = set(UNITS) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    notes = [f"{k:40s} {m[k]:16.4f} {UNITS[k]}"
             + (f"   (n/a: {_why_absent(k, args.workload)})"
                if k in layers.none else "")
             for k in UNITS]
    notes.append(f"event log: {len(jobs)} jobs; {len(tracer.spans)} spans; "
                 f"{len(layers.write_windows)} traced and "
                 f"{run.write_ops - len(layers.write_windows)} untraced "
                 f"write ops")
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    with open(os.path.join(work, "runs", f"trace-{stamp}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "windows": run.windows,
                   "jobs": {k: {**v, "tags": sorted(v["tags"])}
                            for k, v in jobs.items()}}, f, default=str)
    return {"run": run, "metrics": {k: m[k] for k in UNITS},
            "noise": noise.record(), "notes": notes}
