"""The benchmark workloads and the measurement state they share.

Every workload is a closed loop in one driver thread: the next operation
starts only when the previous one has returned. Before timing starts each
workload runs the same operations untimed (warm-up), because the first
Spark jobs of a fresh JVM run several times slower than steady state.

Sizes are fixed per workload; the seed only changes the generated content.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_spark import pipeline
from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.oracle import BASE_COLS, apply_events_py
from canal_spark.streaming import relay
from canal_spark.streaming.replay import StreamingReplay
from canal_spark.table.lake import LakeTable
from canal_spark.views import MultiJoinedView

import inputs as I
from host import cpu_s

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])
VIEW_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
    T.StructField("src_kind", T.StringType()),
    T.StructField("src_weight", T.DoubleType()),
    T.StructField("ntok_band", T.StringType()),
])


# lookups after each write (both workloads): the first one after a commit
# costs about 1.5x the later ones, so with three the median lookup is one
# that follows another and does not flip between the two levels
LOOKUPS = 3


class Run:
    """Timings, counters and verdicts of one run of one workload."""

    def __init__(self, spark, seed: int, seconds: float,
                 n_cores: int, work: str, pids: list[int], noise,
                 hard_stop: float, tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.n_cores = n_cores
        self.work = work
        self.pids = pids
        self.noise = noise
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.events = 0
        self.write_ops = 0
        self.changes = 0
        self.write_wall = 0.0
        self.write_cpu = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.windows: list[dict] = []
        self.extra: dict = {}
        self.timing = False
        # perf_counter times at which warm-up ended and timing started
        self.ready_at = 0.0
        self.t_start = 0.0
        # perf_counter time after which no new timed op starts once one has
        # run, whatever the workload's minimum (keeps a run on a heavily
        # loaded host within its time limit)
        self.hard_stop = hard_stop

    # -------------------------------------------------------------- clock
    def start_timing(self) -> None:
        """End of warm-up: the noise record's canary runs here."""
        if not self.timing:
            self.ready_at = time.perf_counter()
            self.noise.canary(self.spark, self.n_cores)
            self.timing = True
            self.t_start = time.perf_counter()

    def expired(self) -> bool:
        return self.timing and time.perf_counter() - self.t_start >= self.seconds

    def done(self, kind: str, min_ops: int) -> bool:
        """Stop the closed loop: the window is over and the workload has
        ``min_ops`` timed ops of ``kind`` (or one, past the hard stop)."""
        n = len(self.samples.get(kind, []))
        return self.expired() and (n >= min_ops
                                   or (n and time.perf_counter() > self.hard_stop))

    def scratch(self, name: str) -> str:
        d = os.path.join(self.work, "tables", name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d

    def span(self, name: str):
        return self.tracer.span(name) if self.traced() else nullcontext()

    # ----------------------------------------------------------- recording
    @contextmanager
    def op(self, kind: str, events: int = 0, changes: int = 0,
           layer: str | None = None, traced: bool | None = None):
        """One operation. Timed ops record their wall time and CPU under
        ``kind``; ops that apply change events ("write ops") also count
        toward throughput; ``changes`` is the number of change rows those
        events feed into the collapse. Every op, timed or not, must leave
        no persisted RDD behind. In a traced run, tracing is switched on for
        every other timed write op and the reads that follow it, or as
        ``traced`` says."""
        if self.tracer and traced is not None:
            self.tracer.enabled = traced
        elif events and self.tracer and self.timing:
            self.tracer.enabled = self.write_ops % 2 == 0
        cpu0 = cpu_s(self.pids)
        w0 = time.time()
        t0 = time.perf_counter()
        with self.span(layer) if layer else nullcontext():
            yield
        dt = time.perf_counter() - t0
        cpu = cpu_s(self.pids) - cpu0
        leaked = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        if leaked:
            self.problem(f"{kind}: {leaked} persisted RDD(s) left after the op")
        if self.timing:
            self.sample(kind, [dt])
            self.sample(kind + "_cpu", [cpu])
            self.windows.append({"t0": w0, "t1": w0 + dt, "kind": kind,
                                 "write": bool(events),
                                 "traced": self.traced()})
            self.attempted += 1
            if events:
                self.write_ops += 1
                self.events += events
                self.changes += changes
                self.write_wall += dt
                self.write_cpu += cpu

    def traced(self) -> bool:
        return bool(self.tracer and self.tracer.enabled)

    def sample(self, kind: str, values: list[float]) -> None:
        self.samples.setdefault(kind, []).extend(values)
        if self.tracer:
            self.samples.setdefault(
                f"{kind}.{'on' if self.traced() else 'off'}", []).extend(values)

    def problem(self, what: str) -> None:
        self.problems.append(what)

    def verify(self, ok: bool, what: str) -> None:
        """Verdict on the output of the last op; a wrong timed output
        fails that op."""
        if not ok:
            self.problem(what)
            if self.timing:
                self.failed += 1

    def check_table(self, tbl: LakeTable, cols: list[str], expected: dict,
                    what: str) -> None:
        got = I.arrow_rows(tbl.refresh().read().select(*cols).toArrow(), cols)
        bad = I.mismatches(got, expected)
        self.verify(bad == 0, f"{what}: {bad} row(s) differ from the oracle")

    def read_probe(self, tbl: LakeTable, expected: dict, cols: list[str],
                   salt: int, pool: list[str], n_scans: int) -> None:
        """LOOKUPS point lookups of 50 seeded keys, then ``n_scans``
        full-scan aggregates; all verified against the expected state."""
        nt = cols.index("n_tok")
        for j in range(LOOKUPS):
            keys = I.lookup_keys(self.seed, salt * 100 + j, pool)
            with self.op("lookup", layer="op.lookup"):
                got = tbl.lookup(keys).select(*cols).toArrow()
            want = {k: expected[k] for k in keys if k in expected}
            self.verify(I.mismatches(I.arrow_rows(got, cols), want) == 0,
                        f"lookup {salt}/{j}: rows differ from the oracle")
        want = (len(expected), sum(row[nt] or 0 for row in expected.values()))
        for j in range(n_scans):
            if self.traced() and self.timing:
                self.extra.setdefault("delta_files", []).append(
                    tbl.describe()["delta_files"])
            with self.op("scan", layer="op.scan"):
                r = tbl.read().agg(F.count(F.lit(1)).alias("n"),
                                   F.sum("n_tok").alias("s")).collect()[0]
            self.verify((r["n"], r["s"] or 0) == want,
                        f"scan {salt}/{j}: {(r['n'], r['s'])} != {want}")

    def median(self, kind: str) -> float | None:
        xs = self.samples.get(kind)
        return statistics.median(xs) if xs else None


def _base(spark, inp) -> "DataFrame":
    return spark.read.schema(SCHEMA).parquet(inp.path("base.parquet"))


# ================================================================ catchup
# Batch backfill with the downstream fan-out switched on: one replay() of a
# typed log into a fresh changelog=True copy-on-write table that maintains
# a two-dim MultiJoinedView in the same pass; after the timed backfills,
# relay_until_idle drains the last one's change feed into a fresh mirror
# table (one relay op per run). The log has hot-key skew,
# foreign-table rows, primary-key changes and one ADD COLUMN; scan,
# collapse, join and bucketed write scale with it, the view and relay add
# their own jobs.

CATCHUP = dict(base=5_000, events=20_000, scans=3)
# untimed warm-up operations before timing starts (both workloads), and the
# fewest timed operations a run ends with
WARM_OPS = 1
CATCHUP_MIN_OPS = 2
TAIL_MIN_ROUNDS = 3


def build_catchup(root: str, seed: int):
    base = generate_base_table(CATCHUP["base"], seed=seed)
    pq.write_table(base, os.path.join(root, "base.parquet"))
    n = CATCHUP["events"]
    # the ADD COLUMN opens the log: replay still splits at it (two ranges,
    # the first empty) and every row lands in the widened schema, but the
    # view and merge jobs run over one data range — a mid-log DDL doubles
    # the per-range fixed cost, which dominates at this size
    spec = CdcLogSpec(
        n_events=n, seed=seed, hot_frac=0.3, hot_keys=16,
        other_table_frac=0.02, pk_change_frac=0.02, events_per_file=n // 4,
        ddl_script=[(0, I.DDL_ADD)])
    log = os.path.join(root, "log")
    generate_cdc_log(log, spec, base)
    events = I.read_events(log)
    state, cols = apply_events_py(I.base_rows(base), events, columns=BASE_COLS)
    return ({"events": n, "changes": I.dml_changes(events), "cols": cols,
             "pool": sorted(set(base.column("doc_id").to_pylist()) | set(state))},
            {"log": I.state_rows(state, cols), "view": I.view_rows(state)})


def catchup_tables(spark, inp, d: str, n_buckets: int):
    """Fresh main table (changelog on) and its MultiJoinedView, seeded from
    the base table."""
    dim1 = spark.createDataFrame(I.DIM_SOURCE, "source string, src_kind string,"
                                 " src_weight double")
    dim2 = spark.createDataFrame(I.DIM_BAND, "n_tok int, ntok_band string")
    base = _base(spark, inp)
    main = LakeTable.create(spark, os.path.join(d, "main"), SCHEMA,
                            n_buckets=n_buckets, df=base, changelog=True)
    seeded = (base.select("doc_id", "n_tok", "source")
              .join(F.broadcast(dim1), "source", "left")
              .join(F.broadcast(dim2), "n_tok", "left"))
    vt = LakeTable.create(spark, os.path.join(d, "view"), VIEW_SCHEMA,
                          n_buckets=n_buckets, df=seeded.select(*I.VIEW_COLS))
    return main, vt, MultiJoinedView(vt, [(dim1, "source"), (dim2, "n_tok")])


def run_catchup(run: Run, inp) -> None:
    spark, cols = run.spark, inp.meta["cols"]
    i = 0
    while not run.done("write", CATCHUP_MIN_OPS):
        warming = i < WARM_OPS
        if not warming:
            run.start_timing()
        d = run.scratch(f"catchup{i % 2}")
        main, vt, view = catchup_tables(spark, inp, d, run.n_cores)
        with run.op("write", events=0 if warming else inp.meta["events"],
                    changes=inp.meta["changes"]):
            pipeline.replay(spark, inp.path("log"), main, views=[view])
        expected = inp.expected["log"]
        run.check_table(main, cols, expected, f"catchup main {i}")
        run.check_table(vt, I.VIEW_COLS, inp.expected["view"],
                        f"catchup view {i}")
        run.read_probe(main, expected, cols, i, inp.meta["pool"],
                       n_scans=CATCHUP["scans"])
        i += 1
    # the last backfill's change feed drains into a fresh mirror
    mirror = LakeTable.create(spark, os.path.join(d, "mirror"), SCHEMA,
                              n_buckets=run.n_cores, df=_base(spark, inp))
    with run.op("relay", traced=True):
        relay.relay_until_idle(main, mirror)
    run.check_table(mirror, cols, expected, "catchup mirror")


# =================================================================== tail
# The live tail with readers beside it: wire segments arrive one at a time
# and a StreamingReplay (transaction-aligned, one segment per epoch,
# availableNow) applies each into a merge_mode="auto" table. The segments
# are update-heavy over spread keys, so commits take the merge-on-read
# delta path; after each epoch, point lookups and a full-scan aggregate
# read through the deltas, and maintain() folds them every few rounds.
# Per-epoch fixed cost dominates the writes.

TAIL = dict(base=20_000, rounds=8, seg_events=1_000, scans=1,
            maintain_every=3, max_records_per_file=2_500)


def build_tail(root: str, seed: int):
    base = generate_base_table(TAIL["base"], seed=seed)
    spec = CdcLogSpec(n_events=TAIL["rounds"] * TAIL["seg_events"],
                      seed=seed, op_mix=(0.1, 0.8, 0.1),
                      events_per_file=TAIL["seg_events"])
    pq.write_table(base, os.path.join(root, "base.parquet"))
    log = os.path.join(root, "log")
    generate_cdc_log(log, spec, base)
    names = I.write_wire(log, os.path.join(root, "wire"))
    return ({"segments": names, "cols": list(BASE_COLS),
             "seg_events": I.segment_events(log, names),
             "seg_changes": [I.dml_changes(I.read_events(log, [n]))
                             for n in names],
             "pool": base.column("doc_id").to_pylist()},
            {"base": I.base_rows(base)})


def run_tail(run: Run, inp) -> None:
    spark, cols, segs = run.spark, inp.meta["cols"], inp.meta["segments"]
    d = run.scratch("tail")
    src = os.path.join(d, "src")
    os.makedirs(src)
    tbl = LakeTable.create(
        spark, os.path.join(d, "t"), SCHEMA, n_buckets=run.n_cores,
        df=_base(spark, inp), merge_mode="auto",
        max_records_per_file=TAIL["max_records_per_file"])
    sr = StreamingReplay(spark, src, tbl, os.path.join(d, "ckpt"),
                         max_files_per_trigger=1, txn_aligned=True)
    state = dict(inp.expected["base"])
    for r, seg in enumerate(segs):
        if r == WARM_OPS:
            run.start_timing()
        if run.done("round", TAIL_MIN_ROUNDS):
            break
        # a segment "arrives": atomic rename into the tailed directory
        shutil.copy(inp.path("wire", seg), os.path.join(src, "_" + seg))
        os.replace(os.path.join(src, "_" + seg), os.path.join(src, seg))
        with run.op("round", events=inp.meta["seg_events"][r],
                    changes=inp.meta["seg_changes"][r], layer="op.round"):
            q = sr.start(available_now=True)
            q.awaitTermination(150)
        if q.isActive:
            q.stop()
            run.problem(f"tail round {r}: stream did not finish")
        epochs = [p["durationMs"] for p in q.recentProgress
                  if p["numInputRows"] > 0]
        run.verify(len(epochs) == 1,
                   f"tail round {r}: {len(epochs)} data epochs")
        if run.timing:
            # the write sample is the epoch (trigger) latency
            run.sample("write", [e["triggerExecution"] / 1000 for e in epochs])
            if run.traced():
                run.extra.setdefault("progress", []).extend(
                    {"trigger_s": e["triggerExecution"] / 1000,
                     "add_batch_s": e["addBatch"] / 1000} for e in epochs)
                run.extra.setdefault("triggers", []).extend(
                    _trigger_interval(p) for p in q.recentProgress)
        state, _ = apply_events_py(
            state, I.read_events(inp.path("log"), [seg]), columns=cols)
        expected = I.state_rows(state, cols)
        run.read_probe(tbl, expected, cols, r, inp.meta["pool"],
                       n_scans=TAIL["scans"])
        if (r + 1) % TAIL["maintain_every"] == 0:
            with run.op("maintain", traced=True):
                tbl.maintain(max_files_per_bucket=4)
    sr.flush_tail()
    run.check_table(tbl, cols, expected, "tail final")


def _trigger_interval(progress: dict) -> tuple[float, float]:
    """A stream trigger's wall interval (epoch seconds) from its progress."""
    t0 = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    t0 = t0.replace(tzinfo=timezone.utc).timestamp()
    return t0, t0 + progress["durationMs"]["triggerExecution"] / 1000


WORKLOADS = {
    "catchup": (CATCHUP, build_catchup, run_catchup),
    "tail": (TAIL, build_tail, run_tail),
}
