"""N-source streaming merge (GroupEventParser + TimelineTransactionBarrier
analog): sharded logs replay as ONE txn-consistent stream, verified against
the merged-timeline sequential oracle."""

import os

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.operators.decode import convert_log_to_wire
from canal_spark.oracle import oracle_group_final_state
from canal_spark.streaming.group import GroupStreamingReplay
from canal_spark.table.lake import LakeTable
from tests.conftest import assert_state_equal, rows_to_state

TOKSEQ_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])


def _setup_shards(spark, tmp_work, events_per_shard, seed, ddl=None,
                  n_base=120):
    """Disjoint-key shard fixtures (one binlog dir per shard) + one sink
    seeded with the union of the shard bases."""
    bases, typed_dirs, wire_dirs = [], [], []
    for i, n_events in enumerate(events_per_shard):
        base = generate_base_table(n_base, seed=seed + i,
                                   id_offset=i * 1_000_000)
        spec = CdcLogSpec(
            n_events=n_events, seed=seed + i, events_per_file=300,
            pk_change_frac=0.03, other_table_frac=0.03,
            doc_offset=10_000_000 * (i + 1),
            ddl_script=list(ddl or []),
        )
        typed = os.path.join(tmp_work, f"shard{i}", "typed")
        generate_cdc_log(typed, spec, base)
        wire = os.path.join(tmp_work, f"shard{i}", "wire")
        convert_log_to_wire(spark, typed, wire)
        bases.append(base)
        typed_dirs.append(typed)
        wire_dirs.append(wire)
    combined = pa.concat_tables(bases)
    table = LakeTable.create(
        spark, os.path.join(tmp_work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=8,
        df=spark.createDataFrame(combined.to_pandas(), TOKSEQ_SCHEMA))
    return bases, typed_dirs, wire_dirs, table


def _check(table, bases, typed_dirs):
    expected, cols = oracle_group_final_state(bases, typed_dirs)
    actual = rows_to_state(table.read().collect(), table.logical_columns())
    assert table.logical_columns() == cols
    assert_state_equal(actual, expected, cols)


def test_group_streaming_merges_shards(spark, tmp_work):
    """Two uneven shards (the fast one must be held back by the barrier)
    end in the exact merged-timeline oracle state."""
    bases, typed, wires, table = _setup_shards(
        spark, tmp_work, events_per_shard=[1500, 500], seed=51)
    gr = GroupStreamingReplay(spark, wires, table,
                              os.path.join(tmp_work, "ckpt"),
                              max_files_per_trigger=1)
    gr.run_to_completion()
    gr.flush_tail()
    _check(table.refresh(), bases, typed)
    lines = gr.metrics.read()
    assert len(lines) >= 2
    assert all(m["sources"] == 2 for m in lines)
    # the stream applied incrementally, not only at the final flush
    assert sum(m["events_applied"] for m in lines) > 0


def test_group_streaming_with_sharded_ddl(spark, tmp_work):
    """A sharded upstream emits the SAME DDL on every shard; clones release
    in timeline order and must be shape-idempotent — schema evolves once,
    state matches the oracle."""
    ddl = [(400, "ALTER TABLE train.tokseq ADD COLUMN quality_tier TEXT")]
    bases, typed, wires, table = _setup_shards(
        spark, tmp_work, events_per_shard=[900, 900], seed=52, ddl=ddl)
    gr = GroupStreamingReplay(spark, wires, table,
                              os.path.join(tmp_work, "ckpt"),
                              max_files_per_trigger=2)
    gr.run_to_completion()
    gr.flush_tail()
    table.refresh()
    assert table.logical_columns() == ["doc_id", "tokens", "n_tok", "source",
                                       "quality_tier"]
    _check(table, bases, typed)


def test_group_streaming_kill_and_resume(spark, tmp_work):
    """Kill the group stream mid-flight, resume from the same checkpoint:
    per-source offsets resume and nothing double-applies."""
    bases, typed, wires, table = _setup_shards(
        spark, tmp_work, events_per_shard=[800, 800], seed=53)
    ckpt = os.path.join(tmp_work, "ckpt")

    gr1 = GroupStreamingReplay(spark, wires, table, ckpt,
                               max_files_per_trigger=1)
    q = gr1.start(available_now=True)
    while not gr1.metrics.read():
        q.awaitTermination(0.2)
    q.stop()

    gr2 = GroupStreamingReplay(spark, wires, table.refresh(), ckpt,
                               max_files_per_trigger=1)
    gr2.run_to_completion()
    gr2.flush_tail()
    _check(table.refresh(), bases, typed)


def test_barrier_holds_for_required_missing_source(spark):
    """Liveness condition (ADVICE r02): a required source absent from the
    batch holds the whole fence; dropping the requirement releases."""
    from canal_spark.streaming.group import barrier_cut

    rows = [
        ("TRANSACTIONBEGIN", 0, "2026-01-01 00:00:00.000001", "a1"),
        ("ROWDATA",          0, "2026-01-01 00:00:00.000002", "a2"),
        ("TRANSACTIONEND",   0, "2026-01-01 00:00:00.000003", "a3"),
    ]
    ev = spark.createDataFrame(
        [(e, s, t, l) for e, s, t, l in rows],
        "entry_type string, src_id int, execute_ts string, lsn string",
    ).withColumn("execute_ts", F.col("execute_ts").cast("timestamp"))

    # src 1 is required but silent → hold everything
    keep, fence, present = barrier_cut(ev, require_srcs={0, 1})
    assert fence is None
    assert ev.where(keep).count() == 0 and ev.where(~keep).count() == 3
    assert present == {0}

    # not required (drained / past its bounded hold) → normal min-cut
    keep, fence, present = barrier_cut(ev, require_srcs={0})
    assert fence is not None
    assert ev.where(keep).count() == 3 and ev.where(~keep).count() == 0


def test_group_streaming_liveness_hold_then_idle(spark, tmp_work):
    """With hold_missing_sources=K, a silent-but-nonempty source holds the
    fence for K epochs, after which the stream proceeds; the final state
    still equals the merged-timeline oracle (drained-replay semantics)."""
    bases, typed_dirs, wire_dirs, table = _setup_shards(
        spark, tmp_work, events_per_shard=[900, 900], seed=71)
    ck = os.path.join(tmp_work, "ck")
    gs = GroupStreamingReplay(
        spark, wire_dirs, table, checkpoint_dir=ck,
        max_files_per_trigger=1, hold_missing_sources=2)
    gs.run_to_completion()
    gs.flush_tail()
    _check(table.refresh(), bases, typed_dirs)


def test_group_streaming_with_attached_view(spark, tmp_work):
    """Views ride the N-shard stream too: a fingerprint TransformView
    attached to GroupStreamingReplay (incl. a kill/resume) must equal the
    recompute-from-scratch index over the merged-timeline oracle state —
    the group path threads views through apply_events + flush_tail, which
    no seeded test exercised before."""
    import hashlib
    import json
    import time

    from canal_spark.views import fingerprint_index_view
    from tests.test_views import INDEX_COLS, INDEX_SCHEMA

    bases, typed, wires, table = _setup_shards(
        spark, tmp_work, events_per_shard=[900, 400], seed=57)
    bdf = table.read()
    vt = LakeTable.create(
        spark, os.path.join(tmp_work, "fp_idx"), INDEX_SCHEMA, n_buckets=4,
        df=bdf.select("doc_id", F.md5(F.to_json("tokens")).alias("fp_md5"),
                      "n_tok", "source"))
    view = fingerprint_index_view(vt)
    ckpt = os.path.join(tmp_work, "ckpt")

    # phase 1: kill after the first committed epoch
    gr1 = GroupStreamingReplay(spark, wires, table, ckpt,
                               max_files_per_trigger=1, views=[view])
    q = gr1.start(available_now=True)
    deadline = time.time() + 300
    while q.isActive and len(gr1.metrics.read()) < 1 and time.time() < deadline:
        q.awaitTermination(0.2)
    q.stop()
    # phase 2: resume
    gr2 = GroupStreamingReplay(spark, wires, table.refresh(), ckpt,
                               max_files_per_trigger=1, views=[view])
    gr2.run_to_completion()
    gr2.flush_tail()

    _check(table.refresh(), bases, typed)
    expected, _cols = oracle_group_final_state(bases, typed)
    exp_index = {}
    for doc_id, row in expected.items():
        toks = row.get("tokens")
        fp = (None if toks is None else hashlib.md5(
            json.dumps(list(toks), separators=(",", ":")).encode()).hexdigest())
        exp_index[doc_id] = {"doc_id": doc_id, "fp_md5": fp,
                             "n_tok": row.get("n_tok"),
                             "source": row.get("source")}
    got = {r["doc_id"]: r.asDict()
           for r in view.table.refresh().read().collect()}
    assert_state_equal(got, exp_index, INDEX_COLS)
