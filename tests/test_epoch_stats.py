"""One-pass streaming epoch: the widened ``metrics.batch_stats`` aggregate
must report exactly what the separate per-epoch probes reported (the
transaction split, the complete part's stats, the DDL collect), and a
stream whose segments end mid-transaction must keep its metrics, its final
state and its cache hygiene."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.metrics import batch_stats
from canal_spark.operators.decode import convert_log_to_wire
from canal_spark.operators.transactions import split_at_txn_boundary
from canal_spark.oracle import oracle_final_state
from canal_spark.pipeline import prepare_envelope, replay
from canal_spark.streaming.replay import StreamingReplay
from canal_spark.table.lake import LakeTable
from tests.conftest import assert_state_equal, rows_to_state

TOKSEQ_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])


def _separate_probes(complete, tail):
    """The per-epoch figures as the separate probes computed them: the
    complete part's per-file aggregate, the DDL collect over its ROWDATA,
    and a count of the tail."""
    rows = (complete.groupBy("binlog_file")
            .agg(F.max("lsn").alias("max_lsn"), F.count("*").alias("rows"),
                 F.sum(F.when(F.col("entry_type") == "ROWDATA", 1)
                       .otherwise(0)).alias("_rowdata"),
                 F.max("execute_ts").alias("_max_ts"))
            .collect())
    n_rows = int(sum(r["_rowdata"] or 0 for r in rows))
    lineage = sorted(
        ({"binlog_file": r["binlog_file"], "max_lsn": r["max_lsn"],
          "rows": r["rows"]} for r in rows),
        key=lambda d: d["binlog_file"]) if n_rows else []
    max_ts = max((r["_max_ts"] for r in rows if r["_max_ts"] is not None),
                 default=None)
    ddls = sorted(
        (r["lsn"], r["sql"])
        for r in complete.where((F.col("entry_type") == "ROWDATA")
                                & F.col("is_ddl"))
        .select("lsn", "sql").collect())
    return n_rows, lineage, max_ts, ddls, (tail.count() if tail is not None else 0)


def _one_aggregate(ev, aligned=True):
    """The streaming epoch's path: cut, then ONE aggregate over the whole
    envelope (StreamingReplay._apply_batch)."""
    if not aligned:
        return batch_stats(ev), ev, None, None
    complete, tail, cut = split_at_txn_boundary(ev)
    done = F.lit(False) if cut is None else F.col("lsn") <= cut
    return batch_stats(ev, done), complete, tail, cut


def _envelope(spark, rows):
    return spark.createDataFrame(
        [(e, f, lsn, f"2026-01-01 00:00:{i:02d}", ddl, sql)
         for i, (e, f, lsn, ddl, sql) in enumerate(rows)],
        "entry_type string, binlog_file string, lsn string,"
        " execute_ts string, is_ddl boolean, sql string",
    ).withColumn("execute_ts", F.col("execute_ts").cast("timestamp"))


def _assert_same(st, probes):
    n_rows, lineage, max_ts, ddls, tail_rows = probes
    assert st.rows == n_rows
    assert st.lineage == lineage
    assert st.max_ts == max_ts
    assert st.ddls == ddls
    assert st.tail_rows == tail_rows


F1, F2 = "mysql-bin.000001", "mysql-bin.000002"
TWO_FILES_CUT_MID_TXN = [
    ("TRANSACTIONBEGIN", F1, "L01", False, "BEGIN"),
    ("ROWDATA", F1, "L02", False, None),
    ("TRANSACTIONEND", F1, "L03", False, "COMMIT"),
    ("ROWDATA", F1, "L04", True, "ALTER TABLE train.tokseq ADD COLUMN a int"),
    ("TRANSACTIONBEGIN", F2, "L05", False, "BEGIN"),
    ("ROWDATA", F2, "L06", False, None),
    ("ROWDATA", F2, "L07", False, None),
    ("TRANSACTIONEND", F2, "L08", False, "COMMIT"),   # the cut
    ("ROWDATA", F2, "L09", True, "ALTER TABLE train.tokseq ADD COLUMN b int"),
    ("TRANSACTIONBEGIN", F2, "L10", False, "BEGIN"),
    ("ROWDATA", F2, "L11", False, None),             # txn without its END
]


def test_batch_stats_cut_mid_transaction(spark):
    ev = _envelope(spark, TWO_FILES_CUT_MID_TXN)
    st, complete, tail, cut = _one_aggregate(ev)
    assert cut == "L08"
    _assert_same(st, _separate_probes(complete, tail))
    # pinned by hand, so the check does not rest on the reference alone
    assert st.rows == 4 and st.tail_rows == 3
    assert st.ddls == [("L04", "ALTER TABLE train.tokseq ADD COLUMN a int")]
    assert st.lineage == [
        {"binlog_file": F1, "max_lsn": "L04", "rows": 4},
        {"binlog_file": F2, "max_lsn": "L08", "rows": 4},
    ]


def test_batch_stats_no_transaction_end_carries_everything(spark):
    ev = _envelope(spark, [r for r in TWO_FILES_CUT_MID_TXN
                           if r[0] != "TRANSACTIONEND"])
    st, complete, tail, cut = _one_aggregate(ev)
    assert cut is None
    _assert_same(st, _separate_probes(complete, tail))
    assert st.rows == 0 and st.lineage == [] and st.ddls == []
    assert st.max_ts is None and st.tail_rows == ev.count()


def test_batch_stats_not_txn_aligned_takes_every_row(spark):
    ev = _envelope(spark, TWO_FILES_CUT_MID_TXN)
    st, complete, _, _ = _one_aggregate(ev, aligned=False)
    _assert_same(st, _separate_probes(complete, None))
    assert st.rows == 6 and st.tail_rows == 0 and len(st.ddls) == 2


def _resplit_mid_txn(src_dir: str, dst_dir: str, n_segments: int) -> list[bool]:
    """Rewrite a wire log as ``n_segments`` files cut at row counts instead
    of at transaction ends: odd cuts land right after a TRANSACTIONEND,
    even ones inside a transaction. Returns, per segment, whether it ends
    on a transaction boundary. Increasing mtimes pin the stream's order."""
    names = sorted(f for f in os.listdir(src_dir) if f.startswith("mysql-bin."))
    t = pa.concat_tables([pq.read_table(os.path.join(src_dir, n))
                          for n in names])
    kinds = t.column("entry_type").to_pylist()
    step = len(kinds) // n_segments
    cuts = []
    for k in range(1, n_segments):
        c = k * step
        if k % 2:
            while kinds[c - 1] != "TRANSACTIONEND":
                c += 1
        else:
            while kinds[c - 1] == "TRANSACTIONEND":
                c += 1
        cuts.append(c)
    os.makedirs(dst_dir)
    bounds = [0] + cuts + [len(kinds)]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        p = os.path.join(dst_dir, f"mysql-bin.{i + 1:06d}.parquet")
        pq.write_table(t.slice(lo, hi - lo), p)
        os.utime(p, (1_700_000_000 + i * 10,) * 2)
    return [kinds[hi - 1] == "TRANSACTIONEND" for hi in bounds[1:]]


def test_stream_mid_transaction_segments_one_pass(spark, tmp_work):
    spec = CdcLogSpec(n_events=1500, seed=41, events_per_file=500, txn_max=60)
    base = generate_base_table(200, seed=spec.seed)
    typed_dir = os.path.join(tmp_work, "typed")
    generate_cdc_log(typed_dir, spec, base)
    wire_dir = os.path.join(tmp_work, "wire")
    convert_log_to_wire(spark, typed_dir, wire_dir)
    seg_dir = os.path.join(tmp_work, "segments")
    on_boundary = _resplit_mid_txn(wire_dir, seg_dir, n_segments=6)
    assert True in on_boundary[:-1] and False in on_boundary

    table = LakeTable.create(
        spark, os.path.join(tmp_work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=8,
        df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
    seen = []

    class Recording(StreamingReplay):
        """Records, per epoch, the figures the separate probes compute on
        the same micro-batch, then whether a tail spill is left behind."""

        def _apply_batch(self, batch_df, epoch_id):
            ev = self.tail_state.attach(
                prepare_envelope(batch_df, table_regex=self.table_regex))
            complete, tail, cut = split_at_txn_boundary(ev)
            n_rows, lineage, _, _, tail_rows = _separate_probes(complete, tail)
            super()._apply_batch(batch_df, epoch_id)
            seen.append({"epoch": epoch_id, "rows": n_rows, "cut_lsn": cut,
                         "lineage": lineage, "tail_rows": tail_rows,
                         "spill": os.path.exists(self.tail_state._path())})

    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    sr = Recording(spark, seg_dir, table, os.path.join(tmp_work, "ckpt"),
                   max_files_per_trigger=1)
    sr.run_to_completion()
    sr.flush_tail()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted

    expected, cols = oracle_final_state(base, typed_dir)
    actual = rows_to_state(table.read().collect(), table.logical_columns())
    assert_state_equal(actual, expected, cols)

    metrics = {m["epoch"]: m for m in sr.metrics.read()}
    assert len(seen) == len(on_boundary)
    for s in seen:
        m = metrics[s["epoch"]]
        assert m["rows"] == s["rows"]
        assert m["cut_lsn"] == s["cut_lsn"]
        assert m["lineage"] == s["lineage"]
        # a spill exists exactly when the epoch ended inside a transaction
        assert s["spill"] == bool(s["tail_rows"])
    assert [bool(s["tail_rows"]) for s in seen] == [not b for b in on_boundary]
    assert not os.path.exists(sr.tail_state._path())  # flushed


def test_batch_replay_leaves_no_persisted_rdd(spark, tmp_work):
    spec = CdcLogSpec(n_events=800, seed=43, events_per_file=400,
                      ddl_script=[(300, "ALTER TABLE train.tokseq "
                                        "ADD COLUMN lang varchar")])
    base = generate_base_table(150, seed=spec.seed)
    typed_dir = os.path.join(tmp_work, "typed")
    generate_cdc_log(typed_dir, spec, base)
    table = LakeTable.create(
        spark, os.path.join(tmp_work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=4,
        df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    replay(spark, typed_dir, table, batch_id="b1")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    expected, cols = oracle_final_state(base, typed_dir)
    actual = rows_to_state(table.read().collect(), table.logical_columns())
    assert_state_equal(actual, expected, cols)
