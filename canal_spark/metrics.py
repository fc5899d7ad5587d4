"""Per-batch metrics + lineage — the Prometheus collectors analog.

The reference exports parser/sink/store gauges (received bytes, put/get/ack
delay, traffic delay, txn counters — prometheus/.../impl/*.java). Here each
micro-batch appends one JSON line with: rows by op, merge result, end-to-end
lag (wall clock − max execute_ts), per-source-partition max LSN (lineage),
and timings. Driver-side file append — metrics are tiny; the data path never
pays for them.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Any


class MetricsLog:
    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)

    def append(self, record: dict[str, Any]) -> None:
        record = dict(record)
        record.setdefault("wall_ts", time.time())
        with open(self.path, "a") as f:
            f.write(json.dumps(record, default=str) + "\n")

    def read(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]


@dataclass(frozen=True)
class BatchStats:
    """What one epoch needs from its envelope, split at the transaction cut."""

    rows: int                     # ROWDATA rows at or before the cut
    lineage: list[dict]           # per binlog file: max lsn + rows ≤ cut
    max_ts: Any                   # max execute_ts ≤ cut (end-to-end lag)
    ddls: list[tuple[str, str]]   # sorted (lsn, sql) of DDL rows ≤ cut
    tail_rows: int                # rows past the cut (carried over)


def batch_stats(events_df, complete=None) -> BatchStats:
    """ONE aggregate action over an epoch's whole envelope (complete part
    AND carried tail) for everything the epoch needs besides the merge: the
    metrics row (ROWDATA count, per-binlog-file lineage — the reference's
    per-destination parse-position persistence,
    parse/.../AbstractEventParser.java:458-485 — and max execute_ts for the
    lag), the DDL plan that ``pipeline.apply_events`` would otherwise probe
    for, and the tail's row count that decides whether a spill is written.

    ``complete``: boolean Column marking the rows at or before the
    transaction cut (None = every row). The per-file groupBy is
    metadata-sized (files per epoch), so the globals fold out of its
    collected rows for free; DDL rows are a handful per epoch. An epoch
    with no ROWDATA at or before the cut reports no lineage."""
    from pyspark.sql import functions as F

    done = (F.lit(True) if complete is None
            else F.coalesce(complete, F.lit(False)))
    rowdata = done & (F.col("entry_type") == "ROWDATA")
    rows = (
        events_df.groupBy("binlog_file")
        .agg(F.max(F.when(done, F.col("lsn"))).alias("max_lsn"),
             F.count(F.when(done, 1)).alias("rows"),
             F.count(F.when(rowdata, 1)).alias("_rowdata"),
             F.max(F.when(done, F.col("execute_ts"))).alias("_max_ts"),
             F.count(F.when(~done, 1)).alias("_tail"),
             # collect_list drops the NULLs of non-DDL rows
             F.collect_list(F.when(rowdata & F.col("is_ddl"),
                                   F.struct("lsn", "sql"))).alias("_ddls"))
        .collect()
    )
    n_rows = sum(r["_rowdata"] for r in rows)
    return BatchStats(
        rows=n_rows,
        lineage=sorted(
            ({"binlog_file": r["binlog_file"], "max_lsn": r["max_lsn"],
              "rows": r["rows"]} for r in rows if r["rows"] and n_rows),
            key=lambda d: d["binlog_file"]),
        max_ts=max((r["_max_ts"] for r in rows if r["_max_ts"] is not None),
                   default=None),
        ddls=sorted((d["lsn"], d["sql"]) for r in rows for d in r["_ddls"]),
        tail_rows=sum(r["_tail"] for r in rows),
    )
