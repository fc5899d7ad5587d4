"""Transaction-boundary batching.

The reference never lets a consumer batch split a transaction: the
EventTransactionBuffer flushes only on BEGIN…END boundaries
(parse/.../inbound/EventTransactionBuffer.java:72-142) and a batch's ack
position must land on a transaction end (store doGet,
store/.../MemoryEventStoreWithBuffer.java:358-377).

Spark analog: a micro-batch (or any replay range) is cut at the LSN of the
**last complete TRANSACTIONEND**; the incomplete tail is carried into the
next batch through a small parquet spill (driver-managed state; a
transaction-complete batch clears it instead of spilling an empty tail).
Marker rows (TRANSACTIONBEGIN/END) are envelope-only and never shuffled
downstream.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def last_complete_txn_lsn(events: DataFrame) -> str | None:
    """LSN of the last TRANSACTIONEND in the batch (ack-point analog)."""
    row = (
        events.where(F.col("entry_type") == "TRANSACTIONEND")
        .agg(F.max("lsn").alias("m"))
        .collect()[0]
    )
    return row["m"]


def split_at_txn_boundary(events: DataFrame) -> tuple[DataFrame, DataFrame, str | None]:
    """(complete, tail, cut_lsn): events ≤ cut pass; the rest carries over."""
    cut = last_complete_txn_lsn(events)
    if cut is None:
        return events.limit(0), events, None
    return events.where(F.col("lsn") <= cut), events.where(F.col("lsn") > cut), cut


class TxnTailState:
    """Parquet spill of the incomplete transaction tail between batches."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = os.path.abspath(state_dir)
        os.makedirs(self.dir, exist_ok=True)

    def _path(self) -> str:
        return os.path.join(self.dir, "txn_tail.parquet")

    def load(self) -> DataFrame | None:
        p = self._path()
        if os.path.exists(p):
            return self.spark.read.parquet(p)
        return None

    def save(self, tail: DataFrame) -> int:
        """Spill ``tail`` and return its row count, summed from the written
        files' parquet footers on the driver (no Spark job re-reads it)."""
        p, tmp = self._path(), self._path() + ".tmp"
        tail.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.exists(p):
            shutil.rmtree(p)
        os.replace(tmp, p)
        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in glob.glob(os.path.join(p, "*.parquet")))

    def clear(self) -> None:
        p = self._path()
        if os.path.exists(p):
            shutil.rmtree(p)

    def attach(self, batch: DataFrame) -> DataFrame:
        """Prepend the carried tail (if any) to the new batch."""
        tail = self.load()
        if tail is None:
            return batch
        return tail.unionByName(batch, allowMissingColumns=True)
