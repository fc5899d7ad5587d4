"""Live whole-database mirror: the Structured Streaming tail fanning each
micro-batch into one LakeTable per source table.

The reference's mirror mode is a LIVE adapter — RdbMirrorDbSyncService
routes each batch's DML by database/table and materializes MirrorDbConfig
targets as tables appear (client-adapter/rdb/.../RdbMirrorDbSyncService
.java:50-140), inside the same worker loop that applies single-table sync.
Here the analog subclasses StreamingReplay (same source, checkpoint,
txn-boundary batching, metrics and maintenance loop) and swaps the apply
hook for mirror_apply:

- one shared scan + envelope filter per micro-batch; each sink's jobs then
  prune to its own (schema_name, table_name) row groups — two pushed
  column equalities, so table count multiplies small pruned scans, not
  full passes;
- sinks are created on first sight; the stream reads the WIRE shape, whose
  JSON images carry no types, so creation needs ``schema_factory`` (the
  reference likewise needs target DDL or MirrorDbConfig metadata — it
  never invents column types from row payloads);
- exactly-once stays per-sink: every LakeTable keeps its own batch ledger
  and LSN fence, so one sink crashing mid-fan-out and the epoch replaying
  is a no-op for the sinks that already committed;
- the carried transaction tail is shared (it is raw envelope rows, split
  before any per-sink routing).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from canal_spark.mirror import LakeDatabase, mirror_apply
from canal_spark.pipeline import ReplayStats
from canal_spark.streaming.replay import StreamingReplay


class MirrorStreamingReplay(StreamingReplay):
    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        db: LakeDatabase,
        checkpoint_dir: str,
        table_regex: str = r"^train\.[\w$]+$",
        schema_factory: Callable[[str], T.StructType] | None = None,
        key_col: str = "doc_id",
        n_buckets: int = 16,
        merge_mode: str = "cow",
        max_concurrency: int = 4,
        **kw,
    ):
        # table=None: every sink access goes through the hooks below
        super().__init__(spark, log_dir, table=None,
                         checkpoint_dir=checkpoint_dir,
                         table_regex=table_regex, **kw)
        if self.views:
            raise ValueError("views are per-table; attach them to a "
                             "single-table StreamingReplay")
        self.db = db
        self.schema_factory = schema_factory
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.merge_mode = merge_mode
        self.max_concurrency = max_concurrency

    # --------------------------------------------------------- hooks
    def _apply(self, complete: DataFrame, epoch_id: int | None,
               ddls: list[tuple[str, str]] | None = None) -> ReplayStats:
        # ``ddls`` (the epoch's DDL rows over EVERY routed table) is not
        # handed on: mirror_apply routes by table, and each sink's
        # apply_events probes its own range
        per_sink = mirror_apply(
            complete, self.db,
            batch_id=None if epoch_id is None else f"epoch-{epoch_id}",
            key_col=self.key_col, n_buckets=self.n_buckets,
            schema_factory=self.schema_factory, wire=True,
            salt_partitions=self.salt_partitions,
            merge_mode=self.merge_mode,
            max_concurrency=self.max_concurrency,
            dlq=self.dlq_dir)
        agg = ReplayStats()
        for s in per_sink.values():
            agg.ranges += s.ranges
            agg.ddls += s.ddls
            agg.events += s.events
            agg.merges.extend(s.merges)
        return agg

    def _sink_version(self) -> dict:
        return {n: t.version for n, t in self.db.tables().items()}

    def _maintain_targets(self) -> list:
        return list(self.db.tables().items())
