"""Exactly-once sink with Hydra ack-strategy modes.

Hydra's transport dispatches on AckStrategy — NoAck (fire-and-forget),
Persisted (journaled locally), Replicated (wait for broker ack)
(reference: core/src/main/scala/hydra/core/transport/AckStrategy.scala:35-45,
Transport.scala:51-83). The Spark mapping (SURVEY.md §2.4 K1):

  * noack      — blind append, no idempotence bookkeeping (fastest,
                 at-most-once under replay races)
  * persisted  — append with batch-id idempotent file naming
                 (at-least-once input -> no double-append)
  * replicated — keyed MERGE + lineage + metrics committed atomically
                 per micro-batch (exactly-once; the default, and the
                 mode all correctness gates use)

Structured Streaming replays uncommitted batches after failure
(at-least-once, the analog of Hydra's AtLeastOnceDelivery redelivery,
Transport.scala:13-49); the batch_id-keyed MERGE makes the replay a
no-op — together: exactly-once.

Determinism note (SURVEY.md §7): nothing in this path calls
current_timestamp(); processing-time fields live only in _metrics.
Hydra's System.currentTimeMillis() at KafkaRecord.scala:11 is the
replay-nondeterminism trap this avoids.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from hydra_spark.operators.state import latest_wins_hash


class ExactlyOnceSink:
    """foreachBatch callable. Writes output + quarantine + lineage +
    metrics for each micro-batch, idempotent per batch_id."""

    def __init__(
        self,
        tables: dict,
        key_cols: list[str],
        ack: str = "replicated",
        strategy: str = "merge",
        lineage_partitions: int = 32,
        commit_offsets: bool = True,
    ):
        assert ack in ("noack", "persisted", "replicated")
        assert strategy in ("merge", "append_dedup")
        self.tables = tables
        self.key_cols = key_cols
        self.ack = ack
        # merge = copy-on-write upsert (latest-wins, tombstones);
        # append_dedup = insert-only keyed append (streaming fast path,
        # commit cost stays flat as the table grows)
        self.strategy = strategy
        # ingest partitions are 0..lineage_partitions-1 (synth layout);
        # lineage aggregates ride the write job as per-partition
        # conditional observe() metrics — ids outside the range would
        # not be tracked
        self.lineage_partitions = lineage_partitions
        # L3 per-run offset-commit toggle (Hydra's consumer commit flag,
        # KafkaClientAlgebra.scala:370-376): False skips the lineage
        # (offset-checkpoint) table writes entirely — Spark's own query
        # checkpoint still provides resume, exactly like a Kafka consumer
        # running with auto-commit off and externally-managed offsets.
        self.commit_offsets = commit_offsets
        self.batches_seen: list = []

    @classmethod
    def for_existing(cls, root: str, key_cols: list[str], **kw) -> "ExactlyOnceSink":
        """Open a sink on an already-bootstrapped table set; a missing
        output table fails fast HERE, at plan/build time — the analog of
        Hydra's TopicNotFoundInMetadata publish error
        (KafkaClientAlgebra.scala:182-202): a doomed record is never
        queued, the pipeline refuses to start."""
        import os

        from hydra_spark import tables as tbl
        from hydra_spark.validation import TableNotFoundError

        out_path = os.path.join(root, "output")
        if not os.path.exists(os.path.join(out_path, "CURRENT")):
            raise TableNotFoundError(f"output table not bootstrapped at {out_path}")
        return cls(tbl.bootstrap(root, key_cols), key_cols, **kw)

    def _commit(self, spark, df: DataFrame, batch_id) -> bool:
        if self.strategy == "append_dedup":
            # preclustered: the latest_wins_hash groupBy just shuffled the
            # batch by exactly the key columns, so every bucket's rows are
            # already co-located — the table skips its pre-write
            # repartition (one shuffle per batch, not two)
            return self.tables["output"].append_dedup(spark, df, batch_id, preclustered=True)
        return self.tables["output"].merge_upsert(spark, df, batch_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        t0 = time.time()
        spark = batch_df.sparkSession
        has_reject = "reject_reason" in batch_df.columns
        # Single-action design: the table write is the ONE Spark job per
        # micro-batch. Row counts AND per-partition offset lineage ride
        # that job as observe() metrics — no persist(), no cache
        # materialization, no extra passes. (Quarantine extraction, the
        # rare path, recomputes; state-store versions make re-execution
        # of a micro-batch plan safe.)
        obs = Observation(f"sink-{batch_id}")
        batch_df = batch_df.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            (
                F.sum(F.col("reject_reason").isNotNull().cast("long")).alias("n_quar")
                if has_reject
                else F.lit(0).alias("n_quar")
            ),
        )
        good = (
            batch_df.where(F.col("reject_reason").isNull()).drop("reject_reason")
            if has_reject
            else batch_df
        )

        track_lineage = (
            self.ack == "replicated"
            and self.commit_offsets
            and "ingest_partition" in good.columns
        )
        lin_obs = None
        if track_lineage:
            lin_obs = Observation(f"lineage-{batch_id}")
            aggs = []
            for p in range(self.lineage_partitions):
                off = F.when(F.col("ingest_partition") == p, F.col("ingest_offset"))
                aggs += [
                    F.min(off).alias(f"lo{p}"),
                    F.max(off).alias(f"hi{p}"),
                    F.count(off).alias(f"n{p}"),
                ]
            good = good.observe(lin_obs, *aggs)

        # within-batch latest-wins on the sink key (caller may have
        # already deduped; this makes MERGE input key-unique).
        # hash-agg (max_by), not window sort — see latest_wins_hash
        order_cols = ["event_time"] + (
            ["transcript_time"] if "transcript_time" in good.columns else []
        )
        deduped = latest_wins_hash(good, self.key_cols, order_cols)
        if self.strategy == "merge":
            # merge_upsert runs two actions (bucket discovery + write);
            # cache the deduped input so upstream runs once
            deduped = deduped.persist()

        try:
            committed = True
            if self.ack == "noack":
                # fire-and-forget append (RecordAccepted immediately)
                self._commit(spark, deduped, f"noack-{batch_id}-{time.time_ns()}")
            else:  # persisted / replicated
                committed = self._commit(spark, deduped, batch_id)

            if not committed:
                # replayed batch: the table commit is a no-op, but the
                # micro-batch's state stores (join state, watermarks)
                # still must process and commit every partition — drain
                # the batch through a noop write or Spark's state-store
                # commit validation fails the query on resume
                batch_df.write.format("noop").mode("overwrite").save()

            got = obs.get if committed else {"n_in": 0, "n_quar": 0}
            n_in, n_quar = int(got["n_in"] or 0), int(got["n_quar"] or 0)
            if n_quar and committed:
                # executor-side write: a bad codec can quarantine a whole
                # batch, which must never be collected to the driver.
                # Recomputing the rare path is safe (state-store versions
                # make micro-batch re-execution deterministic).
                quar = batch_df.where(F.col("reject_reason").isNotNull())
                qcols = [c for c in quar.columns if c not in ("bytes", "pcm")]
                self.tables["quarantine"].append_df(quar.select(*qcols), batch_id)
            if track_lineage and committed:
                lrows = self._lineage_rows(lin_obs.get, batch_id)
                if len(lrows):
                    self.tables["lineage"].append_pandas(lrows, batch_id)

            if committed:
                mrow = pd.DataFrame(
                    [
                        {
                            "batch_id": int(batch_id),
                            "rows_in": int(n_in),
                            "rows_quarantined": int(n_quar),
                            "ack": self.ack,
                            "commit_wall_s": time.time() - t0,
                            "committed_at_unix": time.time(),  # _metrics only
                        }
                    ]
                )
                self.tables["metrics"].append_pandas(mrow, batch_id)
            self.batches_seen.append(batch_id)
        finally:
            if self.strategy == "merge":
                deduped.unpersist()

    def _lineage_rows(self, got: dict, batch_id) -> pd.DataFrame:
        """observe() metrics -> (partition, start, end, rows) lineage rows
        (Hydra's per-partition offset checkpoint records,
        ConsumerGroupsOffsetConsumer.processRecord :103-145)."""
        rows = []
        for p in range(self.lineage_partitions):
            n = int(got.get(f"n{p}") or 0)
            if n:
                rows.append(
                    {
                        "ingest_partition": p,
                        "start_offset": int(got[f"lo{p}"]),
                        "end_offset": int(got[f"hi{p}"]),
                        "rows": n,
                        "batch_id": batch_id,
                    }
                )
        return pd.DataFrame(rows)
