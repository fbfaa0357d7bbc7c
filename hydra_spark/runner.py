"""spark-submit entry point — restart loop, listener metrics, CLI.

The north rule requires the engine be runnable via
``spark-submit --py-files`` on a multi-executor cluster at two cluster
sizes. This module is that entry point:

    zip -r hydra_spark.zip hydra_spark
    spark-submit --master local[8]  --py-files hydra_spark.zip \
        hydra_spark/runner.py --audio ... --transcripts ... --out ...
    spark-submit --master local[32] --py-files hydra_spark.zip ...

(tools/submit.sh wraps the packaging; on a real cluster only --master
changes — e.g. yarn / k8s with N vs 4N executors.)

Pieces:
  * run_with_restarts — Hydra's infinite stream retry: rerun the query
    on error AND on unexpected completion, with notification (reference:
    ingestors/kafka/src/main/scala/hydra/kafka/algebras/
    RetryableFs2Stream.scala:45-85). Each restart resumes from the
    checkpoint, so restarts never lose or duplicate output (the
    exactly-once sink absorbs the replayed batch).
  * ProgressListener — per-batch StreamingQueryProgress → JSON-lines
    metrics feed (Hydra's Kamon counters/gauges/histograms analog,
    core/src/main/scala/hydra/core/monitor/HydraMetrics.scala:25-101);
    in-flight gauge = rows read − rows committed, reconciled per batch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from hydra_spark.session import SQL_DEFAULTS


class ProgressListener(StreamingQueryListener):
    """Appends one JSON line per micro-batch to <out>/_progress.jsonl.

    ``batch_timeout_ms`` is the ingestion-timeout analog (Hydra marks
    ingestors that miss the deadline IngestorTimeout and reports 408,
    IngestionSupervisor.scala:98-120; default 500 ms at
    ingest/src/main/resources/reference.conf:10-11): batches exceeding
    it are flagged ``timed_out`` in the progress feed so an operator
    alarm can key on it — the stream itself is never failed for it.
    """

    def __init__(self, path: str, batch_timeout_ms: int | None = None):
        self.path = path
        self.batch_timeout_ms = batch_timeout_ms
        self.timeouts = 0
        os.makedirs(os.path.dirname(path), exist_ok=True)

    def onQueryStarted(self, event):
        self._emit({"event": "started", "id": str(event.id), "runId": str(event.runId)})

    def onQueryProgress(self, event):
        p = event.progress
        timed_out = (
            self.batch_timeout_ms is not None and p.batchDuration > self.batch_timeout_ms
        )
        if timed_out:
            self.timeouts += 1
        ops = p.stateOperators or []
        self._emit(
            {
                "event": "progress",
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "input_rows_per_sec": p.inputRowsPerSecond,
                "processed_rows_per_sec": p.processedRowsPerSecond,
                "batch_duration_ms": p.batchDuration,
                "timed_out": timed_out,
                "watermark": p.eventTime.get("watermark") if p.eventTime else None,
                # row totals read 0 (trackTotalNumberOfRows=false); the
                # store does report its instance count and commit time
                "state_store_instances": sum(s.numStateStoreInstances for s in ops),
                "state_commit_ms": sum(s.commitTimeMs for s in ops),
            }
        )

    def onQueryTerminated(self, event):
        self._emit({"event": "terminated", "id": str(event.id), "exception": event.exception})

    def onQueryIdle(self, event):
        pass

    def _emit(self, obj: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(obj) + "\n")


def run_with_restarts(
    start_fn,
    max_restarts: int = -1,
    bounded: bool = True,
    notify=print,
):
    """Run a streaming query with Hydra's retry-forever semantics.

    start_fn() -> (query, sink, tables). ``bounded`` = replay-to-end mode
    (processAllAvailable then stop — the bench/test path); unbounded mode
    awaits termination and restarts on error or unexpected completion.
    Returns (tables, n_restarts).
    """
    restarts = 0
    while True:
        q = None
        try:
            q, sink, tables = start_fn()
            if bounded:
                q.processAllAvailable()
                q.stop()
                return tables, restarts
            q.awaitTermination()
            notify("stream completed unexpectedly; restarting")  # RetryableFs2Stream:45-85
        except KeyboardInterrupt:
            raise
        except Exception as e:  # noqa: BLE001 — restart-on-any-error is the contract
            notify(f"stream error ({type(e).__name__}: {e}); restarting from checkpoint")
            if q is not None:
                try:
                    q.stop()
                except Exception:
                    pass
        restarts += 1
        if 0 <= max_restarts < restarts:
            raise RuntimeError(f"exceeded max_restarts={max_restarts}")
        time.sleep(min(2.0 ** min(restarts, 5), 30.0))


def apply_sql_defaults(spark: SparkSession) -> None:
    """Set every ``session.SQL_DEFAULTS`` entry the session has not set,
    and shuffle partitions to the session's default parallelism (one
    join state-store partition per core, as ``get_spark`` does)."""
    defaults = {
        **SQL_DEFAULTS,
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
    }
    already = spark.conf.getAll
    for k, v in defaults.items():
        if k not in already:
            spark.conf.set(k, v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="hydra_spark streaming engine runner")
    ap.add_argument("--audio", required=True, help="audio clips stream dir")
    ap.add_argument("--transcripts", required=True, help="transcripts stream dir")
    ap.add_argument("--out", required=True, help="output root (tables + checkpoint)")
    ap.add_argument("--files-per-trigger", type=int, default=16)
    ap.add_argument("--ack", choices=["noack", "persisted", "replicated"], default="replicated")
    ap.add_argument("--bounded", action="store_true", help="replay to end, then exit")
    ap.add_argument("--max-restarts", type=int, default=-1)
    ap.add_argument("--rollup", action="store_true", help="also run the window rollup query")
    ap.add_argument(
        "--batch-timeout-ms", type=int, default=None,
        help="flag batches slower than this in the progress feed (Hydra ingest-timeout analog)",
    )
    args = ap.parse_args(argv)

    # under spark-submit the session config (master, memory) comes from
    # the submit command line; the engine's SQL defaults are set here,
    # each only if that command line left it unset.
    spark = SparkSession.builder.appName("hydra_spark_runner").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply_sql_defaults(spark)

    from hydra_spark import pipeline

    spark.streams.addListener(
        ProgressListener(
            os.path.join(args.out, "_progress.jsonl"), batch_timeout_ms=args.batch_timeout_ms
        )
    )

    queries = []

    def start_flagship():
        return pipeline.start_flagship(
            spark, args.audio, args.transcripts, args.out,
            files_per_trigger=args.files_per_trigger, ack=args.ack,
        )

    if args.rollup:
        rq, _ = pipeline.start_window_rollup(spark, args.audio, args.out, args.files_per_trigger)
        queries.append(rq)

    # dead-letter delivery: admission rejects leave the main stream
    # pre-join (a ts-invalid row would be watermark-dropped there), so
    # the stateless side stream MUST run alongside the flagship or
    # RecordTooLarge/InvalidLogicalType rows are silently lost
    qq, _ = pipeline.start_quarantine_stream(
        spark, args.audio, args.out, args.files_per_trigger
    )
    queries.append(qq)

    tables, restarts = run_with_restarts(
        start_flagship, max_restarts=args.max_restarts, bounded=args.bounded
    )
    for q in queries:
        q.processAllAvailable()
        q.stop()

    n = tables["output"].read(spark).count()
    print(json.dumps({"rows_out": int(n), "restarts": restarts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
