"""Standalone flagship runner (used by the kill-and-resume test).

Runs the full streaming pipeline to completion (processAllAvailable) and
exits. Restart-from-checkpoint is exercised by SIGKILLing this process
mid-stream and re-running it with the same --out (Hydra's
infinite-stream-retry / resume semantics, RetryableFs2Stream.scala:45-85
+ ConsumerGroupsOffsetConsumer seek recovery — in Spark, checkpoint
recovery is native; the runner loop is this script being re-invoked).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--audio", required=True)
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--files-per-trigger", type=int, default=4)
    ap.add_argument("--ack", default="replicated")
    args = ap.parse_args()

    from hydra_spark.session import get_spark
    from hydra_spark import pipeline

    spark = get_spark(cores=args.cores, shuffle_partitions=args.cores, app_name="flagship", driver_memory="12g")
    q, sink, t = pipeline.start_flagship(
        spark, args.audio, args.transcripts, args.out,
        files_per_trigger=args.files_per_trigger, ack=args.ack,
    )
    q.processAllAvailable()
    q.stop()
    print(f"DONE batches={len(sink.batches_seen)}", flush=True)


if __name__ == "__main__":
    main()
