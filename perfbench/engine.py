"""One engine pass: the deployed query set over one staged input.

Run as ``python -m perfbench.engine <spec.json>`` by perfbench/run.py.
The pass starts a Spark session through ``session.get_spark`` (defaults
except ``cores``), registers the benchmark's listener and then calls
``runner.main --bounded``, which starts ``pipeline.start_quarantine_stream``,
``pipeline.start_flagship`` and ``runner.ProgressListener`` exactly as a
deployment does, drains the backlog and stops. Everything after that is
outside the timed region: the pass dumps the output, quarantine and
``_metrics`` tables for the output check and, when tracing, runs the
isolated decode passes. It writes one JSON result file and exits.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time


def _listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    from perfbench import procfs

    class Recorder(StreamingQueryListener):
        """Copy of every query event, stamped with the wall clock, the
        session's CPU seconds, the JVM's JIT compiler CPU seconds and the
        host's steal ticks."""

        def __init__(self, jit):
            self.jit = jit
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def _add(self, ev: dict) -> None:
            ev["wall"] = time.time()
            ev["cpu"] = procfs.session_cpu_s(os.getsid(0))
            ev["jit"] = self.jit.total_s()
            ev["ticks"] = procfs.host_ticks()
            with self._lock:
                self.events.append(ev)

        def onQueryStarted(self, event):
            self._add({"event": "started", "id": str(event.id)})

        def onQueryProgress(self, event):
            self._add({"event": "progress", "progress": json.loads(event.progress.json)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self._add({"event": "terminated", "id": str(event.id), "exception": event.exception})

    return Recorder


def _dump_tables(spark, out_root: str, dump_dir: str) -> dict:
    """Write the output / quarantine / _metrics rows the check reads."""
    from hydra_spark import tables as tbl

    t = tbl.bootstrap(out_root, ["clip_id", "window_start"])
    cols = [
        "clip_id", "window_start", "event_time", "n_samples", "rms_db", "peak",
        "transcript", "transcript_norm",
    ]
    t["output"].read(spark).select(*cols).toPandas().to_parquet(
        os.path.join(dump_dir, "output.parquet"), index=False
    )
    info = {}
    if not t["quarantine"].is_empty():
        q = t["quarantine"].read(spark).select("clip_id", "reject_reason").toPandas()
        q.to_parquet(os.path.join(dump_dir, "quarantine.parquet"), index=False)
    if not t["metrics"].is_empty():
        m = t["metrics"].read(spark).select("batch_id", "rows_in", "rows_quarantined").toPandas()
        info["metrics_rows_in"] = int(m["rows_in"].sum())
        info["metrics_rows_quarantined"] = int(m["rows_quarantined"].sum())
    out = t["output"]
    m = out.manifest()
    info["manifest_kb"] = len(json.dumps(m)) / 1024.0
    # files the existing-keys anti-join of commit v could read: every
    # file of snapshot v-1 (a batch touches nearly all buckets)
    info["anti_join_files"] = [
        sum(len(fl) for fl in out.manifest_at(v - 1)["files"].values())
        for v in range(1, m["version"] + 1)
    ]
    return info


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    from hydra_spark import runner
    from hydra_spark.session import get_spark

    from perfbench import procfs, tracing

    conf = {}
    if spec["trace"]:
        conf = tracing.eventlog_conf(spec["eventlog_dir"])
    spark = get_spark(cores=spec["cores"], app_name="perfbench", extra_conf=conf)
    jit = procfs.JitCpu(os.getsid(0)).start()
    rec = _listener_class()(jit)
    spark.streams.addListener(rec)
    spans = tracing.SpanLog()
    if spec["trace"]:
        spans.install()

    t_start = time.time()
    runner.main(
        [
            "--audio", spec["audio"], "--transcripts", spec["transcripts"],
            "--out", spec["out_root"], "--files-per-trigger", str(spec["files_per_trigger"]),
            "--bounded", "--max-restarts", "0",
        ]
    )
    t_end = time.time()
    jit.stop()
    if spec["trace"]:
        spans.uninstall()

    result = {
        "t_start": t_start,
        "t_end": t_end,
        "events": rec.events,
        "spans": spans.spans,
        "tables": _dump_tables(spark, spec["out_root"], spec["dump_dir"]),
    }
    if spec["trace"]:
        result["decode_split"] = tracing.decode_split(spark, spec["audio"], spec["cores"])
        spark.stop()  # closes the event log
    with open(spec["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    # run.py kills what is left of the session (JVM, workers) once
    # this process exits; an untraced pass skips the orderly shutdown
    os._exit(main(sys.argv[1]))
