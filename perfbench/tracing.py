"""Spans for the traced run: wrappers, Spark's event log, self time.

A span is a name, a start and an end in wall-clock seconds, and the
layer its self time is charged to. Spans come from three places, all
outside the engine's code:

* ``SpanLog.install`` wraps public entry points at run time
  (``ExactlyOnceSink.__call__``, ``pipeline.finish_batch``,
  ``TransactionalTable.append_dedup``, ``AppendTable.append_pandas`` /
  ``append_df``);
* the listener's progress events give each trigger and its
  ``durationMs`` phases;
* Spark's event log gives every job and stage.

``nest`` places them by time containment; ``self_times`` charges
each span's duration, minus what its children cover, to a layer.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

# ------------------------------------------------------------- wrappers


class SpanLog:
    """In-memory span recorder around the engine's public entry points."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, owner, attr: str, name: str, batch_arg: int | None) -> None:
        orig = getattr(owner, attr)
        log = self

        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.time()
                batch = None
                if batch_arg is not None:
                    batch = kwargs.get("batch_id", args[batch_arg] if len(args) > batch_arg else None)
                with log._lock:
                    log.spans.append({"name": name, "start": t0, "end": t1, "batch": str(batch)})

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from hydra_spark import pipeline, sink, tables

        self._wrap(sink.ExactlyOnceSink, "__call__", "sink.call", 2)
        self._wrap(pipeline, "finish_batch", "transforms.finish_batch", None)
        self._wrap(tables.TransactionalTable, "append_dedup", "tables.append_dedup", 3)
        self._wrap(tables.AppendTable, "append_pandas", "tables.side", 2)
        self._wrap(tables.AppendTable, "append_df", "tables.side", 2)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def eventlog_conf(directory: str) -> dict:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# ------------------------------------------------------------ event log


def parse_eventlog(path: str) -> dict:
    """Jobs and stages of one Spark event log.

    Returns ``{"jobs": [...], "stages": {id: {...}}}``; times in seconds.
    A job carries its stage ids and local properties (query id, batch
    id); a stage its RDD/scope names and summed task metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid, {"id": sid, "start": None, "end": None, "names": "", "task_s": 0.0, "shuffle_w_b": 0}
        )

    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "start": ev["Submission Time"] / 1e3,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                    "props": ev.get("Properties") or {},
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                s = stage(si["Stage ID"])
                if "Submission Time" in si:
                    s["start"] = si["Submission Time"] / 1e3
                if "Completion Time" in si:
                    s["end"] = si["Completion Time"] / 1e3
                parts = []
                for r in si.get("RDD Info", []):
                    parts.append(r.get("Name", ""))
                    scope = r.get("Scope")
                    if scope:
                        try:
                            parts.append(json.loads(scope).get("name", ""))
                        except (json.JSONDecodeError, AttributeError):
                            pass
                s["names"] = "|".join(parts)
            elif kind == "SparkListenerTaskEnd":
                s = stage(ev["Stage ID"])
                tm = ev.get("Task Metrics") or {}
                s["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                s["shuffle_w_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {"jobs": [j for j in jobs.values() if j["end"] is not None], "stages": stages}


def find_eventlog(directory: str) -> str | None:
    logs = [os.path.join(directory, f) for f in os.listdir(directory)] if os.path.isdir(directory) else []
    logs = [p for p in logs if os.path.isfile(p) and not p.endswith(".inprogress")]
    return max(logs, key=os.path.getmtime) if logs else None


def stage_layer(names: str) -> str | None:
    """Layer a stage's own work belongs to, from its RDD/scope names; None
    means "the layer of whatever started the job". A stage holding the
    stream-stream join is the join's even when the transcript UDF runs
    in it too; the decode stage is the one running mapInArrow."""
    n = names.lower()
    if "streamingsymmetrichashjoin" in n:
        return "operators.join"
    if "mapinarrow" in n:
        return "functions.decode"
    if "arrowevalpython" in n:
        return "transforms"
    return None


# ----------------------------------------------------------- span trees


@dataclass
class Span:
    name: str
    start: float
    end: float
    layer: str
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return max(0.0, self.end - self.start)


def nest(root: Span, spans: list[Span]) -> Span:
    """Place each span under the innermost span that contains its
    midpoint (spans are clipped to their parent). Children inherit a
    parent's layer when theirs is empty."""
    for s in sorted(spans, key=lambda s: (s.start, -s.dur)):
        mid = (s.start + s.end) / 2
        if not (root.start <= mid <= root.end):
            continue
        parent = root
        while True:
            inner = [c for c in parent.children if c.start <= mid <= c.end]
            if not inner:
                break
            parent = inner[-1]
        s.start, s.end = max(s.start, parent.start), min(s.end, parent.end)
        if not s.layer:
            s.layer = parent.layer
        parent.children.append(s)
    return root


def self_times(root: Span) -> dict[str, float]:
    """Per-layer self time of a span tree. A span's self time is its
    duration minus the part its children cover; overlapping siblings
    are counted once (each is clipped to start where the previous one
    ended), so the layer totals sum to the root's duration."""
    out: dict[str, float] = {}

    def visit(s: Span) -> None:
        covered, cursor = 0.0, s.start
        for c in sorted(s.children, key=lambda c: c.start):
            c.start = max(c.start, cursor)
            if c.end <= c.start:
                c.end = c.start
                continue
            covered += c.dur
            cursor = c.end
            visit(c)
        out[s.layer] = out.get(s.layer, 0.0) + s.dur - covered

    visit(root)
    return out


# phases of one trigger in MicroBatchExecution order, with their layer
PHASES = [
    ("latestOffset", "sources.replay"),
    ("walCommit", "pipeline"),
    ("getBatch", "sources.replay"),
    ("queryPlanning", "pipeline"),
    ("addBatch", "pipeline"),
    ("commitOffsets", "pipeline"),
]


def trigger_span(progress: dict) -> Span:
    """A trigger and its durationMs phases as a span tree. Spark reports
    phase durations, not start times, so phases are laid end to end in
    execution order; addBatch is anchored to end where commitOffsets
    begins, so the wrapper spans inside it land under it."""
    from datetime import datetime

    d = progress["durationMs"]
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    end = start + d.get("triggerExecution", 0) / 1e3
    root = Span("trigger", start, end, "pipeline")
    t = start
    tail = end - d.get("commitOffsets", 0) / 1e3
    for name, layer in PHASES:
        ms = d.get(name, 0) / 1e3
        if name == "addBatch":
            s, e = max(t, tail - ms), tail
        elif name == "commitOffsets":
            s, e = tail, end
        else:
            s, e = t, min(t + ms, end)
        root.children.append(Span(name, s, e, layer))
        t = e
    return root


# ---------------------------------------------------- decode in isolation


def decode_split(spark, audio_dir: str, cores: int, reps: int = 3) -> dict:
    """Decode layer in isolation over the workload's audio files.

    busy:  ``pipeline.pre_join_transform`` as the flagship builds it,
           written to the ``noop`` sink;
    arrow: the same plan with the decode stage replaced by an identity
           ``mapInArrow`` that ships the same columns to Python and
           returns the decode output schema without computing;
    compute = busy - arrow (the numpy work).
    Each pass runs once to warm up, then ``reps`` times alternating; the
    fastest run of each is reported (the one least slowed by other load
    on the host)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from hydra_spark import pipeline, synth, transforms
    from hydra_spark.functions.decode import FEATURE_FIELDS

    schema = T.StructType([f for f in synth.CLIPS_SCHEMA.fields if f.name != "transcript"])
    src = spark.read.schema(schema).parquet(audio_dir)
    spec = pipeline.pre_join_spec(num_partitions=cores, salt=False)
    pre = transforms.build_transform([s for s in spec if s not in ("decode", "tag_decode_rejects")])(src)
    keep = [f for f in pre.schema.fields if f.name != "bytes"]
    out_schema = T.StructType(keep + FEATURE_FIELDS)
    keep_names = [f.name for f in keep]
    feat_types = [pa.int32(), pa.float64(), pa.float64(), pa.string()]

    def identity(batches):
        for rb in batches:
            cols = [rb.column(rb.schema.get_field_index(k)) for k in keep_names]
            cols += [pa.nulls(rb.num_rows, t) for t in feat_types]
            yield pa.RecordBatch.from_arrays(cols, names=keep_names + [f.name for f in FEATURE_FIELDS])

    plans = {
        "busy": lambda: pipeline.pre_join_transform(src, cores, salt=False),
        "arrow": lambda: pre.mapInArrow(identity, out_schema),
    }
    times: dict[str, list[float]] = {k: [] for k in plans}
    for rep in range(reps + 1):
        for k, plan in plans.items():
            t0 = time.time()
            plan().write.format("noop").mode("overwrite").save()
            if rep:
                times[k].append(time.time() - t0)
    busy, arrow = min(times["busy"]), min(times["arrow"])
    return {"busy_s": busy, "arrow_s": arrow, "compute_s": busy - arrow}
