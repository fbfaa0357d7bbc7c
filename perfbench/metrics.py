"""End-to-end and per-layer metrics from one engine pass's record.

A pass record (see engine.py) holds the listener's wall-stamped query
events, the wrapper spans and the table dumps; ``t_launch`` and
``peak_rss_mb`` are added by run.py. Batch 0 of the flagship query is
set-up; steady-state figures use the batches after it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from urllib.parse import urlparse

from perfbench import procfs, stats, tracing

LAYERS = [
    "sources.replay", "transforms", "functions.decode", "operators.join",
    "sink", "tables", "pipeline",
]


def queries(record: dict) -> tuple[list[dict], list[dict]]:
    """(flagship progress, quarantine-stream progress), each sorted by
    batch id and stamped with the listener's wall time. The flagship is
    the query with two sources (clips and transcripts)."""
    flag, side = [], []
    for ev in record["events"]:
        if ev["event"] != "progress":
            continue
        p = dict(ev["progress"], wall=ev["wall"], cpu=ev["cpu"], jit=ev["jit"], ticks=ev["ticks"])
        (flag if len(p["sources"]) == 2 else side).append(p)
    return sorted(flag, key=lambda p: p["batchId"]), sorted(side, key=lambda p: p["batchId"])


def audio_rows(p: dict) -> int:
    return sum(s["numInputRows"] for s in p["sources"] if "transcripts" not in s["description"])


def end_to_end(record: dict) -> dict:
    """Set-up, throughput, batch time samples and peak RSS of a pass.

    setup_s: CPU seconds (user + system) of the engine's session
    from launch to the batch 0 commit, net of hypervisor steal.
    cpu_ms_per_clip: the session's CPU time, less that of the JVM's JIT
    compiler threads, from the batch 0 commit to the last commit of
    either query, net of steal, per clip ingested after batch 0. Charged
    CPU time rises with hypervisor steal (as when the guest kernel
    charges stolen time to the task it interrupted), so a window's
    charged CPU time is scaled by the share of host CPU time not stolen
    in that window (``*_charged`` keep the raw figures, JIT included).
    setup_wall_s / clips_per_s: the same two windows in wall-clock time."""
    flag, side = queries(record)
    first = flag[0]
    if first["batchId"] != 0:
        raise RuntimeError("flagship progress for batch 0 missing")
    last = max(flag + side, key=lambda p: p["wall"])
    steady = flag[1:]
    clips = sum(audio_rows(p) for p in steady)
    setup_steal = procfs.steal_share(record["ticks_launch"], first["ticks"])
    steady_steal = procfs.steal_share(first["ticks"], last["ticks"])
    steady_cpu = last["cpu"] - first["cpu"]
    steady_jit = last["jit"] - first["jit"]
    return {
        "setup_s": first["cpu"] * (1.0 - setup_steal),
        "setup_charged_s": first["cpu"],
        "setup_steal": setup_steal,
        "setup_wall_s": first["wall"] - record["t_launch"],
        "cpu_ms_per_clip": (steady_cpu - steady_jit) * (1.0 - steady_steal) * 1e3 / clips,
        "cpu_ms_per_clip_charged": steady_cpu * 1e3 / clips,
        "steady_jit_s": steady_jit,
        "steady_steal": steady_steal,
        "clips_per_s": clips / (last["wall"] - first["wall"]),
        "batch_ms": [p["durationMs"]["triggerExecution"] for p in steady],
        "peak_rss_mb": record["peak_rss_mb"],
    }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def ingested_mb(checkpoint: str) -> float:
    """Size of every file a query's file sources ingested, read from the
    source logs in its checkpoint (``sources/<n>/<batch>``: a version
    line, then one JSON entry per file)."""
    total = 0
    for entry in glob.glob(os.path.join(checkpoint, "sources", "*", "*")):
        with open(entry) as f:
            for line in f:
                if line.startswith("{"):
                    path = json.loads(line)["path"]
                    total += os.path.getsize(urlparse(path).path)
    return total / 1e6


def flagship_jobs(log: dict, flagship_id: str) -> list[dict]:
    return [j for j in log["jobs"] if j["props"].get("sql.streaming.queryId") == flagship_id]


def per_layer(record: dict, log: dict) -> dict:
    """Per-layer figures of a traced pass (values only; units live in
    BENCHMARK.json)."""
    flag, side = queries(record)
    steady = flag[1:]
    fid = flag[0]["id"]
    jobs = flagship_jobs(log, fid)
    stages = log["stages"]

    def stage_sum(js: list[dict], key: str, layer: str | None = None) -> float:
        """Sum of a stage metric over the jobs' stages (of one layer)."""
        tot = 0.0
        for j in js:
            for s in j["stages"]:
                st = stages.get(s)
                if st and (layer is None or tracing.stage_layer(st["names"]) == layer):
                    tot += st[key]
        return tot

    # self times over the steady-state triggers
    spans = [s for s in record["spans"] if not s["batch"].startswith("adm-")]
    layer_of = {"sink.call": "sink", "transforms.finish_batch": "transforms"}
    wrap = [(s["name"], s["start"], s["end"], layer_of.get(s["name"], "tables")) for s in spans]
    selfs: dict[str, float] = {k: 0.0 for k in LAYERS}
    trig_total = 0.0
    serial = []
    for p in steady:
        root = tracing.trigger_span(p)
        trig_total += root.dur
        kids = [tracing.Span(*w) for w in wrap]
        for j in jobs:
            if j["props"].get("streaming.sql.batchId") not in (None, str(p["batchId"])):
                continue
            kids.append(tracing.Span(f"job{j['id']}", j["start"], j["end"], ""))
            for s in j["stages"]:
                st = stages.get(s)
                if st and st["start"] is not None and st["end"] is not None:
                    kids.append(tracing.Span(f"stage{s}", st["start"], st["end"], tracing.stage_layer(st["names"]) or ""))
        tracing.nest(root, kids)
        for k, v in tracing.self_times(root).items():
            selfs[k] = selfs.get(k, 0.0) + v
        in_trig = [(max(j["start"], root.start), min(j["end"], root.end)) for j in jobs
                   if j["end"] > root.start and j["start"] < root.end]
        serial.append((root.dur - _union_len(in_trig)) * 1e3)

    steady_ids = {str(p["batchId"]) for p in steady}

    def span_ms(name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name and s["batch"] in steady_ids]

    side_ms: dict[str, float] = {}
    for s in spans:
        if s["name"] == "tables.side":
            side_ms[s["batch"]] = side_ms.get(s["batch"], 0.0) + (s["end"] - s["start"]) * 1e3
    # manifest stats + rewrite: append_dedup's wall time after its last job
    post_write = []
    for s in spans:
        if s["name"] == "tables.append_dedup" and s["batch"] in steady_ids:
            ends = [j["end"] for j in jobs if s["start"] <= j["end"] <= s["end"]]
            if ends:
                post_write.append((s["end"] - max(ends)) * 1e3)

    so = [p["stateOperators"][0] for p in flag if p.get("stateOperators")]
    so_steady = [p["stateOperators"][0] for p in steady if p.get("stateOperators")]
    tables = record["tables"]
    out = {f"self.{k}_s": v for k, v in selfs.items()}
    out.update(
        {
            "self.sum_over_trigger": sum(selfs.values()) / trig_total if trig_total else 0.0,
            "sources.list_ms_p50": _median([p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in steady]),
            "sources.input_mb": ingested_mb(os.path.join(record["out_root"], "_checkpoint")),
            "quarantine_stream.busy_s": sum(p["durationMs"]["triggerExecution"] for p in side) / 1e3,
            "quarantine_stream.input_mb": ingested_mb(os.path.join(record["out_root"], "_checkpoint_quarantine")),
            "decode.task_s": stage_sum(jobs, "task_s", "functions.decode"),
            "join.update_ms_sum": sum(s.get("allUpdatesTimeMs", 0) + s.get("allRemovalsTimeMs", 0) for s in so),
            "join.shuffle_mb": stage_sum(jobs, "shuffle_w_b") / 1e6,
            "join.state_commit_ms_p50": _median([s.get("commitTimeMs", 0) for s in so_steady]),
            "join.state_bytes_max": max((s.get("memoryUsedBytes", 0) for s in so), default=0),
            "join.late_dropped": sum(s.get("numRowsDroppedByWatermark", 0) for s in so),
            "sink.call_ms_p50": _median(span_ms("sink.call")),
            "sink.jobs_per_batch": len([j for j in jobs if j["props"].get("streaming.sql.batchId") in steady_ids]) / max(1, len(steady)),
            "tables.append_dedup_ms_p50": _median(span_ms("tables.append_dedup")),
            "tables.post_write_ms_p50": _median(post_write),
            "tables.anti_join_files_p50": _median(tables["anti_join_files"][1:]),
            "tables.manifest_kb_end": tables["manifest_kb"],
            "tables.side_ms_p50": _median([v for b, v in side_ms.items() if b in steady_ids]),
            "driver.plan_ms_p50": _median([p["durationMs"].get("queryPlanning", 0) for p in steady]),
            "driver.wal_ms_p50": _median([p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0) for p in steady]),
            "driver.serial_ms_p50": _median(serial),
        }
    )
    return out


def percentile_lines(name: str, values: list[float], unit: str) -> str:
    s = stats.summary(values)
    parts = [f"p50={s['p50']:.1f}"] if s["p50"] is not None else ["p50=n/a"]
    if "q" in s:
        key = "p%g" % s["q"]
        parts.append(f"{key}={s[key]:.1f}")
    return f"{name}: {' '.join(parts)} {unit} (n={s['n']})"
