"""Benchmark command: one workload, one seed, one result line.

    python3 perfbench/run.py --workload replay_ordered --seed 1 --seconds 20 --trace 0

Steps: check the engine sources are present; generate (or reuse) the
seeded inputs; run engine passes (perfbench/engine.py), each in its own
session; check every output row; print the metrics, one per line
with its unit, then the JSON result as the last line.

``--trace 0``: one untraced pass at local[nproc]; prints the end-to-end
metrics. ``--trace 1``: a traced pass at local[nproc] (event log plus
wrapper spans, then the isolated decode passes), an untraced pass at
local[1] and the host ceiling controls; prints the per-layer metrics.
The tracing overhead compares the traced pass with the untraced result
of the same workload and seed that an earlier ``--trace 0`` run stored
in the work directory, or with a fresh untraced pass when none exists.

Work files live in ``.perfbench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import procfs  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# a run must end within 180 s; passes share what is left of this budget
RUN_BUDGET_S = 172
T0 = time.time()
ENGINE_FILES = ("hydra_spark/pipeline.py", "hydra_spark/runner.py", "hydra_spark/session.py")


def _engine_present() -> bool:
    if not all(os.path.isfile(os.path.join(ROOT, f)) for f in ENGINE_FILES):
        return False
    try:
        import hydra_spark.pipeline  # noqa: F401
    except ImportError:
        return False
    return True


class RssMonitor:
    """Peak resident memory (VmHWM) of every process in a session,
    sampled until stopped; the result is the sum over processes (a pid
    that exec()s a new program counts once per program)."""

    def __init__(self, sid: int, interval: float = 0.25):
        self.sid = sid
        self.interval = interval
        self.peak_kb: dict[tuple[int, str], int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for pid, ppid in procfs.session_pids(self.sid).items():
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                if os.path.basename(exe) == "java" and os.readlink(f"/proc/{ppid}/exe") == exe:
                    # a JVM child between fork and exec shares the JVM's
                    # memory map and would report the JVM's peak again
                    continue
            except OSError:
                continue
            kb = procfs.peak_rss_kb(pid)
            if kb is not None:
                key = (pid, exe)
                self.peak_kb[key] = max(self.peak_kb.get(key, 0), kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def by_program_mb(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for (_pid, exe), kb in self.peak_kb.items():
            name = os.path.basename(exe)
            out[name] = out.get(name, 0.0) + kb / 1024.0
        return out


def _reap_session(sid: int) -> None:
    """Kill whatever is left of a pass's session and wait until every
    one of its processes has gone. PySpark's worker daemon moves to a
    process group of its own, so the kill goes to each pid."""
    deadline = time.time() + 30
    while time.time() < deadline:
        pids = procfs.session_pids(sid, zombies=True)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap_children()
        time.sleep(0.05)
    raise RuntimeError(f"processes of session {sid} outlived SIGKILL: {sorted(procfs.session_pids(sid, True))}")


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    a descendant whose parent dies is re-parented here, not to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_children() -> None:
    """Collect every child that has ended (zombies)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_descendants() -> None:
    """Kill and wait for every process still below this one. With
    ``_adopt_orphans`` in force, every descendant that is left is a
    child by then."""
    deadline = time.time() + 30
    while time.time() < deadline:
        kids = procfs.child_pids(os.getpid())
        if not kids:
            return
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        _reap_children()


def run_pass(inputs: str, cores: int, trace: bool, tag: str) -> dict:
    """One engine process over ``inputs``; returns its record."""
    from perfbench import config

    pdir = os.path.join(WORK, "run", tag)
    shutil.rmtree(pdir, ignore_errors=True)
    os.makedirs(pdir)
    spec = {
        "audio": os.path.join(inputs, "audio"),
        "transcripts": os.path.join(inputs, "transcripts"),
        "out_root": os.path.join(pdir, "out"),
        "dump_dir": pdir,
        "result": os.path.join(pdir, "result.json"),
        "eventlog_dir": os.path.join(pdir, "eventlog"),
        "cores": cores,
        "trace": trace,
        "files_per_trigger": config.FILES_PER_TRIGGER,
    }
    spec_path = os.path.join(pdir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    # Spark scratch, JVM and Python temp files stay in the pass directory
    tmp = os.path.join(pdir, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    log_path = os.path.join(pdir, "engine.log")
    ticks0 = procfs.host_ticks()
    with open(log_path, "w") as log:
        t_launch = time.time()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.engine", spec_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            with RssMonitor(proc.pid) as rss:
                rc = proc.wait(timeout=max(1.0, RUN_BUDGET_S - (time.time() - T0)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_session(proc.pid)
            proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"engine pass {tag} failed (rc={rc}):\n{tail}")
    with open(spec["result"]) as f:
        record = json.load(f)
    record["t_launch"] = t_launch
    record["ticks_launch"] = ticks0
    record["peak_rss_mb"] = rss.total_mb()
    parts = ", ".join(f"{k} {v:.0f}" for k, v in sorted(rss.by_program_mb().items()))
    print(
        f"pass {tag}: local[{cores}], {time.time() - t_launch:.1f} s, hypervisor steal "
        f"{100.0 * procfs.steal_share(ticks0, procfs.host_ticks()):.0f}% of CPU time, "
        f"peak RSS MB by program: {parts}"
    )
    record["dir"] = pdir
    record["out_root"] = spec["out_root"]
    return record


def check_pass(record: dict, expected, workload) -> dict:
    import pandas as pd

    from perfbench import check

    output = pd.read_parquet(os.path.join(record["dir"], "output.parquet"))
    qpath = os.path.join(record["dir"], "quarantine.parquet")
    if os.path.exists(qpath):
        quarantine = pd.read_parquet(qpath)
    else:
        quarantine = pd.DataFrame({"clip_id": pd.Series([], dtype=object), "reject_reason": pd.Series([], dtype=object)})
    errors = check.check(expected, output, quarantine, strict_transcripts=not workload.dirty)
    out = check.loss(expected, output, quarantine)
    out["errors"] = errors
    out["output_rows"] = len(output)
    out["decode_rejects"] = int(quarantine["reject_reason"].astype(str).str.startswith("DecodeError").sum())
    return out


def _emit(name: str, value: float, unit: str) -> None:
    print(f"{name}: {value:.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds through the finally blocks, which reap the engine
    # and every other process this run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _adopt_orphans()
    try:
        return _run(args)
    finally:
        _stop_descendants()


def _run(args) -> int:
    if not _engine_present():
        print(f"perfbench: engine sources ({', '.join(ENGINE_FILES)}) not found under {ROOT}", file=sys.stderr)
        return 2
    import pandas as pd

    from perfbench import ceilings, config, gen, metrics, stats

    if args.workload not in config.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(config.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    w = config.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))  # what `nproc` reports
    files = config.n_files(w, args.seconds)
    inputs = gen.ensure_inputs(WORK, w, args.seed, files)
    expected = pd.read_parquet(os.path.join(inputs, "expected.parquet"))
    print(f"workload {w.name}: {w.why}")
    print(f"input: seed {args.seed}, {files} file pairs x {w.clips_per_file} clips, local[{nproc}]")

    errors: list[str] = []

    def checked(record: dict, label: str) -> dict:
        res = check_pass(record, expected, w)
        errors.extend(f"[{label}] {e}" for e in res["errors"])
        return res

    if not args.trace:
        rec = run_pass(inputs, nproc, False, "e2e")
        e2e = metrics.end_to_end(rec)
        res = checked(rec, "e2e")
        values = dict(e2e, batch_ms_p50=stats.summary(e2e["batch_ms"])["p50"])
        del values["batch_ms"]
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{w.name}-s{args.seed}.json"), "w") as f:
            json.dump(dict(values, seed=args.seed, t=time.time()), f)
        print(metrics.percentile_lines("batch_ms", e2e["batch_ms"], "ms"))
        spec = bench["end_to_end"]
    else:
        rec = run_pass(inputs, nproc, True, "traced")
        res = checked(rec, "traced")
        log = tracing_log(rec)
        values = metrics.per_layer(rec, log)
        traced = metrics.end_to_end(rec)
        values["clips_per_s"] = traced["clips_per_s"]
        values["setup_wall_s"] = traced["setup_wall_s"]
        values["peak_rss_mb"] = traced["peak_rss_mb"]
        values["batch_ms_p50"] = stats.summary(traced["batch_ms"])["p50"]
        values.update({f"decode.{k}": v for k, v in rec["decode_split"].items()})
        values["decode.rejects"] = res["decode_rejects"]
        t = rec["tables"]
        values["sink.quarantined"] = t.get("metrics_rows_quarantined", 0)
        values["sink.deduped"] = t.get("metrics_rows_in", 0) - t.get("metrics_rows_quarantined", 0) - res["output_rows"]

        one = run_pass(inputs, 1, False, "one_core")
        checked(one, "one_core")
        e1 = metrics.end_to_end(one)
        values["clips_per_s_1core"] = e1["clips_per_s"]
        values["scaling_eff"] = traced["clips_per_s"] / e1["clips_per_s"] / nproc
        ctrl = ceilings.measure(nproc)
        values["ctrl.cpu_eff"], values["ctrl.bw_eff"] = ctrl["cpu_eff"], ctrl["bw_eff"]

        ref = stored_result(w.name, args.seed)
        if ref is None:
            plain = run_pass(inputs, nproc, False, "untraced")
            checked(plain, "untraced")
            pe = metrics.end_to_end(plain)
            ref = {"setup_s": pe["setup_s"], "clips_per_s": pe["clips_per_s"], "batch_ms_p50": stats.summary(pe["batch_ms"])["p50"]}
            print("tracing overhead vs an untraced pass of this run")
        else:
            print(f"tracing overhead vs the stored untraced run of seed {ref['seed']}")
        values["trace.overhead_setup_s"] = traced["setup_s"] - ref["setup_s"]
        values["trace.overhead_clips_per_s"] = traced["clips_per_s"] - ref["clips_per_s"]
        values["trace.overhead_batch_ms_p50"] = stats.summary(traced["batch_ms"])["p50"] - ref["batch_ms_p50"]
        print(
            f"scaling_eff {values['scaling_eff']:.3f} (gate 0.8) beside same-run ceilings: "
            f"cpu {ctrl['cpu_eff']:.3f}, bw {ctrl['bw_eff']:.3f} (1 -> {nproc} processes)"
        )
        print("join.state_rows: unavailable (trackTotalNumberOfRows=false in session.get_spark)")
        spec = bench["per_layer"]

    values["clips_lost_frac"] = res["lost_frac"]
    print(f"clips: {res['unique']} unique, {res['lost']} in neither output nor quarantine")
    for e in errors[:20]:
        print(f"WRONG {e}")
    out = {}
    for m in spec:
        v = float(values[m["name"]])
        _emit(m["name"], v, m["unit"])
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    if not args.trace:
        # the rest of the pass's figures, beside the bounded metrics
        for name, unit in (
            ("setup_charged_s", "s"), ("setup_steal", "ratio"), ("setup_wall_s", "s"),
            ("cpu_ms_per_clip_charged", "ms"), ("steady_jit_s", "s"), ("steady_steal", "ratio"), ("clips_per_s", "clips/s"),
            ("batch_ms_p50", "ms"), ("peak_rss_mb", "MB"), ("clips_lost_frac", "ratio"),
        ):
            _emit(name, values[name], unit)
    print(
        json.dumps(
            {"correct": not errors, "attempted": res["unique"], "failed": res["lost"], "metrics": out}
        )
    )
    return 0


def stored_result(workload: str, seed: int) -> dict | None:
    """End-to-end result a ``--trace 0`` run stored for this workload:
    the same seed's if there is one, else the most recent one."""
    paths = glob.glob(os.path.join(WORK, "results", f"{workload}-s*.json"))
    if not paths:
        return None
    same = os.path.join(WORK, "results", f"{workload}-s{seed}.json")
    with open(same if same in paths else max(paths, key=os.path.getmtime)) as f:
        return json.load(f)


def tracing_log(record: dict) -> dict:
    from perfbench import tracing

    path = tracing.find_eventlog(os.path.join(record["dir"], "eventlog"))
    if path is None:
        raise RuntimeError("traced pass left no event log")
    return tracing.parse_eventlog(path)


if __name__ == "__main__":
    sys.exit(main())
