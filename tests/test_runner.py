"""Runner: restart loop semantics (R5), listener metrics (A5/K8), and
the spark-submit --py-files submission mode the north rule requires.

Reference semantics under test: RetryableFs2Stream reruns the stream on
error AND on unexpected completion (ingestors/kafka/src/main/scala/
hydra/kafka/algebras/RetryableFs2Stream.scala:45-85); restart recovery
resumes from the checkpoint without loss or duplication (Transport.scala
AtLeastOnceDelivery + our idempotent sink).
"""

import json
import os
import subprocess

import pytest

from hydra_spark.runner import ProgressListener, run_with_restarts
from tests.conftest import REPO_ROOT


class FakeQuery:
    def __init__(self):
        self.stopped = False

    def processAllAvailable(self):
        pass

    def stop(self):
        self.stopped = True


def test_restart_loop_retries_on_error(monkeypatch):
    import hydra_spark.runner as R

    monkeypatch.setattr(R.time, "sleep", lambda s: None)
    calls = {"n": 0}

    def start_fn():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return FakeQuery(), None, {"output": "tables"}

    notes = []
    tables, restarts = run_with_restarts(start_fn, bounded=True, notify=notes.append)
    assert tables == {"output": "tables"}
    assert restarts == 2
    assert all("restarting" in n for n in notes)


def test_restart_loop_max_restarts(monkeypatch):
    import hydra_spark.runner as R

    monkeypatch.setattr(R.time, "sleep", lambda s: None)

    def start_fn():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="max_restarts"):
        run_with_restarts(start_fn, max_restarts=2, bounded=True, notify=lambda m: None)


def test_progress_listener_writes_jsonl(tmp_path):
    path = str(tmp_path / "m" / "_progress.jsonl")
    lis = ProgressListener(path)
    lis._emit({"event": "progress", "batch_id": 7})
    lis._emit({"event": "terminated"})
    lines = [json.loads(l) for l in open(path)]
    assert lines[0]["batch_id"] == 7
    assert lines[1]["event"] == "terminated"


def test_spark_submit_py_files(dataset, tmp_path):
    """End-to-end through `spark-submit --py-files` — the packaged-engine
    submission mode (north rule). Bounded replay of the n=2000 fixture,
    exactly-once output must match the direct-API row semantics."""
    out = str(tmp_path / "submit_out")
    r = subprocess.run(
        [
            "bash", "tools/submit.sh", "local[4]",
            dataset["audio"], dataset["transcripts"], out, "--bounded",
        ],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert result["restarts"] == 0
    assert result["rows_out"] > 0
    # listener metrics feed written
    progress = [json.loads(l) for l in open(os.path.join(out, "_progress.jsonl"))]
    assert any(p["event"] == "progress" and p["num_input_rows"] > 0 for p in progress)
    # runner.main applied the engine's SQL defaults: shuffle partitions
    # = local[4]'s parallelism, one join state store per partition
    stores = {p["state_store_instances"] for p in progress if p["event"] == "progress"}
    assert stores - {0} == {4}
    # per-partition lineage rows written by the same commits
    assert os.path.isdir(os.path.join(out, "_lineage"))


def test_progress_listener_batch_timeout_flag(tmp_path):
    """R3 ingest-timeout analog: slow batches are flagged, never fatal.
    The state-store fields come from what the store reports (instances,
    commit time), summed over the query's stateful operators."""

    class Op:  # state operator stub
        numStateStoreInstances = 4
        commitTimeMs = 21

    class P:  # minimal progress stub
        batchId = 1
        numInputRows = 10
        inputRowsPerSecond = 1.0
        processedRowsPerSecond = 1.0
        batchDuration = 750
        eventTime = {}
        stateOperators = [Op(), Op()]

    class Stateless(P):
        batchDuration = 100
        stateOperators = []

    class E:
        def __init__(self, progress):
            self.progress = progress

    lis = ProgressListener(str(tmp_path / "p" / "_progress.jsonl"), batch_timeout_ms=500)
    lis.onQueryProgress(E(P()))
    lis.onQueryProgress(E(Stateless()))
    line, stateless = [json.loads(l) for l in open(lis.path).read().splitlines()]
    assert line["timed_out"] is True
    assert lis.timeouts == 1
    assert line["state_store_instances"] == 8
    assert line["state_commit_ms"] == 42
    assert "state_rows" not in line
    assert stateless["timed_out"] is False
    assert stateless["state_store_instances"] == 0 and stateless["state_commit_ms"] == 0
