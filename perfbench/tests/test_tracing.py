"""Self time, span nesting and trigger reconstruction on small traces."""

import pytest

from perfbench import tracing
from perfbench.tracing import Span


def test_self_time_subtracts_children():
    root = Span("trigger", 0.0, 10.0, "pipeline")
    sink = Span("sink.call", 2.0, 8.0, "sink")
    sink.children.append(Span("tables.append_dedup", 3.0, 7.0, "tables"))
    root.children.append(sink)
    got = tracing.self_times(root)
    assert got == pytest.approx({"pipeline": 4.0, "sink": 2.0, "tables": 4.0})


def test_overlapping_siblings_are_counted_once_and_sum_to_root():
    root = Span("job", 0.0, 10.0, "tables")
    root.children += [Span("a", 1.0, 6.0, "functions.decode"), Span("b", 4.0, 9.0, "operators.join")]
    got = tracing.self_times(root)
    assert got == pytest.approx({"tables": 2.0, "functions.decode": 5.0, "operators.join": 3.0})
    assert sum(got.values()) == pytest.approx(root.dur)


def test_nest_places_by_containment_and_inherits_layer():
    root = Span("trigger", 0.0, 10.0, "pipeline")
    root.children.append(Span("addBatch", 1.0, 9.0, "pipeline"))
    spans = [
        Span("sink.call", 2.0, 8.0, "sink"),
        Span("job1", 3.0, 5.0, ""),
        Span("stage1", 3.0, 4.0, "functions.decode"),
        Span("outside", 20.0, 21.0, "sink"),
    ]
    tracing.nest(root, spans)
    add = root.children[0]
    sink = add.children[0]
    job = sink.children[0]
    assert sink.name == "sink.call" and job.name == "job1" and job.layer == "sink"
    assert job.children[0].name == "stage1"
    assert all(c.name != "outside" for c in root.children)
    assert sum(tracing.self_times(root).values()) == pytest.approx(10.0)


def test_nest_clips_a_child_to_its_parent():
    root = Span("trigger", 0.0, 10.0, "pipeline")
    tracing.nest(root, [Span("late", 8.0, 11.0, "sink")])
    assert root.children[0].end == 10.0


def test_trigger_span_lays_phases_end_to_end():
    progress = {
        "batchId": 3,
        "timestamp": "2026-01-01T00:00:00.000Z",
        "durationMs": {
            "latestOffset": 100, "walCommit": 50, "getBatch": 20, "queryPlanning": 30,
            "addBatch": 700, "commitOffsets": 60, "triggerExecution": 1000,
        },
    }
    root = tracing.trigger_span(progress)
    names = [c.name for c in root.children]
    assert names == [p for p, _ in tracing.PHASES]
    add = root.children[names.index("addBatch")]
    commit = root.children[names.index("commitOffsets")]
    assert commit.end == pytest.approx(root.end)
    assert add.end == pytest.approx(commit.start)
    assert add.dur == pytest.approx(0.7)
    got = tracing.self_times(root)
    assert got["sources.replay"] == pytest.approx(0.12)
    assert sum(got.values()) == pytest.approx(1.0)


@pytest.mark.parametrize(
    "names, layer",
    [
        ("Exchange|StateStoreAwareZipPartitionsRDD|StreamingSymmetricHashJoin|ArrowEvalPython", "operators.join"),
        ("Scan parquet |MapInArrow|Exchange", "functions.decode"),
        ("Exchange|ArrowEvalPython|WholeStageCodegen (2)", "transforms"),
        ("WriteFiles|ShuffledRowRDD", None),
    ],
)
def test_stage_layer(names, layer):
    assert tracing.stage_layer(names) == layer
