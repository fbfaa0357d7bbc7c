"""Exactly-once sink semantics: idempotent replay, keyed upsert, tombstones.

FIXTURES.md §3 replay/dedup suite: duplicated rows + whole-input replay
must leave exactly one row per key (Hydra latest-wins compacted cache,
ConsumerGroupsAlgebra.scala:254-303, + idempotent keyed publish).
"""

import pandas as pd
from pyspark.sql import functions as F

from hydra_spark.tables import TransactionalTable


def _mk(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def test_merge_idempotent_replay(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    df = _mk(spark, [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    assert t.merge_upsert(spark, df, batch_id=0) is True
    assert t.merge_upsert(spark, df, batch_id=0) is False  # replay: no-op
    assert t.read(spark).count() == 2


def test_merge_upsert_latest_wins(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    t.merge_upsert(spark, _mk(spark, [{"k": "a", "v": 1}, {"k": "b", "v": 2}]), 0)
    t.merge_upsert(spark, _mk(spark, [{"k": "a", "v": 99}, {"k": "c", "v": 3}]), 1)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {"a": 99, "b": 2, "c": 3}


def test_merge_tombstone_delete(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    t.merge_upsert(spark, _mk(spark, [{"k": "a", "v": 1}, {"k": "b", "v": 2}]), 0)
    delete = _mk(spark, [{"k": "a", "v": 0}]).withColumn("_delete", F.lit(True))
    t.merge_upsert(spark, delete, 1)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {"b": 2}


def test_whole_input_replayed_twice(spark, tmp_path, clips):
    """Feed the same 500-row input as two different batch ids (the
    'whole table replayed twice' fixture) — sink must stay key-unique."""
    t = TransactionalTable(str(tmp_path / "t"), ["clip_id"], n_buckets=8)
    sample = clips.limit(500).select("clip_id", "codec", "event_time")
    t.merge_upsert(spark, sample, "run-1")
    t.merge_upsert(spark, sample, "run-2")
    out = t.read(spark)
    assert out.count() == 500
    assert out.select("clip_id").distinct().count() == 500


def test_snapshot_isolation_versions(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    v0 = t.manifest()["version"]
    t.merge_upsert(spark, _mk(spark, [{"k": "a", "v": 1}]), 0)
    assert t.manifest()["version"] == v0 + 1
    assert 0 in t.committed_batches()


def test_commit_offsets_toggle(spark, tmp_path, clips):
    """L3 offset-commit flag analog (KafkaClientAlgebra.scala:370-376):
    commit_offsets=False skips the lineage (offset-checkpoint) writes;
    output and metrics are unaffected."""
    from hydra_spark import tables as tbl
    from hydra_spark.sink import ExactlyOnceSink

    batch = clips.limit(200).select(
        "clip_id", "codec", "event_time", "ingest_partition", "ingest_offset"
    )
    for flag in (True, False):
        t = tbl.bootstrap(str(tmp_path / f"co_{flag}"), ["clip_id"])
        sink = ExactlyOnceSink(t, ["clip_id"], commit_offsets=flag)
        sink(batch, 0)
        assert t["output"].read(spark).count() == 200
        assert not t["metrics"].is_empty()
        assert t["lineage"].is_empty() is (not flag)


def test_append_dedup_existing_keys_read_launches_no_job(spark, tmp_path, monkeypatch):
    """The existing-keys probe reads with the batch's key schema, so the
    read itself runs no schema-inference job (a bare spark.read.parquet
    runs one per call, i.e. one per streaming batch)."""
    from pyspark.sql.readwriter import DataFrameReader

    t = TransactionalTable(str(tmp_path / "t"), ["k", "ts"], n_buckets=4)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("string").alias("k"),
            F.timestamp_seconds("id").alias("ts"),
            F.col("id").alias("v"),
        )

    assert t.append_dedup(spark, batch(0, 100), 0)
    sc, group = spark.sparkContext, "append_dedup_jobs"
    jobs = lambda: len(sc.statusTracker().getJobIdsForGroup(group))  # noqa: E731
    read_jobs = []
    parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **kw):
        before = jobs()
        df = parquet(self, *paths, **kw)
        read_jobs.append(jobs() - before)
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    sc.setJobGroup(group, "append_dedup on a non-empty table")
    try:
        assert t.append_dedup(spark, batch(50, 150), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert read_jobs == [0]
    # the bucket probe and the anti-join write; nothing at read time
    assert 0 < jobs() <= 6
    got = t.read(spark)
    assert got.count() == 150 and got.select("k", "ts").distinct().count() == 150
