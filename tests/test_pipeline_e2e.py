"""Tier 2/4: streaming flagship end-to-end vs the python oracle.

Runs the full pipeline (stream-stream join -> decode -> normalize ->
exactly-once MERGE) over the synthesized streams with sentinel flushes,
then checks: key uniqueness, transcript byte parity (shared-module
oracle), join matching (delay window), lineage coverage, metrics rows.
"""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from hydra_spark import pipeline, textnorm
from hydra_spark.session import SQL_DEFAULTS
from tests.conftest import TEST_ROOT, flush_sentinels


@pytest.fixture(scope="module")
def flagship_out(spark, dataset):
    out_root = os.path.join(TEST_ROOT, "flagship_out")
    shutil.rmtree(out_root, ignore_errors=True)
    # fresh copies of stream dirs (sentinels are appended)
    aud = os.path.join(TEST_ROOT, "audio_e2e")
    trs = os.path.join(TEST_ROOT, "trs_e2e")
    for src, dst in [(dataset["audio"], aud), (dataset["transcripts"], trs)]:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
    q, sink, t = pipeline.start_flagship(spark, aud, trs, out_root, files_per_trigger=16)
    q.processAllAvailable()
    flush_sentinels(spark, aud, trs)
    q.processAllAvailable()
    q.stop()
    return {**t, "last_progress": q.lastProgress}


def test_output_complete_and_key_unique(spark, flagship_out, clips):
    out = flagship_out["output"].read(spark).where(~F.col("clip_id").startswith("sentinel"))
    n_clips = clips.count()
    assert out.count() == n_clips  # every clip emitted exactly once
    assert out.select("clip_id", "window_start").distinct().count() == n_clips


def test_transcript_byte_parity(spark, flagship_out, clips):
    out = flagship_out["output"].read(spark).where(~F.col("clip_id").startswith("sentinel"))
    got = out.select("clip_id", "transcript_norm").toPandas().set_index("clip_id")
    src = clips.select("clip_id", "transcript", "event_time").toPandas().set_index("clip_id")
    import pandas as pd

    trs_delayed = 0
    for cid, row in src.iterrows():
        raw = None if pd.isna(row.transcript) else row.transcript
        expected = textnorm.normalize(raw)
        g = got.loc[cid, "transcript_norm"]
        if raw is None:
            assert g is None or g != g  # NaN
            continue
        # very-late transcripts (delay > 60s) legitimately unmatched
        if g is None or g != g:
            trs_delayed += 1
            continue
        assert g == expected, f"{cid}: {g!r} != {expected!r}"
    # ~1% very-late per FIXTURES — must be a small minority
    assert trs_delayed <= 0.03 * len(src)


def test_join_delay_semantics(spark, flagship_out, dataset):
    out = flagship_out["output"].read(spark).where(~F.col("clip_id").startswith("sentinel"))
    matched = out.where(F.col("transcript").isNotNull())
    bad = matched.where(
        (F.col("transcript_time") < F.col("event_time") - F.expr("interval 10 seconds"))
        | (F.col("transcript_time") > F.col("event_time") + F.expr("interval 60 seconds"))
    )
    assert bad.count() == 0
    # transcripts delayed beyond tolerance -> NULL transcript on the clip row
    trs = spark.read.parquet(dataset["transcripts"])
    aud = spark.read.parquet(dataset["audio"]).select("clip_id", F.col("event_time").alias("a_ts"))
    very_late = (
        trs.join(aud, "clip_id")
        .where(F.col("event_time") > F.col("a_ts") + F.expr("interval 60 seconds"))
        .select("clip_id")
    )
    n_very_late = very_late.count()
    assert n_very_late > 0  # fixture guarantees ~1%
    unmatched_late = out.join(very_late, "clip_id").where(F.col("transcript").isNull())
    assert unmatched_late.count() == n_very_late


def test_lineage_and_metrics(spark, flagship_out, clips):
    lin = flagship_out["lineage"].read(spark).where(F.col("ingest_partition") >= 0)
    met = flagship_out["metrics"].read(spark)
    assert met.count() >= 1
    per_part = lin.groupBy("ingest_partition").agg(
        F.min("start_offset").alias("lo"), F.max("end_offset").alias("hi"), F.sum("rows").alias("n")
    )
    src = clips.groupBy("ingest_partition").agg(
        F.max("ingest_offset").alias("max_off"), F.count("*").alias("n_src")
    )
    j = per_part.join(src, "ingest_partition").toPandas()
    sent_mask = j.ingest_partition == 0  # sentinels land in partition 0
    for _, r in j[~sent_mask].iterrows():
        assert r.lo == 0 and r.hi == r.max_off
        assert r.n == r.n_src  # every source row delivered exactly once


def test_join_state_one_store_per_partition(spark, flagship_out):
    """A fresh checkpoint keeps both join sides in one state store per
    shuffle partition (join state format 3), not four."""
    (join,) = flagship_out["last_progress"]["stateOperators"]
    assert join["numStateStoreInstances"] == int(spark.conf.get("spark.sql.shuffle.partitions"))


JOIN_FORMAT = "spark.sql.streaming.join.stateFormatVersion"


def _stage(src_dir, dst_dir, part, base_mtime):
    """Copy the ``part`` slice of a stream's parquet files into a stream
    dir, file i with mtime base + i, so the file source reads them in
    the same order in every run."""
    os.makedirs(dst_dir, exist_ok=True)
    names = sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    assert len(names) == 8
    for i in range(len(names))[part]:
        dst = os.path.join(dst_dir, names[i])
        shutil.copyfile(os.path.join(src_dir, names[i]), dst)
        os.utime(dst, (base_mtime + i, base_mtime + i))


def _two_part_run(spark, dataset, root, first_format=None):
    """Stage the first half of both streams and drain it, then stage the
    second half plus sentinels and drain that. Without ``first_format``
    one query drains both halves; with it, the first half runs under
    that join state format and the query restarts on the same
    checkpoint under the default. Returns (tables, state store count of
    the first and of the last query)."""
    aud, trs = os.path.join(root, "aud"), os.path.join(root, "trs")
    base = time.time() - 3600
    srcs = (dataset["audio"], dataset["transcripts"])
    for src, dst in zip(srcs, (aud, trs)):
        _stage(src, dst, slice(0, 4), base)

    def start():
        return pipeline.start_flagship(spark, aud, trs, os.path.join(root, "out"), files_per_trigger=4)

    def stores(q):
        return q.lastProgress["stateOperators"][0]["numStateStoreInstances"]

    if first_format:
        spark.conf.set(JOIN_FORMAT, first_format)
    try:
        q, _, t = start()
        q.processAllAvailable()
    finally:
        spark.conf.set(JOIN_FORMAT, SQL_DEFAULTS[JOIN_FORMAT])
    first = stores(q)
    if first_format:
        q.stop()
    for src, dst in zip(srcs, (aud, trs)):
        _stage(src, dst, slice(4, 8), base)
    flush_sentinels(spark, aud, trs)
    if first_format:
        q, _, t = start()
    q.processAllAvailable()
    q.stop()
    return t, first, stores(q)


def test_format2_checkpoint_resumes_under_default(spark, dataset):
    """A checkpoint started under join state format 2 (four stores per
    partition) resumes under the format-3 default: Spark reads the
    format from the offset log, so the resumed query keeps four stores
    per partition, and its output equals that of one query that never
    stopped, fed the same two halves."""
    root = os.path.join(TEST_ROOT, "format2_resume")
    shutil.rmtree(root, ignore_errors=True)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    resumed, first, last = _two_part_run(spark, dataset, os.path.join(root, "resumed"), "2")
    assert (first, last) == (4 * parts, 4 * parts)
    clean, first, last = _two_part_run(spark, dataset, os.path.join(root, "clean"))
    assert (first, last) == (parts, parts)

    cols = ["clip_id", "window_start", "codec", "n_samples", "transcript_norm"]
    r_df, c_df = (
        t["output"].read(spark).where(~F.col("clip_id").startswith("sentinel")).select(*cols)
        for t in (resumed, clean)
    )
    n = c_df.count()
    assert n > 0
    assert r_df.count() == n
    assert r_df.select("clip_id", "window_start").distinct().count() == n  # no dups
    assert r_df.exceptAll(c_df).count() == 0  # no extras
    assert c_df.exceptAll(r_df).count() == 0  # no losses
