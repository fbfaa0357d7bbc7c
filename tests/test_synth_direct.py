"""write_streams_direct must be row-identical to write_clips +
split_streams. perfbench/gen.py builds the benchmark's streams the way
the fused path does (seeded synth_metadata plus per-clip waveforms, no
joined intermediate on disk; its replay_dirty layout is the one the
fused path writes), so its clips stand for the engine's fixture clips
through this equivalence."""

import os
import shutil

import pytest

from hydra_spark import synth
from tests.conftest import TEST_ROOT

ROOT = os.path.join(TEST_ROOT, "synth_direct")
N = 3000


def test_direct_stream_generation_matches_two_step(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    synth.write_clips(spark, f"{ROOT}/clips", N)
    synth.split_streams(spark, f"{ROOT}/clips", f"{ROOT}/aud2", f"{ROOT}/tr2", files=8)
    synth.write_streams_direct(spark, f"{ROOT}/aud1", f"{ROOT}/tr1", N, files=8)

    for a, b in [(f"{ROOT}/aud1", f"{ROOT}/aud2"), (f"{ROOT}/tr1", f"{ROOT}/tr2")]:
        d1, d2 = spark.read.parquet(a), spark.read.parquet(b)
        assert d1.schema == d2.schema
        assert d1.count() == d2.count() > 0
        assert d1.exceptAll(d2).count() == 0
        assert d2.exceptAll(d1).count() == 0
    shutil.rmtree(ROOT, ignore_errors=True)


def test_dataset_disk_preflight(monkeypatch, tmp_path):
    """ensure_dataset refuses to start a write that would leave less than
    its 5 GiB floor free, and a root with cached streams needs no disk."""
    import os
    import shutil
    from collections import namedtuple

    root = str(tmp_path)
    n = 2000
    # two-step footprint: the joined clips table plus the audio stream
    need = 2 * n * synth.BYTES_PER_CLIP
    assert synth.dataset_bytes_needed(root, n) == need

    calls = []
    for name in ("write_clips", "split_streams"):
        monkeypatch.setattr(synth, name, lambda *a, name=name, **k: calls.append(name))
    usage = namedtuple("usage", "total used free")
    free = need + 5 * 2**30 - 1
    monkeypatch.setattr(shutil, "disk_usage", lambda path: usage(0, 0, free))

    with pytest.raises(RuntimeError, match="5 GiB"):
        synth.ensure_dataset(None, root, n=n)
    assert calls == [] and os.listdir(root) == []

    free += 1
    synth.ensure_dataset(None, root, n=n)
    assert calls == ["write_clips", "split_streams"]

    tr = os.path.join(root, f"transcripts_n{n}")
    os.makedirs(tr)
    open(os.path.join(tr, "_SUCCESS"), "w").close()
    assert synth.dataset_bytes_needed(root, n) == 0
    free = 0
    assert synth.ensure_dataset(None, root, n=n)["transcripts"] == tr
    assert calls == ["write_clips", "split_streams"]
