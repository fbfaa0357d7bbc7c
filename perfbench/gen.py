"""Seeded input generator and cache for the benchmark workloads.

Rows come from the engine's own fixture code: ``synth.synth_metadata``
for the scalar columns and ``audio.waveform`` / ``audio.encode`` for the
payloads, so a generated clip is the clip the engine tests use. Only the
file layout, the transcript delays and the injected faults are the
benchmark's own.

Outputs of one (workload, seed, file count) live under
``<cache>/inputs/<key>/``:

  audio/part-NNNNN.parquet        the clip stream, one file per batch
  transcripts/part-NNNNN.parquet  the transcript stream, same file count
  expected.parquet                one row per unique clip: its kind,
                                  expected transcript and reference
                                  decode features
  _DONE                           written last; a directory without it
                                  is a crashed generation and is redone

File modification times increase with the file index, so the engine's
file source (oldest first) reads them in layout order.
"""

from __future__ import annotations

import math
import multiprocessing as mp
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import config

AUDIO_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("ingest_partition", pa.int32()),
        ("ingest_offset", pa.int64()),
        ("event_time", pa.timestamp("us", tz="UTC")),
    ]
)
TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("transcript", pa.string()),
        ("event_time", pa.timestamp("us", tz="UTC")),
    ]
)

# average parquet bytes per clip, for the disk preflight
BYTES_PER_CLIP = 48_000


def input_key(workload: config.Workload, seed: int, files: int) -> str:
    return f"{workload.name}-s{seed}-f{files}"


def preflight(cache_root: str, need_bytes: int) -> None:
    """Refuse to start when the disk cannot hold the new inputs plus the
    floor. Never frees space outside the benchmark's own cache."""
    os.makedirs(cache_root, exist_ok=True)
    free = shutil.disk_usage(cache_root).free
    if free < need_bytes + config.DISK_FLOOR_BYTES:
        raise SystemExit(
            f"perfbench: needs {need_bytes / 2**20:.0f} MiB plus a "
            f"{config.DISK_FLOOR_BYTES / 2**30:.0f} GiB floor, only "
            f"{free / 2**20:.0f} MiB free under {cache_root}"
        )


def ensure_inputs(cache_root: str, workload: config.Workload, seed: int, files: int) -> str:
    """Return the input directory for (workload, seed, files), generating
    it if absent. Other cached seeds of the same workload are removed
    first, so the cache holds one input set per workload."""
    inputs = os.path.join(cache_root, "inputs")
    key = input_key(workload, seed, files)
    root = os.path.join(inputs, key)
    if os.path.exists(os.path.join(root, "_DONE")):
        return root
    if os.path.isdir(inputs):
        for d in os.listdir(inputs):
            if d.startswith(workload.name + "-") and d != key:
                shutil.rmtree(os.path.join(inputs, d))
    shutil.rmtree(root, ignore_errors=True)
    n = files * workload.clips_per_file
    preflight(cache_root, n * BYTES_PER_CLIP)
    write_inputs(root, workload, seed, files)
    with open(os.path.join(root, "_DONE"), "w") as f:
        f.write(key)
    return root


def _fault_counts(n: int, shares: dict) -> dict:
    return {k: math.ceil(n * s) for k, s in shares.items()}


def reference_features(buf: bytes, codec: str, x_ref: np.ndarray):
    """(n_samples, rms_db, peak, snr_db) of the per-row numpy decode —
    the same float64 arithmetic as synth.write_clip_features."""
    from hydra_spark import audio

    x = audio.decode(buf, codec)
    n = len(x)
    p = float(np.sum(np.square(x, dtype=np.float64))) / n
    rms = 10.0 * np.log10(p) if p > 0 else float("-inf")
    return n, rms, float(np.max(np.abs(x))), audio.snr_db(x_ref, x)


def _encode_chunk(seed: int, rows: list[tuple]) -> list[tuple[bytes, tuple]]:
    """Payload and reference features for (i, sr_hz, dur_ms, codec) rows."""
    from hydra_spark import audio

    out = []
    for i, sr, dur, codec in rows:
        x = audio.waveform(int(i), int(sr), int(dur), seed)
        buf = audio.encode(x, str(codec))
        out.append((buf, reference_features(buf, str(codec), x)))
    return out


def build_rows(workload: config.Workload, seed: int, files: int):
    """Generate (audio_df, transcripts_df, expected_df) in memory.

    audio_df / transcripts_df carry a ``file`` column with the output
    file index; expected_df has one row per unique clip."""
    from hydra_spark import synth

    n = files * workload.clips_per_file
    meta = synth.synth_metadata(n, seed=seed, n_partitions=workload.partitions)
    rng = np.random.default_rng([seed, 7919])

    rows = list(zip(meta["_i"].tolist(), meta["sr_hz"].tolist(), meta["dur_ms"].tolist(), meta["codec"].tolist()))
    chunks = [rows[k : k + 256] for k in range(0, n, 256)]
    ctx = mp.get_context("spawn")
    with ProcessPoolExecutor(max_workers=min(4, len(os.sched_getaffinity(0))), mp_context=ctx) as pool:
        done = list(pool.map(_encode_chunk, [seed] * len(chunks), chunks))
    payloads = [b for part in done for b, _ in part]
    feats = [f for part in done for _, f in part]
    feats = np.array(feats, dtype=np.float64)
    et_us = meta["event_time"].values.astype("datetime64[us]").astype(np.int64)

    # transcript delays: the fixture's bands, drawn from the seed
    u = rng.random(n)
    delay = np.where(
        u < config.VERY_LATE_SHARE,
        config.VERY_LATE_S + rng.integers(0, 30, n),
        np.where(u < config.VERY_LATE_SHARE + config.LATE_SHARE, rng.integers(1, config.LATE_MAX_S + 1, n), 0),
    )
    aud = pd.DataFrame(
        {
            "clip_id": meta["clip_id"],
            "bytes": payloads,
            "sr_hz": meta["sr_hz"].astype(np.int32),
            "dur_ms": meta["dur_ms"].astype(np.int32),
            "codec": meta["codec"].astype(str),
            "ingest_partition": meta["ingest_partition"].astype(np.int32),
            "ingest_offset": meta["ingest_offset"].astype(np.int64),
            "event_time": et_us,
        }
    )
    exp = pd.DataFrame(
        {
            "clip_id": meta["clip_id"],
            "kind": "ok",
            "event_time": et_us,
            "transcript": meta["transcript"],
            "delay_s": delay,
            "n_samples": feats[:, 0].astype(np.int64),
            "rms_db": feats[:, 1],
            "peak": feats[:, 2],
            "snr_db": feats[:, 3],
        }
    )

    if workload.dirty:
        counts = _fault_counts(n, config.DIRTY_SHARES)
        order = rng.permutation(n)
        pcm = order[aud["codec"].values[order] == "pcm16"]
        odd = pcm[: counts["odd_pcm"]]
        rest = np.setdiff1d(order, odd, assume_unique=True)
        rest = rest[rng.permutation(len(rest))]
        cut = np.cumsum([counts["bad_codec"], counts["oversize"], counts["ts_nonpos"]])
        bad_codec, oversize, ts_nonpos = rest[: cut[0]], rest[cut[0] : cut[1]], rest[cut[1] : cut[2]]
        for idx in odd:
            aud.at[idx, "bytes"] = aud.at[idx, "bytes"] + b"\x00"
        aud.loc[bad_codec, "codec"] = "corrupt"
        for idx in oversize:
            aud.at[idx, "bytes"] = bytes(config.MAX_BYTES + 1)
        aud.loc[ts_nonpos, "event_time"] = 0
        for kind, idx in (("odd_pcm", odd), ("bad_codec", bad_codec), ("oversize", oversize), ("ts_nonpos", ts_nonpos)):
            exp.loc[idx, "kind"] = kind

    tr = pd.DataFrame(
        {
            "clip_id": meta["clip_id"],
            "transcript": meta["transcript"],
            "event_time": et_us + delay.astype(np.int64) * 1_000_000,
        }
    )
    tr = tr[tr["transcript"].notna()].reset_index(drop=True)

    rank = np.empty(n, dtype=np.int64)  # event-time order of the clips
    rank[np.lexsort((meta["_i"].values, et_us))] = np.arange(n)
    if not workload.dirty:
        # contiguous event-time slices across all ingest partitions; a
        # transcript travels in its clip's file
        aud["file"] = rank * files // n
        tr["file"] = tr["clip_id"].map(dict(zip(aud["clip_id"], aud["file"]))).astype(np.int64)
    else:
        # every file spans the whole event-time range (the property of the
        # layout synth.write_streams_direct writes). Clips, transcripts and
        # each fault kind are dealt round-robin in event-time order, so
        # every file carries the same share of the range and of each
        # fault: the late and reject counts of a batch do not depend on
        # the seed's luck.
        aud["file"] = rank % files
        tr["file"] = np.argsort(np.argsort(tr["event_time"].values, kind="stable")) % files
        for idx in (odd, bad_codec, oversize, ts_nonpos):
            aud.loc[idx, "file"] = np.arange(len(idx)) % files
        # cross-batch duplicate deliveries of clean clips: the same row
        # again in the next file
        clean = np.nonzero((exp["kind"].values == "ok") & (aud["file"].values < files - 1))[0]
        dup = rng.choice(clean, size=min(counts["duplicate"], len(clean)), replace=False)
        d = aud.loc[dup].copy()
        d["file"] += 1
        aud = pd.concat([aud, d], ignore_index=True)

    # watermark-flush sentinel rides the last file pair
    sent = f"{config.SENTINEL_PREFIX}{seed}"
    aud = pd.concat(
        [
            aud,
            pd.DataFrame(
                [
                    {
                        "clip_id": sent, "bytes": b"\x00\x00", "sr_hz": 8000, "dur_ms": 200,
                        "codec": "pcm16", "ingest_partition": 0, "ingest_offset": 10**9,
                        "event_time": config.SENTINEL_TS_US, "file": files - 1,
                    }
                ]
            ),
        ],
        ignore_index=True,
    )
    tr = pd.concat(
        [
            tr,
            pd.DataFrame(
                [{"clip_id": sent, "transcript": "sentinel", "event_time": config.SENTINEL_TS_US, "file": files - 1}]
            ),
        ],
        ignore_index=True,
    )
    return aud, tr, exp


def write_inputs(root: str, workload: config.Workload, seed: int, files: int) -> None:
    aud, tr, exp = build_rows(workload, seed, files)
    adir, tdir = os.path.join(root, "audio"), os.path.join(root, "transcripts")
    os.makedirs(adir)
    os.makedirs(tdir)
    base = 1_600_000_000  # fixed mtimes: file source order = file index
    for k in range(files):
        a = aud[aud["file"] == k].drop(columns=["file"]).sort_values(["ingest_partition", "ingest_offset"])
        t = tr[tr["file"] == k].drop(columns=["file"])
        for df, schema, d in ((a, AUDIO_SCHEMA, adir), (t, TRANSCRIPT_SCHEMA, tdir)):
            path = os.path.join(d, f"part-{k:05d}.parquet")
            table = pa.Table.from_pandas(df.reset_index(drop=True), preserve_index=False).cast(schema)
            pq.write_table(table, path, compression="zstd")
            os.utime(path, (base + k, base + k))
    exp.to_parquet(os.path.join(root, "expected.parquet"), index=False)
