"""Per-pass output check and loss accounting (runs after the timed region).

A wrong row fails the run. A clip that is in neither the output nor the
quarantine table is not an error: it is lost, and ``clips_lost_frac``
reports it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from perfbench import config

SNR_MIN_DB = 30.0  # BASELINE.json: decoded PCM allclose at SNR >= 30 dB
FEATURE_TOL = 1e-6
WINDOW_S = 10  # pipeline.WINDOW_SIZE
JOIN_HI_S = 60  # pipeline.JOIN_HI: a transcript later than this never joins

REASON_PREFIX = {
    "bad_codec": "DecodeError",
    "odd_pcm": "DecodeError",
    "oversize": "RecordTooLarge",
    "ts_nonpos": "InvalidLogicalType",
}


def _close(a: float, b: float) -> bool:
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= FEATURE_TOL


def loss(expected: pd.DataFrame, output: pd.DataFrame, quarantine: pd.DataFrame) -> dict:
    """Unique input clips, and those in neither output nor quarantine."""
    unique = set(expected["clip_id"])
    placed = (set(output["clip_id"]) | set(quarantine["clip_id"])) & unique
    lost = len(unique) - len(placed)
    return {"unique": len(unique), "lost": lost, "lost_frac": lost / len(unique)}


def check(
    expected: pd.DataFrame,
    output: pd.DataFrame,
    quarantine: pd.DataFrame,
    strict_transcripts: bool,
) -> list[str]:
    """Every wrong row, as one message each (empty list = correct).

    ``strict_transcripts``: the layout delivers each transcript in its
    clip's micro-batch, so a transcript inside the join interval must
    be joined, not merely absent-or-equal."""
    from hydra_spark import textnorm

    errors: list[str] = []
    output = output[~output["clip_id"].str.startswith(config.SENTINEL_PREFIX)]
    quarantine = quarantine[~quarantine["clip_id"].astype(str).str.startswith(config.SENTINEL_PREFIX)]
    exp = expected.set_index("clip_id")

    dup_keys = output.duplicated(["clip_id", "window_start"]).sum()
    if dup_keys:
        errors.append(f"{dup_keys} duplicate (clip_id, window_start) keys in output")
    dup_clips = output["clip_id"].duplicated().sum()
    if dup_clips:
        errors.append(f"{dup_clips} clips emitted more than once")

    for row in output.itertuples(index=False):
        cid = row.clip_id
        if cid not in exp.index:
            errors.append(f"{cid}: in output but never in the input")
            continue
        e = exp.loc[cid]
        if e["kind"] != "ok":
            errors.append(f"{cid}: {e['kind']} payload in output instead of quarantine")
            continue
        et_us = pd.Timestamp(row.event_time).value // 1000
        if et_us != e["event_time"]:
            errors.append(f"{cid}: event_time {row.event_time} differs from input")
        ws_us = pd.Timestamp(row.window_start).value // 1000
        if ws_us != (e["event_time"] // (WINDOW_S * 10**6)) * WINDOW_S * 10**6:
            errors.append(f"{cid}: window_start {row.window_start} is not the 10 s floor of event_time")
        if int(row.n_samples) != int(e["n_samples"]):
            errors.append(f"{cid}: n_samples {row.n_samples} != reference {e['n_samples']}")
        if not (_close(float(row.rms_db), float(e["rms_db"])) and _close(float(row.peak), float(e["peak"]))):
            errors.append(f"{cid}: rms_db/peak {row.rms_db}/{row.peak} != reference {e['rms_db']}/{e['peak']}")
        if not e["snr_db"] >= SNR_MIN_DB:
            errors.append(f"{cid}: decoded PCM SNR {e['snr_db']:.1f} dB < {SNR_MIN_DB} dB")
        want = e["transcript"]
        want = None if want is None or (isinstance(want, float) and np.isnan(want)) else want
        got = row.transcript if isinstance(row.transcript, str) else None
        joinable = want is not None and int(e["delay_s"]) <= JOIN_HI_S
        if got is not None and got != want:
            errors.append(f"{cid}: transcript {got!r} != input {want!r}")
        elif got is None and strict_transcripts and joinable:
            errors.append(f"{cid}: transcript inside the join interval was not joined")
        norm = row.transcript_norm if isinstance(row.transcript_norm, str) else None
        if norm != textnorm.normalize(got):
            errors.append(f"{cid}: transcript_norm {norm!r} != normalize({got!r})")

    for row in quarantine.itertuples(index=False):
        cid = row.clip_id
        if cid not in exp.index:
            errors.append(f"{cid}: in quarantine but never in the input")
            continue
        kind = exp.loc[cid, "kind"]
        if kind == "ok":
            errors.append(f"{cid}: valid clip quarantined ({row.reject_reason})")
        elif not str(row.reject_reason).startswith(REASON_PREFIX[kind]):
            errors.append(f"{cid}: {kind} quarantined as {row.reject_reason!r}")
    return errors
