"""Workload definitions and fixed benchmark parameters.

Everything a run depends on besides ``--seed`` and ``--seconds`` lives
here, so two commits measured with the same benchmark code see the same
inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

# Malformed-payload and duplicate shares of the dirty workload, as
# fractions of the clip count (rounded up, so each kind is present).
DIRTY_SHARES = {
    "bad_codec": 0.005,  # codec "corrupt": decode reject
    "odd_pcm": 0.005,  # pcm16 payload of odd length: decode reject
    "oversize": 0.001,  # payload > MAX_BYTES: admission reject
    "ts_nonpos": 0.005,  # event_time <= epoch: admission reject
    "duplicate": 0.03,  # clean clip delivered again in the next file
}

# the engine's default admission size limit (pipeline.start_flagship)
MAX_BYTES = 4_000_000

# Estimated seed-commit wall time of one micro-batch at local[4]; the
# backlog holds 1 + max(MIN_BATCHES, seconds // BATCH_S_EST) file pairs:
# batch 0 is set-up, the rest and the watermark-flush tick are measured.
# One run costs ~25-45 s of set-up on top, and a full comparison
# (4 + 22 x 2 runs) has to fit in 3420 s, so runs measure few batches.
BATCH_S_EST = 5

# measured data batches, at the least: the join drops rows late against
# the watermark of two batches back, so batch 2 is the first of the dirty
# workload that can lose clips; a run over one measured batch also spread
# twice as wide as one over two
MIN_BATCHES = 2

# files_per_trigger handed to the runner: one file pair per micro-batch
FILES_PER_TRIGGER = 1

# far-future sentinel appended to the last file pair: it moves the
# watermark past every real clip, so the watermark-flush tick emits the
# left-outer join's pending rows (a live stream's later traffic does this)
SENTINEL_PREFIX = "sentinel-"
SENTINEL_TS_US = 1_735_776_000_000_000  # 2025-01-02T00:00:00Z

# transcript delay bands (share, seconds) — the synth fixture's mix: most
# transcripts arrive with their clip, 5% late but inside the join
# interval, 1% beyond it
LATE_SHARE, LATE_MAX_S = 0.05, 45
VERY_LATE_SHARE, VERY_LATE_S = 0.01, 90

# free disk the generator leaves untouched beyond its own estimate
DISK_FLOOR_BYTES = 2 * 2**30


@dataclass(frozen=True)
class Workload:
    name: str
    clips_per_file: int
    partitions: int  # ingest partitions of synth.synth_metadata
    # False: file k is the k-th event-time slice, clean payloads.
    # True: every file spans the event-time range (the layout
    # synth.write_streams_direct writes), plus DIRTY_SHARES faults.
    dirty: bool
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="replay_ordered",
            clips_per_file=200,
            partitions=32,
            dirty=False,
            why=(
                "clean backlog in time-ordered append layout: decode and join do "
                "the work, nothing is late; the traced run adds the local[1] baseline"
            ),
        ),
        Workload(
            name="replay_dirty",
            clips_per_file=200,
            # 8 partitions: 600 clips span ~120 s of event time, well past
            # the 60 s watermark delay (32 partitions would need 2,400
            # clips for that, too many micro-batch seconds for one run)
            partitions=8,
            dirty=True,
            why=(
                "every file spans the event-time range (8 ingest partitions, ~120 s), "
                "plus malformed payloads and duplicates: late drop, quarantine and "
                "dedup paths do real work"
            ),
        ),
    )
}


def n_files(workload: Workload, seconds: int) -> int:
    """File pairs in a workload's backlog for a ``--seconds`` budget."""
    return 1 + max(MIN_BATCHES, seconds // BATCH_S_EST)
