#!/usr/bin/env bash
# Package the engine and run it via spark-submit --py-files — the
# north-rule submission mode. Usage:
#   tools/submit.sh <master> <audio_dir> <transcripts_dir> <out_root> [extra runner args...]
# e.g.
#   tools/submit.sh local[8]  .data/bench/clips_audio_n60000 .data/bench/transcripts_n60000 /tmp/run8  --bounded
#   tools/submit.sh local[32] ...                                                           /tmp/run32 --bounded
# On a real cluster, swap the master for yarn/k8s and size executors
# N vs 4N; nothing else changes. The engine's SQL defaults (shuffle
# partitions = default parallelism included) come from runner.py, which
# sets each one this command line leaves unset; add a --conf to override.
set -euo pipefail
cd "$(dirname "$0")/.."

MASTER="$1"; AUDIO="$2"; TRS="$3"; OUT="$4"; shift 4

ZIP=/tmp/hydra_spark_pkg.zip
rm -f "$ZIP"
zip -qr "$ZIP" hydra_spark -x '*__pycache__*'

# allocator tunables for the Python decode workers (see
# hydra_spark/session.py:_set_allocator_env) — exported for local mode,
# spark.executorEnv.* for cluster executors
export MALLOC_MMAP_THRESHOLD_=1073741824 MALLOC_TRIM_THRESHOLD_=1073741824
export MALLOC_TOP_PAD_=67108864 MALLOC_ARENA_MAX=2

# the driver heap cap get_spark uses
DRIVER_MEMORY="$(python3 -c 'from hydra_spark.session import DRIVER_MEMORY; print(DRIVER_MEMORY)')"

exec spark-submit \
  --master "$MASTER" \
  --conf spark.executorEnv.MALLOC_MMAP_THRESHOLD_=1073741824 \
  --conf spark.executorEnv.MALLOC_TRIM_THRESHOLD_=1073741824 \
  --conf spark.executorEnv.MALLOC_TOP_PAD_=67108864 \
  --conf spark.executorEnv.MALLOC_ARENA_MAX=2 \
  --py-files "$ZIP" \
  --conf spark.driver.memory="$DRIVER_MEMORY" \
  --conf spark.ui.enabled=false \
  hydra_spark/runner.py \
  --audio "$AUDIO" --transcripts "$TRS" --out "$OUT" "$@"
