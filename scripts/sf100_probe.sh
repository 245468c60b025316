#!/bin/bash
# Decade-4 scaling probe: run the top-risk keys at sf10 and sf100
# (1 trial each, fresh JVM per key, serialized so the cores are never
# shared) and emit a TSV per scale for scripts/decade_report.py.
# Cores come from nproc and the heap is half of MemTotal (at least 2g),
# so the probe sizes itself to the machine it runs on.
#
# Usage: scripts/sf100_probe.sh <keys_csv> <sf10_dir> <sf100_dir> <out_prefix>
set -u
KEYS="$1"; SF10="$2"; SF100="$3"; PREFIX="$4"
IFS=',' read -ra KARR <<< "$KEYS"
CPUS="$(env -u OMP_NUM_THREADS nproc)"
XMX="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g) "g"}' /proc/meminfo)"

for SCALE in sf10 sf100; do
  if [ "$SCALE" = "sf10" ]; then DIR="$SF10"; TMO=900; else DIR="$SF100"; TMO=3600; fi
  OUT="${PREFIX}_${SCALE}.tsv"; : > "$OUT"
  for K in "${KARR[@]}"; do
    echo "[probe] $SCALE $K (local[$CPUS], -Xmx$XMX) ..." >&2
    scripts/bench_one.sh "$K" "$DIR" "$TMO" 1 "$CPUS" "$XMX" >> "$OUT"
    tail -1 "$OUT" >&2
  done
done
