#!/usr/bin/env bash
# Order-interleaved A/B adjudication of ONE query: HEAD vs a named ref,
# both built once, run alternately on the SAME boot so ambient host
# drift (hypervisor steal, page cache, co-residents) hits both sides
# symmetrically. This is the committed form of the protocol that
# settled r16's q204 (three interleaved QBench pairs: means 2.36 vs
# 2.34, statistically flat — the apparent +72% vs the r15 artifact was
# a different boot) — previously done by hand and unreproducible by
# command.
#
# Usage: scripts/ab_bench.sh <ref> <query> [pairs=3] [sfdir=/root/testdata/sf0.1] [iters=7]
#
# Both sides are built the same way: each is a `git archive` copy of
# its commit (A = HEAD's committed tree, B = <ref>) extracted into its
# own fresh directory under one temp directory, compiled there and run
# from there. Neither side runs from the working checkout, so local
# edits, build leftovers and the checkout's location cannot favour one
# side; a run that started in a different checkout once moved a
# benchmark metric by 11% with no code change. Commit the change before
# measuring it. The temp directory is removed on exit.
#
# Each side of each pair is a FRESH-SESSION graft.tools.QBench run
# (median of `iters`, per-iteration wall/GC/steal attribution inside).
# Pair order alternates A-B, B-A, A-B, ... so slow host drift cannot
# masquerade as a side effect. Emits ONE JSONL line to BENCH_AB.json:
#   {"ab":<query>, "a":<head sha>, "b":<ref sha>, "a_medians":[...],
#    "b_medians":[...], "a_median":…, "b_median":…, "ratio":…,
#    "steal_sec":…, "wall_sec":…, "pairs":…, "iters":…, "sf":…}
# Read: ratio ≈ 1 → no code delta; ratio far from 1 WITH low steal_sec
# → real regression, bisect; high steal_sec → discard, re-run idle.
#
# ADJUDICATION BAR (when to spend an A/B run at all): a committed-
# artifact row earns adjudication only when it moves >25% round-over-
# round in the CLEAN battery run AND >0.5 s absolute. Below that it is
# session noise — r17's clean run moved ~15 sub-second rows ±20-35% in
# BOTH directions with zero code delta (q165 +50%, q206 −44%), so
# round-over-round deltas under ~0.5 s absolute are beneath the
# measurement floor of this harness and must not consume A/B time.
set -euo pipefail
REF="${1:?usage: ab_bench.sh <ref> <query> [pairs] [sfdir] [iters]}"
QUERY="${2:?usage: ab_bench.sh <ref> <query> [pairs] [sfdir] [iters]}"
PAIRS="${3:-3}"
SFDIR="${4:-/root/testdata/sf0.1}"
ITERS="${5:-7}"
cd "$(dirname "$0")/.."
A_SHA=$(git rev-parse --short HEAD)
B_SHA=$(git rev-parse --short "$REF")
TMP=$(mktemp -d "${TMPDIR:-/tmp}/ab_bench.XXXXXX")
trap 'rm -rf "$TMP"' EXIT
for side in a b; do
  sha=$A_SHA; [ "$side" = b ] && sha=$B_SHA
  mkdir -p "$TMP/$side"
  git archive "$sha" | tar -x -C "$TMP/$side"
done
echo "== ab_bench: building A=HEAD($A_SHA) and B=$REF($B_SHA) under $TMP =="
for side in a b; do
  (cd "$TMP/$side" && sbt -batch compile >"$TMP/build_$side.log" 2>&1) ||
    { tail -20 "$TMP/build_$side.log"; exit 1; }
done

# Same JDK-17 module opens the build forks with (QBench makes an
# in-process SparkSession; spark-submit would inject these itself).
ADD_OPENS=""
for m in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$m=ALL-UNNAMED"
done

# SPARK_DRIVER_MEM, else min(32g, half of physical memory) — build.sbt's rule
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {m = int($2 / 2048); print (m > 32768 ? 32768 : m) "m"}' /proc/meminfo)}

run_one() {  # $1 = tree dir → prints the QBench median (seconds)
  ( cd "$1" && SPARK_GRAFT_SF_DIR="$SFDIR" \
    java $ADD_OPENS "-Xmx$HEAP" \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
      graft.tools.QBench "$QUERY" "$ITERS" 2>/dev/null ) \
    | grep '^QBENCH' | tail -1 | sed -E 's/.*"median":([0-9.]+).*/\1/'
}
steal() { awk '/^cpu /{print $9; exit}' /proc/stat 2>/dev/null || echo 0; }

S0=$(steal); T0=$(date +%s)
A_RUNS=(); B_RUNS=()
for p in $(seq 1 "$PAIRS"); do
  if [ $((p % 2)) -eq 1 ]; then
    a=$(run_one "$TMP/a"); b=$(run_one "$TMP/b")
  else
    b=$(run_one "$TMP/b"); a=$(run_one "$TMP/a")
  fi
  A_RUNS+=("$a"); B_RUNS+=("$b")
  echo "pair $p: A($A_SHA)=$a  B($B_SHA)=$b"
done
S1=$(steal); T1=$(date +%s)

python3 - "$QUERY" "$A_SHA" "$B_SHA" "$PAIRS" "$ITERS" "$SFDIR" \
  "$(( (S1 - S0) ))" "$(( T1 - T0 ))" \
  "${A_RUNS[*]}" "${B_RUNS[*]}" <<'PY'
import json, statistics, sys
q, a_sha, b_sha, pairs, iters, sf, steal_j, wall = sys.argv[1:9]
a = [float(x) for x in sys.argv[9].split()]
b = [float(x) for x in sys.argv[10].split()]
line = {
    "ab": q, "a": a_sha, "b": b_sha,
    "a_medians": a, "b_medians": b,
    "a_median": round(statistics.median(a), 3),
    "b_median": round(statistics.median(b), 3),
    "ratio": round(statistics.median(a) / statistics.median(b), 3),
    "steal_sec": round(int(steal_j) / 100.0, 1),
    "wall_sec": int(wall), "pairs": int(pairs), "iters": int(iters),
    "sf": sf,
}
print(json.dumps(line))
with open("BENCH_AB.json", "a") as f:
    f.write(json.dumps(line) + "\n")
PY
echo "== ab_bench: appended to BENCH_AB.json =="
