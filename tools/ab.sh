#!/bin/bash
# Dedicated-JVM A/B timing for one or more queries (comma-separated).
# Usage: tools/ab.sh <queries> [runs=3] [cpus=nproc] [sf=/root/testdata/sf0.1]
# Prints the per-query best-of map from a fresh bench_details.json.
# Refuses to run when the jar is missing or older than any file under
# src/main (run `sbt package` after code changes).
# Driver memory: half of MemTotal clamped to 2-8g (as the tier-1 tests),
# or SPARK_DRIVER_MEM.
set -e
Q="$1"; RUNS="${2:-3}"; CPUS="${3:-$(nproc)}"; SF="${4:-/root/testdata/sf0.1}"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
JAR="${JAR:-$ROOT/target/scala-2.13/catabrapandasspark_2.13-0.1.0.jar}"
[ -f "$JAR" ] || { echo "ab.sh: no jar at $JAR (run sbt package)" >&2; exit 1; }
STALE=$(find "$ROOT/src/main" -type f -newer "$JAR" | head -1)
[ -z "$STALE" ] || { echo "ab.sh: $JAR is older than $STALE (run sbt package)" >&2; exit 1; }
WD=$(mktemp -d)
trap 'rm -rf "$WD"' EXIT
SPARK_GRAFT_MAX_LOAD="${MAXLOAD:-1.2}" SPARK_GRAFT_LOAD_WAIT="${LOADWAIT:-240}" \
SPARK_GRAFT_ONLY="$Q" SPARK_GRAFT_RUNS="$RUNS" SPARK_GRAFT_PROBE_RUNS=0 \
SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_SF_DIR="$SF" \
SPARK_GRAFT_DETAILS_OUT="$WD/details.json" SPARK_GRAFT_PREV=/dev/null \
/opt/spark/bin/spark-submit --driver-memory "$MEM" --class graft.Bench "$JAR" \
  > "$WD/stdout.log" 2> "$WD/stderr.log" || { tail -5 "$WD/stderr.log"; exit 1; }
python3 - "$WD/details.json" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
for k, v in sorted(d["queries"].items()):
    print(f"{k}: {v:.3f} s")
print("load_avg:", d.get("load_avg"), "cpus-visible nproc:", d.get("nproc"))
EOF
grep -h "pass" "$WD/stderr.log" | grep "\[bench\]" | tail -20 || true
