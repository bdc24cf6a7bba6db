#!/usr/bin/env bash
# Checks the output digest of every declared query against
# perfbench/pins.json, without re-pinning: runs perfbench's batch workload
# (one cold and one warm execution per query) over all three tiers of
# perfbench/workloads.json, in chunks of 28 analytics, 16 corpus and 10
# iterative queries — the chunks the pins were taken with, each run well
# inside the harness's ~170 s limit on 4 cores. Exits non-zero if any run
# fails or reports failed > 0. Edits nothing under perfbench/.
#
# Usage: tools/pins_check.sh     (about 10 minutes on 4 cores)
# The harness's stderr goes to .bench_build/pins_check.log.
set -uo pipefail
cd "$(dirname "$0")/.."
mkdir -p .bench_build
log=.bench_build/pins_check.log
: > "$log"

chunks=$(python3 - <<'EOF'
import json
size = {"analytics": 28, "corpus": 16, "iterative": 10}
tiers = json.load(open("perfbench/workloads.json"))["tiers"]
for tier, qs in tiers.items():
    n = size[tier.split("_")[0]]
    for i in range(0, len(qs), n):
        print(",".join(qs[i:i + n]))
EOF
) || { echo "pins_check: cannot read perfbench/workloads.json" >&2; exit 2; }

status=0 matched=0 total=0
while IFS= read -r chunk; do
  n=$(tr ',' '\n' <<<"$chunk" | wc -l)
  total=$((total + n))
  result=$(python3 perfbench/run.py --workload batch_sf0.1 --queries "$chunk" \
    --seconds 0 --seed 1 --setups 1 2>>"$log" | tail -n 1)
  failed=$(python3 -c 'import json, sys; print(json.loads(sys.argv[1])["failed"])' \
    "$result" 2>/dev/null || echo "no result")
  if [ "$failed" = 0 ]; then
    matched=$((matched + n))
    echo "ok   $n queries (${chunk%%,*} ...)"
  else
    status=1
    echo "FAIL failed=$failed: $chunk"
  fi
done <<<"$chunks"
echo "pins_check: $matched/$total queries match pins.json (log: $log)"
exit $status
