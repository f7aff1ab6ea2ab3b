#!/bin/bash
# Serialized measurement chain — run with NOTHING else on the box
# (timing artifacts are contention-sensitive; see BENCHNOTES.md).
#
# Usage: bash tools/measure_chain.sh
#
# The round N comes from bench._current_round (SPARK_GRAFT_ROUND
# overrides it), the same source bench.py uses for its
# BENCH_LOCAL_r<N>.json, so every output of one chain carries the same
# N: SCALE_r<N>.json in the repo and
# /tmp/{tier13_scale,plan_audit,bench}_r<N>.log.  The tables come
# from $SPARK_GRAFT_SF_DIR (bench.py's sf0.1 default when unset).
# SPARK_GRAFT_DRIVER_MEM=16g for the whole chain: 8g vs 16g measured
# identical (r12 bisect), and the 64x d28 SCALE fixture OOMs below 16g.
#
# A box-health PREFLIGHT runs before each timing stage.  BENCHNOTES
# documents sporadic multi-second kcompactd/khugepaged stalls (one e9
# pass hit 35.1 s on an idle VM); the probe times a fixed
# single-threaded copy+reduce workload 3x and blocks until the max/min
# spread is under 2.5x (10 attempts, 30 s apart), so a stalled window
# delays the chain instead of contaminating the recording.  bench.py
# additionally records its own pre/post probe inside the artifact
# (out["box_probe"]).
#
# Order: scaling artifact first (tools/tier13_scale.py), then plan
# audit (regenerates PLANS.md, exits 1 on an anti-pattern), then bench
# (BENCH_LOCAL_r<N>.json).
set -x
cd "$(dirname "$0")/.."
export SPARK_GRAFT_DRIVER_MEM=16g
sf_dir="$(python -c 'import bench; print(bench.SF_DIR)')"
round="$(python -c 'import bench; print(f"{bench._current_round():02d}")')"

preflight () {
  python - <<'PY'
import json, sys, time
from bench import box_probe
for attempt in range(10):
    p = box_probe()
    print(json.dumps({"preflight_attempt": attempt, **p}), flush=True)
    if p["spread"] < 2.5:
        sys.exit(0)
    time.sleep(30)
print("preflight: box still unstable after 10 attempts — proceeding, "
      "artifact flagged by its own embedded probe", flush=True)
PY
}

preflight
python tools/tier13_scale.py "$sf_dir" "SCALE_r$round.json" > "/tmp/tier13_scale_r$round.log" 2>&1
echo "tier13 exit: $?"
python tools/plan_audit.py "$sf_dir" > "/tmp/plan_audit_r$round.log" 2>&1
echo "plan_audit exit: $?"
preflight
python bench.py > "/tmp/bench_r$round.log" 2>&1
echo "bench exit: $?"
