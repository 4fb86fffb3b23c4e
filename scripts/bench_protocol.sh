#!/bin/sh
# Controlled bench protocol (round 16, VERDICT r15 Next #4): the r15
# driver bench flagged three >2x "regressions" that were ambient host
# drift (all 29 compared lines moved together, geomean 1.34x; this
# round measured the same HEAD 2.4x apart hours apart). Protocol:
#   - quiet host (no concurrent bench/verify/suite),
#   - TWO back-to-back full Bench runs,
#   - committed basis = per-query MIN of the two runs' medians
#     (min-of-runs rejects one-run load bursts; each run's median
#     already rejects per-iteration bursts via interleaving),
#   - host stanza (load average) recorded per run, both runs kept.
# Usage: scripts/bench_protocol.sh BENCH_LOCAL_r16.json
set -e
cd "$(dirname "$0")/.."
OUT="${1:-BENCH_LOCAL_rNN.json}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
sbt -batch "runMain graft.Bench" > /dev/null
cp target/bench_latest.json target/bench_run1.json
sbt -batch "runMain graft.Bench" > /dev/null
cp target/bench_latest.json target/bench_run2.json
python3 - "$OUT" <<'EOF'
import json, sys
r1 = json.load(open("target/bench_run1.json"))
r2 = json.load(open("target/bench_run2.json"))
qs = {n: min(r1["queries"][n], r2["queries"][n])
      for n in r1["queries"] if n in r2["queries"]}
spread = {n: {"min": min(r1["spread"][n]["min"], r2["spread"][n]["min"]),
              "max": max(r1["spread"][n]["max"], r2["spread"][n]["max"]),
              "med": qs[n]}
          for n in qs if n in r1.get("spread", {}) and n in r2.get("spread", {})}
out = {"metric": "total", "value": round(sum(qs.values()), 4), "unit": "sec",
       "basis": "min-of-2-run-medians", "queries": qs, "spread": spread,
       "iters": r1.get("iters"), "warmup_excluded": True, "interleaved": True,
       "host_run1": r1.get("host"), "host_run2": r2.get("host"),
       "sanity": r1.get("sanity"), "errors": r1.get("errors", []),
       "sf": r1.get("sf")}
json.dump(out, open(sys.argv[1], "w"))
print("wrote", sys.argv[1], "total", out["value"])
EOF
