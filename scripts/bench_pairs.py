#!/usr/bin/env python3
"""Interleaved A/B pairs of the repository benchmark in two checkouts.

    python3 scripts/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N

Runs `perfbench/run.py --workload W --seed S --seconds T --trace 0` in
PARENT_DIR and in CHANGE_DIR, with T the `run_seconds` of CHANGE_DIR's
BENCHMARK.json, one pair per seed S = 1..N, alternating
which checkout runs first so slow drift in host load lands on both
sides. Each checkout builds its own program on its first run. Prints,
per end-to-end metric, the parent's and the change's median, the
median of the per-pair ratios change/parent (below 1 is lower for the
change), the number of pairs in which the change is lower, and the
spread between the parent's quartiles, then one JSON line with the same
numbers and every run's metrics. A pair whose either run fails or mismatches its oracle is
reported and left out of the ratios.

Run it with PARENT_DIR a copy of the parent commit (`git archive`) and
CHANGE_DIR the working tree; a null pair (the parent against a second
copy of itself) sizes the noise a real pair has to clear.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(r.stderr[-2000:])
        return None
    out = json.loads(lines[-1])
    out["exit"] = r.returncode
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    names = [m["name"] for m in bench["end_to_end"]]
    sides = {"parent": a.parent, "change": a.change}
    runs = []
    for i in range(a.pairs):
        seed = i + 1
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed}
        for side in order:
            pair[side] = run(sides[side], a.workload, seed, seconds)
        ok = all(pair[s] is not None and pair[s]["exit"] == 0 and pair[s]["correct"]
                 for s in sides)
        pair["ok"] = ok
        runs.append(pair)
        p50 = {s: pair[s]["metrics"]["latency_p50_s"]["value"]
               for s in sides if pair[s] is not None and "latency_p50_s" in pair[s]["metrics"]}
        print(f"pair {seed} ({'/'.join(order)}): ok={ok} latency_p50_s {p50}",
              file=sys.stderr, flush=True)
    good = [p for p in runs if p["ok"]]
    summary = {}
    print(f"{a.workload}: {len(good)}/{len(runs)} pairs ok")
    print(f"{'metric':<16}{'parent':>12}{'change':>12}{'ratio':>9}"
          f"{'lower':>7}{'parent_iqr':>12}")
    for m in names:
        vals = [(p["parent"]["metrics"][m]["value"], p["change"]["metrics"][m]["value"])
                for p in good if m in p["parent"]["metrics"] and m in p["change"]["metrics"]]
        if not vals:
            continue
        med_p = statistics.median(v[0] for v in vals)
        med_c = statistics.median(v[1] for v in vals)
        ratios = [c / p for p, c in vals if p]
        ratio = statistics.median(ratios) if ratios else None
        q = statistics.quantiles([v[0] for v in vals], n=4) if len(vals) > 1 else None
        iqr = q[2] - q[0] if q else None
        lower = sum(c < p for p, c in vals)
        summary[m] = {"parent": med_p, "change": med_c, "ratio": ratio,
                      "change_lower_pairs": lower, "parent_iqr": iqr}
        print(f"{m:<16}{med_p:>12.4g}{med_c:>12.4g}"
              f"{(f'{ratio:.3f}' if ratio is not None else '-'):>9}"
              f"{f'{lower}/{len(vals)}':>7}"
              f"{(f'{iqr:.4g}' if iqr is not None else '-'):>12}")
    print(json.dumps({"workload": a.workload, "pairs": len(runs), "ok_pairs": len(good),
                      "summary": summary, "runs": runs}))
    sys.exit(0 if len(good) == len(runs) else 1)


if __name__ == "__main__":
    main()
