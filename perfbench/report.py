#!/usr/bin/env python3
"""Writes perfbench/results/<workload>.json: one untraced and one traced run
of each workload with the same seed, giving the end-to-end metrics, the
per-layer metrics, the tracing overhead (traced pass_s / untraced pass_s),
how the phases account for call and pass wall time, per-module self times
computed from the traced run's spans, and each call's first (cold) run.

    python3 perfbench/report.py [SEED [WORKLOAD ...]]   (from the repository root)
"""
import json
import os
import platform
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def self_times(res, tr):
    """Per module and phase, the median over timed passes of the summed
    self time: a phase span's duration minus the part of it covered by its
    job spans (the driver-side share of the phase), next to the job share
    itself. A job belongs to the phase whose tag it carries."""
    run.attribute(tr)
    jobs = {}
    for s in tr["spans"]:
        if s["kind"] in ("job", "bridge_job") and s["call"]:
            jobs.setdefault((s["call"], s["phase"]), []).append((s["start"], s["end"]))
    acc = {}
    for c in res["calls"]:
        if c["pass"] < 0 or not c["ok"]:
            continue
        for p in c["phases"]:
            child = run.union_s(jobs.get((str(c["id"]), p["name"]), []), p["start"], p["end"])
            dur = (p["end"] - p["start"]) / 1000.0
            key = (c["module"], p["name"])
            per_pass = acc.setdefault(key, {})
            tot = per_pass.setdefault(c["pass"], [0.0, 0.0])
            tot[0] += dur - child
            tot[1] += child
    out = {}
    for (mod, ph), per_pass in sorted(acc.items()):
        out.setdefault(mod, {})[ph] = {
            "self_s": statistics.median(v[0] for v in per_pass.values()),
            "jobs_s": statistics.median(v[1] for v in per_pass.values())}
    return out


def accounting(res):
    """Phase sum vs call wall for every timed call, and summed call walls
    vs pass wall for every pass (the harness's own time between calls)."""
    worst = max(abs(sum((p["end"] - p["start"]) for p in c["phases"]) - (c["end"] - c["start"]))
                for c in res["calls"] if c["ok"])
    shares = []
    for p in res["passes"]:
        calls = sum(run.wall_s(c) for c in res["calls"] if c["pass"] == p["pass"])
        shares.append(calls / ((p["end"] - p["start"]) / 1000.0))
    return {"max_abs_phase_sum_minus_call_wall_ms": worst,
            "call_walls_over_pass_wall": shares}


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    with open("BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]
    os.makedirs(os.path.join(run.HERE, "results"), exist_ok=True)
    for w in sys.argv[2:] or run.WORKLOADS:
        keep = os.path.join(run.BUILD, "report", w)
        shutil.rmtree(keep, ignore_errors=True)
        plain = run.measure(w, seed, seconds, 0)
        traced = run.measure(w, seed, seconds, 1, keep=keep)
        with open(os.path.join(keep, "result.json")) as fh:
            res = json.load(fh)
        with open(os.path.join(keep, "trace.json")) as fh:
            tr = json.load(fh)
        doc = {
            "workload": w, "seed": seed, "sf": run.SF, "cpus": res["cpus"],
            "host": f"{platform.machine()} {os.cpu_count()} cpus, {platform.system()}",
            "calls": run.WORKLOADS[w],
            "correct": plain["result"]["correct"] and traced["result"]["correct"],
            "end_to_end_untraced": plain["result"]["metrics"],
            "tail_percentile": plain["tail_percentile"],
            "passes": {"untraced": plain["passes"], "traced": traced["passes"]},
            "tracing_overhead_pass_s": traced["e2e"]["pass_s"] / plain["e2e"]["pass_s"],
            "per_layer_traced": traced["result"]["metrics"],
            "self_times_traced": self_times(res, tr),
            "setup_s_traced": res["setup_s"],
            "cold_first_call_s_traced": {c["name"]: run.wall_s(c) for c in res["warmup"]},
            "accounting_traced": accounting(res),
        }
        with open(os.path.join(run.HERE, "results", f"{w}.json"), "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        shutil.rmtree(keep, ignore_errors=True)
        print(f"{w}: overhead {doc['tracing_overhead_pass_s']:.3f}, correct {doc['correct']}")


if __name__ == "__main__":
    main()
