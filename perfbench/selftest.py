#!/usr/bin/env python3
"""Self-test of the benchmark (about seven minutes on four cores):

  1. every metric BENCHMARK.json names is emitted, with its unit, by an
     untraced and a traced run of each workload;
  2. exact counts (every *.exchanges, bridge.eager_jobs, io.bytes_written,
     spark.jobs) repeat exactly across two traced runs with the same seed;
  3. a doll, a copy of one run's outputs with one row of one output
     perturbed, is caught by the output check and counted as failed.

    python3 perfbench/selftest.py      (from the repository root)
"""
import glob
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SEED = 7
EXACT = ("exchanges", "bridge.eager_jobs", "io.bytes_written", "spark.jobs")


def perturb_one_row(out_dir):
    """Change the first value of the first numeric or string column of the
    first non-empty part file under out_dir."""
    for f in sorted(glob.glob(f"{out_dir}/*.parquet")):
        t = pq.read_table(f)
        if t.num_rows == 0:
            continue
        for i, field in enumerate(t.schema):
            vals = t.column(i).to_pylist()
            if pa.types.is_integer(field.type) or pa.types.is_floating(field.type):
                vals[0] = (vals[0] or 0) + 1
            elif pa.types.is_string(field.type):
                vals[0] = (vals[0] or "") + "~"
            else:
                continue
            t = t.set_column(i, field, pa.array(vals, field.type))
            pq.write_table(t, f)
            return
    raise AssertionError(f"nothing to perturb under {out_dir}")


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    problems = []

    def expect(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg)
        if not cond:
            problems.append(msg)

    def has_all(summary, declared, what):
        got = summary["result"]["metrics"]
        for m in declared:
            v = got.get(m["name"])
            expect(v is not None and v["unit"] == m["unit"],
                   f"{summary['workload']}: {what} metric {m['name']} [{m['unit']}] emitted")
        expect(set(got) == {m["name"] for m in declared},
               f"{summary['workload']}: no {what} metric beyond BENCHMARK.json")

    keep = os.path.join(run.BUILD, "selftest")
    shutil.rmtree(keep, ignore_errors=True)
    for w in spec["workloads"]:
        name = w["name"]
        untraced = run.measure(name, SEED, 1, 0)
        has_all(untraced, spec["end_to_end"], "end-to-end")
        expect(untraced["result"]["correct"], f"{name}: untraced run correct")
        a = run.measure(name, SEED, 1, 1, keep=os.path.join(keep, name))
        b = run.measure(name, SEED, 1, 1)
        has_all(a, spec["per_layer"], "per-layer")
        for m, va in a["result"]["metrics"].items():
            if m.endswith(EXACT[0]) or m in EXACT[1:]:
                vb = b["result"]["metrics"][m]["value"]
                expect(va["value"] == vb, f"{name}: {m} repeats exactly ({va['value']} vs {vb})")

    # the doll: one perturbed row in one output must be caught
    name = spec["workloads"][0]["name"]
    doll = os.path.join(keep, name)
    victim = run.WORKLOADS[name][0].split(":")[0]
    perturb_one_row(os.path.join(doll, "outputs", victim))
    s = run.score(name, doll, run.inputs(SEED, run.SF), 1)
    expect(victim in s["wrong_outputs"], f"doll: perturbed {victim} output is caught")
    expect(not s["result"]["correct"] and s["error_rate"] > 0,
           f"doll: counted in error_rate ({s['error_rate']:.3f}) and correct is false")
    shutil.rmtree(keep, ignore_errors=True)
    print(f"\n{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
