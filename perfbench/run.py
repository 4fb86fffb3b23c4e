#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the program, makes
seeded inputs, times registry entries in one Spark JVM, checks every
output against its DuckDB oracle, and prints the metrics.

    python3 perfbench/run.py --workload vocab_scan --seed 1 --seconds 6 --trace 0

Run it from the repository root. The last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The exit code is 0 only
when every call succeeded, every output matched its oracle, and no Spark
job or stream was left running. See perfbench/README.md for what each
workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(".bench_build", "pb")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
TMP = ".bt"
SF = 0.001
MIN_PASSES = 3
JVM_TIMEOUT_S = 170

# Registry entries per workload, tagged "module" or "module.kind", where kind
# names the write a call performs while it is constructed; the time of its
# write commands counts in io.save_s or io.upsert_s. Why each workload
# exists: README.md.
WORKLOADS = {
    "vocab_scan": [
        "q01_pricing_summary:operators", "q02_select_revenue:core",
        "q05_join_inner:operators", "q78_asof_salted:operators",
        "q34_dedup_minhash:functions"],
    "stats_pinned": [
        "q233_quantiles_cont:analytics", "q331_pettitt:analytics",
        "q196_bfs_distances:functions"],
    "write_read": [
        "q112_save_load:io.save", "q113_loadtable_csv:io",
        "q216_stream_mv_rewrite:plans.upsert"],
}
OP_MODULES = ["core", "operators", "analytics", "functions"]
# a fixed heap and young generation keep the resident-set high-water mark
# from following the collector's sizing decisions
JVM_FLAGS = ["-Xms1536m", "-Xmx1536m", "-Xmn384m", "-Xss8m"]
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def tail_percentile(n_calls):
    """Highest of a fixed ladder of percentiles that keeps >= 10 samples
    beyond it at the guaranteed sample count (MIN_PASSES full passes), so
    the percentile never changes with how fast a run goes. A workload with
    fewer than 20 guaranteed samples has no such tail; it reports p50."""
    n = MIN_PASSES * n_calls
    return max([50] + [p for p in (75, 90, 95, 99) if n * (100 - p) / 100 >= 10])


# ---- build and inputs -----------------------------------------------------

def sources_digest():
    h = hashlib.sha256()
    for top in ("src/main/scala", os.path.join(HERE, "harness")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness, then record a class-data-sharing
    archive of the classes a run loads, unless the sources are unchanged
    since the last build in this checkout. The archive only shortens JVM
    start (class loading); the code that runs is the same."""
    if not os.path.isfile("src/main/scala/graft/SparkEntry.scala"):
        sys.exit("run.py: run from the repository root (src/main/scala/graft is missing)")
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"run.py: build failed ({r.returncode})")
    # one set-up over every workload's calls, dumping the archive at exit
    run_dir = os.path.abspath(os.path.join(BUILD, "archive-run"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run_jvm([c for cs in WORKLOADS.values() for c in cs], 0, 0, 0, inputs(0, SF), run_dir,
                min_passes=0,
                flags=[f"-XX:ArchiveClassesAtExit={os.path.abspath(ARCHIVE)}"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)


def inputs(seed, sf):
    d = os.path.abspath(os.path.join(BUILD, "data", f"sf{sf}-seed{seed}"))
    if not os.path.isfile(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, seed, sf)
        open(os.path.join(d, "DONE"), "w").close()
    return d


# ---- the JVM run ----------------------------------------------------------

def run_jvm(calls, seed, seconds, trace, data, run_dir,
            min_passes=MIN_PASSES, flags=None):
    # The Spark local and warehouse dirs and Derby live in the run directory,
    # which measure() removes at exit; java.io.tmpdir is TMP, emptied before
    # and removed after the JVM. TMP's path is kept short: q200/q216 decide
    # `rewritten` by searching the executed plan's string for the rollup
    # path, and Spark cuts scan locations in that string at 100 characters,
    # so under a long temp path the rewrite reads as not fired.
    scratch = run_dir
    for sub in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(scratch, sub))
    tmp = os.path.abspath(TMP)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={os.path.abspath(ARCHIVE)}"]
    cp = os.pathsep.join([os.path.join(BUILD, "perfbench.jar"),
                          os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = (["java"] + JVM_FLAGS + flags + [
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(scratch, 'derby')}"]
           + JDK17_OPENS + ["-cp", cp, "perfbench.Harness",
           "--calls", ",".join(calls), "--data", data,
           "--out", run_dir, "--scratch", scratch, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--min-passes", str(min_passes),
           "--cpus", str(os.cpu_count())])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    log = os.path.join(run_dir, "jvm.log")
    try:
        with open(log, "w") as fh:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                               timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"harness JVM exited with {r.returncode}")


# ---- output check ---------------------------------------------------------

def check_outputs(run_dir, data):
    """Compare each call's output with its oracle SQL in DuckDB, normalised
    as scripts/localverify.py does. Returns ({name: error}, {name: rows})."""
    import duckdb
    sys.path.insert(0, "scripts")
    from localverify import TABLES, rows_of

    def cat(t):
        t = t.upper()
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            return "int"
        return "float" if t in ("FLOAT", "DOUBLE") else t

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(run_dir, "oracle.json")) as fh:
        oracle = json.load(fh)
    bad, rows = {}, {}
    for name, sql in oracle.items():
        out = os.path.join(run_dir, "outputs", name)
        try:
            scols, srows, stypes, _ = rows_of(con.sql(f"SELECT * FROM '{out}/*.parquet'"))
            ocols, orows, otypes, _ = rows_of(con.sql(sql))
        except Exception as e:  # a missing or unreadable output is wrong too
            bad[name] = str(e).splitlines()[0]
            continue
        rows[name] = len(srows)
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            bad[name] = f"columns {scols} vs {ocols}"
        elif [cat(a) for a in stypes] != [cat(b) for b in otypes]:
            bad[name] = f"types {stypes} vs {otypes}"
        elif srows != orows:
            bad[name] = f"{len(srows)} vs {len(orows)} rows differ"
    return bad, rows, con


def rewritten_share(run_dir, names, con):
    """Of the MV-eligible reads (the plans-tagged calls), the share whose
    executed plan scanned the rollup, as each reports in `rewritten`."""
    if not names:
        return 0.0
    hits = 0
    for n in names:
        out = os.path.join(run_dir, "outputs", n)
        try:
            hits += con.sql(f"SELECT bool_and(rewritten) FROM '{out}/*.parquet'").fetchone()[0] is True
        except Exception:
            pass
    return hits / len(names)


# ---- metrics --------------------------------------------------------------

def med(xs):
    return statistics.median(xs) if xs else 0.0


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] (ms) covered by the union of the intervals."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def phase_s(call, name):
    for p in call["phases"]:
        if p["name"] == name:
            return (p["end"] - p["start"]) / 1000.0
    return 0.0


def wall_s(call):
    return (call["end"] - call["start"]) / 1000.0


def end_to_end(res, n_calls, failed, attempted, floor_bytes):
    walls = sorted(wall_s(c) for c in res["calls"] if c["ok"])
    p = tail_percentile(n_calls)
    tail = statistics.quantiles(walls, n=100, method="inclusive")[p - 1] if len(walls) > 1 else 0.0
    passes = res["passes"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (med([(x["end"] - x["start"]) / 1000.0 for x in passes]), "s"),
        "latency_p50_s": (med(walls), "s"),
        "latency_tail_s": (tail, "s"),
        "success_rate": ((attempted - failed) / attempted, "ratio"),
        "peak_rss_mb": (res["peak_rss_kb"] * 1024 / 1e6, "MB"),
        "disk_mb": ((floor_bytes + med([x["bytes_left"] for x in passes])) / 1e6, "MB"),
    }, p


def attribute(tr):
    """Give every job span and SQL execution of a trace the call id and
    phase of the job tag it carries ("call", "phase"; None without one).
    A stream's micro-batches carry the tag of the call that started the
    stream: job tags live in SparkContext's local properties, which a
    thread passes on to the threads it starts."""
    def owner(tag):
        if not tag:
            return None, None
        _, cid, ph = tag.split(":")
        return cid, ph
    for x in tr["spans"]:
        if x["kind"] in ("job", "bridge_job"):
            x["call"], x["phase"] = owner(x["parent"])
    for e in tr["sql"]:
        e["call"], e["phase"] = owner(e["tag"])


def per_layer(res, tr, cpus, rows_out, mv_ratio):
    calls = {str(c["id"]): c for c in res["calls"]}
    spans = tr["spans"]
    attribute(tr)
    jobs = [s for s in spans if s["kind"] in ("job", "bridge_job") and s["call"] in calls]
    job_by_id = {j["id"]: j for j in jobs}
    stages = [s for s in spans if s["kind"] == "stage" and s["parent"] in job_by_id]
    for s in stages:
        s["call"] = job_by_id[s["parent"]]["call"]
    sql = [e for e in tr["sql"] if e["call"] in calls]
    passes = res["passes"]
    by_pass = {p["pass"]: [c for c in res["calls"] if c["pass"] == p["pass"] and c["ok"]]
               for p in passes}

    def per_pass(fn):
        return med([fn(p, by_pass[p["pass"]]) for p in passes])

    def in_calls(items, cs):
        ids = {str(c["id"]) for c in cs}
        return [x for x in items if x["call"] in ids]

    def job_time(c):
        cid = str(c["id"])
        return union_s([(j["start"], j["end"]) for j in jobs if j["call"] == cid],
                       c["start"], c["end"])

    m = {}
    for mod in OP_MODULES:
        def mc(cs, mod=mod):
            return [c for c in cs if c["module"] == mod]
        for ph in ("construct", "plan", "materialize"):
            m[f"{mod}.{ph}_s"] = (per_pass(lambda p, cs, ph=ph: sum(phase_s(c, ph) for c in mc(cs))), "s")
        m[f"{mod}.exchanges"] = (per_pass(lambda p, cs: sum(e["exchanges"] for e in in_calls(sql, mc(cs)))), "count")
        m[f"{mod}.driver_only_s"] = (per_pass(lambda p, cs: sum(wall_s(c) - job_time(c) for c in mc(cs))), "s")
        m[f"{mod}.task_s"] = (per_pass(lambda p, cs: sum(s["task_s"] for s in in_calls(stages, mc(cs)))), "s")
        m[f"{mod}.shuffle_write_bytes"] = (per_pass(
            lambda p, cs: sum(s["shuffle_write_bytes"] for s in in_calls(stages, mc(cs)))), "bytes")

    # plans.*: every SQL execution of every call, in any phase; each is
    # planned by the optimizer and planner that GraftExtensions and any
    # registered MvRewrite rule extend
    m["plans.plan_s"] = (per_pass(lambda p, cs: sum(e["plan_s"] for e in in_calls(sql, cs))), "s")
    m["plans.exchanges"] = (per_pass(lambda p, cs: sum(e["exchanges"] for e in in_calls(sql, cs))), "count")

    def plans_scan_ratio(p, cs):
        out = sum(rows_out.get(c["name"], 0) for c in cs)
        return sum(e["rows_scanned"] for e in in_calls(sql, cs)) / out if out else 0.0
    m["plans.rows_scanned_per_row_out"] = (per_pass(plans_scan_ratio), "ratio")
    m["plans.mv_rewrite_ratio"] = (mv_ratio, "ratio")

    def eager(cs):
        return [j for j in in_calls(jobs, cs) if j["kind"] == "bridge_job" and j["phase"] == "construct"]

    def eager_s(cs):
        return sum(union_s([(j["start"], j["end"]) for j in eager([c])], c["start"], c["end"]) for c in cs)
    construct = per_pass(lambda p, cs: sum(phase_s(c, "construct") for c in cs))
    m["bridge.eager_jobs"] = (per_pass(lambda p, cs: len(eager(cs))), "count")
    m["bridge.eager_stages"] = (per_pass(
        lambda p, cs: len([s for s in stages if s["parent"] in {j["id"] for j in eager(cs)}])), "count")
    m["bridge.eager_s"] = (per_pass(lambda p, cs: eager_s(cs)), "s")
    m["bridge.eager_share"] = (per_pass(lambda p, cs: eager_s(cs)) / construct if construct else 0.0, "ratio")

    def write_s(cs, k):
        """Running time of the write commands (SQL executions that wrote
        files) of the calls whose write kind is k."""
        return sum(union_s([(e["start"], e["end"]) for e in in_calls(sql, [c]) if e["files_written"]],
                           c["start"], c["end"]) for c in cs if c["kind"] == k)
    m["io.load_s"] = (per_pass(lambda p, cs: sum(
        phase_s(c, "plan") + phase_s(c, "materialize") for c in cs if c["module"] == "io")), "s")
    m["io.save_s"] = (per_pass(lambda p, cs: write_s(cs, "save")), "s")
    m["io.upsert_s"] = (per_pass(lambda p, cs: write_s(cs, "upsert")), "s")
    m["io.bytes_written"] = (per_pass(lambda p, cs: sum(e["bytes_written"] for e in in_calls(sql, cs))), "bytes")
    m["io.files_written"] = (per_pass(lambda p, cs: sum(e["files_written"] for e in in_calls(sql, cs))), "count")
    m["io.write_amplification"] = (per_pass(
        lambda p, cs: sum(e["bytes_written"] for e in in_calls(sql, cs)) / p["bytes_left"]
        if p["bytes_left"] else 0.0), "ratio")

    def batches(p):
        return [b for b in tr["batches"] if p["start"] <= b["start"] <= p["end"]]
    pooled = [b for p in passes for b in batches(p)]
    busy = sum(b["duration_s"] for b in pooled)
    m["streams.batch_p50_s"] = (med([b["duration_s"] for b in pooled]), "s")
    m["streams.rows_per_s"] = (sum(b["input_rows"] for b in pooled) / busy if busy else 0.0, "rows/s")

    def final_state(p):
        last = {}
        for b in sorted(batches(p), key=lambda b: b["batch"]):
            last[b["query"]] = b["state_rows"]
        return sum(last.values())
    m["streams.state_rows"] = (per_pass(lambda p, cs: final_state(p)), "count")
    m["streams.batches"] = (per_pass(lambda p, cs: len(batches(p))), "count")

    def stage_sum(key):
        return lambda p, cs: sum(s[key] for s in in_calls(stages, cs))
    m["spark.jobs"] = (per_pass(lambda p, cs: len(in_calls(jobs, cs))), "count")
    m["spark.stages"] = (per_pass(lambda p, cs: len(in_calls(stages, cs))), "count")
    for key, unit in (("tasks", "count"), ("failed_tasks", "count"), ("task_s", "s"),
                      ("task_cpu_s", "s"), ("gc_s", "s"), ("fetch_wait_s", "s"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                      ("spill_bytes", "bytes")):
        m[f"spark.{key}"] = (per_pass(stage_sum(key)), unit)
    m["spark.core_busy_ratio"] = (per_pass(
        lambda p, cs: stage_sum("task_s")(p, cs) / ((p["end"] - p["start"]) / 1000.0 * cpus)), "ratio")
    m["spark.codegen_compile_s"] = (per_pass(lambda p, cs: sum(c["codegen_ns"] for c in cs) / 1e9), "s")
    m["spark.codegen_classes"] = (per_pass(lambda p, cs: sum(c["codegen_classes"] for c in cs)), "count")
    m["host.canary_s"] = (med([p["canary_s"] for p in passes]), "s")
    m["host.load_avg"] = (med([p["load_avg"] for p in passes]), "load")
    return m


def score(workload, run_dir, data, trace, seed=None, sf=SF):
    """Check the outputs a run left in `run_dir` and compute its metrics."""
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)
    tr = None
    if trace:
        with open(os.path.join(run_dir, "trace.json")) as fh:
            tr = json.load(fh)
    bad, rows_out, con = check_outputs(run_dir, data)
    bad.update({n: f"warm-up call failed: {e}" for n, e in res["warmup_errors"].items()})
    names = [c.split(":")[0] for c in WORKLOADS[workload]]
    bad.update({n: "no oracle SQL" for n in names if n not in rows_out and n not in bad})
    plans = [n for n, c in zip(names, WORKLOADS[workload]) if c.split(":")[1].startswith("plans")]
    mv_ratio = rewritten_share(run_dir, plans, con)
    attempted = len(res["calls"])
    failed = sum(1 for c in res["calls"] if not c["ok"] or c["name"] in bad)
    # disk_mb is what a pass leaves; a workload without a write call
    # leaves almost nothing, so there it also counts the inputs (a gated
    # metric must not be 0)
    writes = any("." in c.split(":")[1] for c in WORKLOADS[workload])
    floor = 0 if writes else sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))
    e2e, tail_p = end_to_end(res, len(WORKLOADS[workload]), failed, attempted, floor)
    metrics = per_layer(res, tr, res["cpus"], rows_out, mv_ratio) if trace else e2e
    return {
        "workload": workload, "seed": seed, "sf": sf, "trace": trace,
        "passes": len(res["passes"]), "calls": attempted, "tail_percentile": tail_p,
        "error_rate": failed / attempted, "wrong_outputs": bad,
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "result": {"correct": not bad and failed == 0, "attempted": attempted,
                   "failed": failed,
                   "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
    }


def measure(workload, seed, seconds, trace, sf=SF, keep=None):
    """Build, run, check; returns the summary of score(). `keep` names a
    directory to copy the run's result, trace and outputs to before the
    run directory is removed."""
    build()
    data = inputs(seed, sf)
    run_dir = os.path.abspath(os.path.join(BUILD, f"r{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run_jvm(WORKLOADS[workload], seed, seconds, trace, data, run_dir)
        summary = score(workload, run_dir, data, trace, seed, sf)
        if keep:
            shutil.copytree(run_dir, keep, dirs_exist_ok=True, ignore=shutil.ignore_patterns(
                "tmp", "local", "warehouse", "derby"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    s = measure(a.workload, a.seed, a.seconds, a.trace)
    print(f"workload {s['workload']} seed {s['seed']} sf {s['sf']}: {s['passes']} passes, "
          f"{s['calls']} timed calls, error_rate {s['error_rate']:.4f}, "
          f"latency_tail_s is p{s['tail_percentile']}")
    for name, err in sorted(s["wrong_outputs"].items()):
        print(f"WRONG {name}: {err}")
    for k, v in s["result"]["metrics"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(s["result"]))
    sys.exit(0 if s["result"]["correct"] else 1)


if __name__ == "__main__":
    main()
