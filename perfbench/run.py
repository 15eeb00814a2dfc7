"""GEDCOM conversion and operator-suite benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), makes the workload's
inputs from the seed, runs the workload in one JVM (perfbench.Harness) with
local[nproc] and a fixed heap, checks every output, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. See perfbench/README.md
for the workloads and the metrics.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("gedcom-large", "gedcom-batch", "query-suite")
HEAP = "512m"
# gedcom-large: the pinned rows (~3.4x the input for these record shapes)
# fill the ~133 MB of storage memory a 512 MB heap gives the block manager,
# so the CSV write evicts pinned blocks to disk and reads them back
LARGE_MB = 40
# gedcom-batch: file sizes spread log-uniformly over this range (MB)
BATCH_FILES, BATCH_MIN_MB, BATCH_MAX_MB = 2, 0.1, 16.0
# query-suite: registry tables at this scale factor, graph of this size
SUITE_SF, GRAPH_MB = 0.01, 2.0
SETUPS = 2
KNOWN_FAULTS = {"unicode.ged"}

# Registry queries (module, name): short relational, text and web queries,
# the GEDCOM registry query, and the approximate (LSH) near-duplicate
# clustering.
SUITE_QUERIES = [("Relational", "q01_agg"), ("TextAnalysis", "q30_text_tokens"),
                 ("Web", "q168_html_extract"), ("GedcomQueries", "q63_gedcom_pipeline"),
                 ("Dedup", "q99_embed_dedup_clusters")]
GRAPH_TAGS = ["INDI"]
MODULES = [m for m, _ in SUITE_QUERIES] + ["graph"]

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def make_inputs(workload, seed, d):
    """Write the workload's inputs under d; return (plan entries, ledgers)."""
    import gen_gedcom
    rng = random.Random(seed)
    os.makedirs(d, exist_ok=True)
    if workload == "gedcom-large":
        p = os.path.join(d, "large.ged")
        w = os.path.join(d, "warmup.ged")
        led = gen_gedcom.write_file(p, seed, LARGE_MB * 1e6, n_chunks=48, twin=w)
        return [("input", p), ("warmup", w)], {p: led}
    if workload == "gedcom-batch":
        ledgers, plan = {}, []
        # sizes at fixed log-spaced quantiles of the range, so every seed
        # converts the same amount of input; the seed draws the records
        ratio = BATCH_MAX_MB / BATCH_MIN_MB
        for i in range(BATCH_FILES):
            p = os.path.join(d, f"tree{i}.ged")
            ledgers[p] = gen_gedcom.write_file(
                p, seed * 1000 + i, BATCH_MIN_MB * ratio ** ((i + 0.5) / BATCH_FILES) * 1e6,
                n_chunks=3, crlf=i % 2 == 0, bom=i == 1, offset=i)
            plan.append(("input", p))
        # GEDCOM 5.5 allows UTF-16 ("1 CHAR UNICODE"); this file is the same
        # for every seed, so its conversion fails identically in every run
        p = os.path.join(d, "unicode.ged")
        ledgers[p] = gen_gedcom.write_file(p, 0, 0.5e6, crlf=True, utf16=True)
        plan.insert(rng.randrange(len(plan) + 1), ("input", p))
        w = os.path.join(d, "warmup.ged")
        ledgers[w] = gen_gedcom.write_file(w, seed * 1000 + 999, 0.2e6)
        return plan + [("warmup", w)], ledgers
    import gen_tables
    sf = os.path.join(d, "sf")
    gen_tables.generate(sf, seed, SUITE_SF)
    g = os.path.join(d, "graph.ged")
    led = gen_gedcom.write_file(g, seed, GRAPH_MB * 1e6, n_chunks=12, family=True)
    graph_queries = ([f"nodesWide:{t}" for t in GRAPH_TAGS if t in led["nodes"]]
                     + [f"ancestorsOf:{led['family']['start']}",
                        "familyClusters", "degrees", "summary"])
    plan = [("sf", sf), ("graph", g)] + [("query", f"{m}:{q}") for m, q in SUITE_QUERIES] \
        + [("graph_query", q) for q in graph_queries]
    return plan, {g: led}


def run_harness(plan_path, work, log):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JAVA_OPTS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "perfbench.Harness", plan_path]
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -1


def median(xs):
    return statistics.median(xs) if xs else 0.0


def lsq(points):
    """Least-squares (intercept, slope) of y over x."""
    n = len(points)
    if n < 2:
        return 0.0, 0.0
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return my, 0.0
    slope = sum((x - mx) * (y - my) for x, y in points) / sxx
    return my - slope * mx, slope


def end_to_end(workload, ops, run, suite_mb):
    """The end-to-end metrics of one untraced run. `suite_mb` is the
    query-suite's input on disk (registry tables and GEDCOM graph)."""
    timed = [o for o in ops if o["module"] != "probe"]
    good = [o for o in timed if o["passed"]]
    passes = sorted({o["pass"] for o in timed})
    by_pass = {p: [o for o in timed if o["pass"] == p] for p in passes}
    wall = sum(o["wall_s"] for o in good)
    if workload == "query-suite":
        mb = suite_mb * len(passes)
    else:
        mb = sum(o["mb"] for o in good)
    return {
        "setup_s": (median(run["setup_s"]), "s"),
        "ingest_mb_per_s": (mb / wall if wall else 0.0, "MB/s"),
        "exec_cpu_s": (median([sum(o.get("cpu_s", 0.0) for o in ps) for ps in by_pass.values()]), "s"),
        "peak_block_mb": (run["peak_block_mb"], "MB"),
        "op_p50_s": (median([o["wall_s"] for o in good]), "s"),
        "pass_s": (median([sum(o.get("wall_s", 0.0) for o in ps) for ps in by_pass.values()]), "s"),
    }


def per_layer(workload, ops):
    """The per-layer metrics of one traced run: sums over the traced
    operations of a pass (median over traced passes), self times by
    subtraction of nested calls."""
    traced = [o for o in ops if o.get("traced") and o.get("ok")]
    # the probe of the graph pinned in set-up counts toward every round
    probe = [o for o in traced if o["module"] == "probe"]
    passes = sorted({o["pass"] for o in traced if o["module"] != "probe"})
    groups = [probe + [o for o in traced if o["pass"] == p and o["module"] != "probe"]
              for p in passes] or [probe]

    def med(key, agg=sum):
        return median([agg([o.get(key, 0.0) for o in g] or [0.0]) for g in groups])

    m = {
        "parser.lines": (med("lines"), "count"),
        "parser.scan_s": (med("scan_s"), "s"),
        "parser.tokenize_s": (med("tokenize_s"), "s"),
        "assembler.records": (med("records"), "count"),
        "assembler.assemble_s": (med("assemble_s"), "s"),
        "graph.build_s": (med("build_s"), "s"),
        "graph.build_cpu_s": (med("build_cpu_s"), "s"),
        "graph.pinned_mb": (med("pinned_mb", max), "MB"),
        "graph.spill_mb": (med("spill_mb", max), "MB"),
        "csvsink.write_s": (med("write_s"), "s"),
        "csvsink.write_cpu_s": (med("write_cpu_s"), "s"),
        "csvsink.jobs": (med("csv_jobs"), "count"),
        "csvsink.tasks": (med("csv_tasks"), "count"),
        "csvsink.out_mb": (med("csv_out_mb"), "MB"),
        "jvm.gc_s": (med("gc_s"), "s"),
        "query.frame_build_s": (med("frame_s"), "s"),
        "catalyst.plan_s": (med("plan_s"), "s"),
        "codegen.compile_s": (med("codegen_s"), "s"),
        "codegen.classes": (med("classes"), "count"),
        "exec.run_s": (med("exec_s"), "s"),
        "exec.cpu_s": (med("cpu_s"), "s"),
        "exec.shuffle_write_mb": (med("shuffle_mb"), "MB"),
        "exec.shuffle_records": (med("shuffle_records"), "count"),
        "exec.spill_mb": (med("spill_mb"), "MB"),
        "exec.stages": (med("stages"), "count"),
        "exec.tasks": (med("tasks"), "count"),
    }
    fixed, marginal = (0.0, 0.0)
    if workload == "gedcom-batch":
        fixed, marginal = lsq([(o["mb"], o["wall_s"]) for o in ops
                               if o["passed"] and not o.get("traced")])
    m["batch.fixed_s"] = (fixed, "s")
    m["batch.marginal_s_per_mb"] = (marginal, "s/MB")
    for mod in MODULES:
        g = [[o for o in grp if o["module"] == mod] for grp in groups]
        m[f"module.{mod}.driver_s"] = (median([sum(o.get("frame_s", 0) + o.get("plan_s", 0)
                                                   + o.get("codegen_s", 0) for o in x) for x in g]), "s")
        m[f"module.{mod}.exec_cpu_s"] = (median([sum(o.get("cpu_s", 0) for o in x) for x in g]), "s")
    # overhead: traced against untraced runs of the same operations
    timed = [o for o in ops if o["module"] != "probe" and o["passed"]]
    t = {o["name"]: o["wall_s"] for o in timed if o["traced"]}
    u = {o["name"]: o["wall_s"] for o in timed if not o["traced"]}
    both = sorted(set(t) & set(u))
    st, su = sum(t[n] for n in both), sum(u[n] for n in both)
    m["trace.overhead_pct"] = (100.0 * (st / su - 1.0) if su else 0.0, "%")
    return m


def note(msg, t0=[None]):
    """Progress to stderr, with seconds since the first note."""
    now = time.time()
    t0[0] = t0[0] or now
    sys.stderr.write(f"[perfbench {now - t0[0]:7.1f}s] {msg}\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    os.makedirs(build.build_dir(), exist_ok=True)
    note("build")
    build.build()
    note("inputs")
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    entries, ledgers = make_inputs(a.workload, a.seed, os.path.join(work, "in"))
    plan = [("workload", a.workload), ("work", work), ("seconds", a.seconds),
            ("trace", a.trace), ("cores", os.cpu_count() or 1),
            ("setups", SETUPS)] + entries
    plan_path = os.path.join(work, "plan.tsv")
    with open(plan_path, "w") as fh:
        fh.writelines(f"{k}\t{v}\n" for k, v in plan)
    log = os.path.join(work, "harness.log")
    note("harness")
    rc = run_harness(plan_path, work, log)
    note("checks")
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-3000:])
        sys.exit(f"harness exited with {rc}")
    with open(os.path.join(work, "ops.jsonl")) as fh:
        ops = [json.loads(line) for line in fh]
    with open(os.path.join(work, "run.json")) as fh:
        run = json.load(fh)

    # ---- checks, outside the timed region
    import check
    if a.workload == "query-suite":
        with open(os.path.join(work, "oracle.json")) as fh:
            oracle = json.load(fh)
        g = dict(entries)["graph"]
        qc = check.QueryChecker(dict(entries)["sf"], oracle,
                                {"ledger": ledgers[g], "family": ledgers[g]["family"]})
    failures = []
    for o in ops:
        if o["module"] == "probe":
            o["passed"] = True
            continue
        if not o.get("ok"):
            err = o.get("error", "failed")
        elif a.workload == "query-suite":
            err = qc.check(o["name"], o["out"])
        else:
            err = check.check_conversion(o["out"], ledgers[os.path.join(work, "in", o["name"])])
        o["passed"] = err is None
        if err:
            failures.append(f"{o['name']} (pass {o['pass']}): {err}")
    for f in failures:
        sys.stderr.write(f"failed: {f}\n")
    attempted = sum(1 for o in ops if o["module"] != "probe")
    # the one expected failure: UTF-16 input is read as UTF-8
    correct = all(o["passed"] or o["name"] in KNOWN_FAULTS for o in ops)
    suite_mb = 0.0
    if a.workload == "query-suite":
        d = dict(entries)
        files = [os.path.join(d["sf"], f) for f in os.listdir(d["sf"])] + [d["graph"]]
        suite_mb = sum(os.path.getsize(f) for f in files) / 1e6
    metrics = (end_to_end(a.workload, ops, run, suite_mb) if a.trace == 0
               else per_layer(a.workload, ops))
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    note("done")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
