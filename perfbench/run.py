#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload per run, one fresh JVM.

Usage, from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/NOTES.md for why each exists):

  taxi_scale  the paper's Exercise 1 and 2 (q1 histogram, trips, daily and
              total revenue) on seeded generated SF-taxi segments
  ledger      a fixed subset of the SparkEntry rows over the sf0.01 tables:
              sub-second batch rows and a streaming row

The run compiles the engine and perfbench/src into .bench_build/ when the
sources changed, makes the seeded inputs, starts one JVM at local[4], and
prints two JSON lines: a full record (every metric that applies to the
workload, the method stamp, and with --trace 1 the per-layer metrics and
span self times), then the result line
{"correct", "attempted", "failed", "metrics"}. Every checked output is
compared with its reference digest; an exception or a mismatch counts as
failed. Exit code 0 means the run completed, whatever it measured.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing written next to the sources
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

CORES = 4
XMX = "3g"
# Fixed heap and the throughput collector: on a 4-vCPU host they made passes
# about 15% faster than G1 with an adaptive heap, which buys more timed
# passes per run within the benchmark's time budget.
JVM_FLAGS = [f"-Xmx{XMX}", f"-Xms{XMX}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
DEADLINE_S = 170  # the whole run, build excluded
FIXTURE = os.path.join(HERE, "data", "sf0.01")
# ~46k segments and 15k trips: a pass of about 4 s, so that several fit a run.
TAXI_TAXIS, TAXI_TRIP_ROWS = 300, 15000
CACHED_INPUTS = 3

# The rows of the ledger workload: a fixed subset, sized so that about 22
# runs of each workload fit in an hour (NOTES.md lists what is left out and
# why): small relational rows, whose cluster of similar latencies gives a
# steady median, then heavier batch rows, then a streaming row. q1/q2 and x47
# read the taxi fixture through an absolute path outside any checkout and
# cannot run here; taxi_scale covers that pipeline.
LEDGER = ["q3_filter_agg", "q15_string_funcs", "q7_set_ops", "q38_unpivot", "q27_bucketed_join",
          "q9_time_windows", "q21_pivot", "q6_window_funcs", "q5_topk_having", "q31_scd2_history",
          "q8_sessionize", "q22_skew_join", "x94_snm_dedup", "x73_stream_funnel"]
# The heavy rows ROADMAP.md names; the traced run reports row.<name>_s for
# those in the subset.
NAMED_ROWS = ["x75_pagerank", "x100_curation_v2", "x82_triangles", "x108_pq_adc_topk",
              "x113_pq_clustered_topk", "x114_pq_rerank_topk", "x116_incremental_rerank",
              "x18_dup_clusters", "x87_semdedup", "q22_skew_join", "q35_recursive_cte",
              "x92_bloom_join"]
FAMILIES = [  # first match wins; q-rows are relational
    ("ann", ("pq", "ivf", "ann", "rerank", "knn")),
    ("graph", ("pagerank", "triangles", "clusters", "components")),
    ("curation", ("curation", "dedup", "minhash", "simhash", "lsh", "boilerplate")),
]

END_TO_END = {  # name -> unit; the result line carries these on every workload
    "wall_s": "s", "query_p50_s": "s", "cold_s": "s", "setup_s": "s",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sha(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """The Spark jars the engine builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(ROOT, "build.sbt")).read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(srcs):
    """Compile engine + benchmark with scalac from the Spark distribution,
    into .bench_build/; skipped when the source hash is unchanged."""
    tree = sha(srcs)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(classes, ".tree")
    if os.path.exists(stamp) and open(stamp).read() == tree:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    with open(os.path.join(tmp, ".tree"), "w") as f:
        f.write(tree)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def java(classes, scratch):
    """JVM command line of a run (and of make_refs.py). Every file the
    engine writes goes under `scratch`; -XX:-UsePerfData keeps the JVM's
    own perf-data file out of the system temp directory."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    return ["java"] + JVM_FLAGS + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.extensions=graft.GraftExtensions",
        f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}",
        f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        f"-Dgraft.stream.scratch={scratch}",
        "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*")]


def cached(kind, key, make):
    """Input directory for (kind, key), made once; keeps the newest few."""
    base = os.path.join(BUILD, "inputs")
    d = os.path.join(base, f"{kind}-{key}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        make(d + ".tmp")
        open(os.path.join(d + ".tmp", ".done"), "w").close()
        os.rename(d + ".tmp", d)
    os.utime(d)
    old = sorted((e for e in glob.glob(os.path.join(base, "*")) if os.path.isdir(e)),
                 key=os.path.getmtime)[:-CACHED_INPUTS]
    for e in old:
        shutil.rmtree(e, ignore_errors=True)
    return d


def permuted_tables(seed):
    """The committed fixture with every table's rows in a seeded order."""
    import numpy as np
    import pyarrow.parquet as pq

    def make(d):
        os.makedirs(d)
        rng = np.random.RandomState(seed)
        for p in sorted(glob.glob(os.path.join(FIXTURE, "*.parquet"))):
            t = pq.read_table(p)
            pq.write_table(t.take(rng.permutation(t.num_rows)), os.path.join(d, os.path.basename(p)))
    return cached("ledger", f"{seed}-{sha(sorted(glob.glob(os.path.join(FIXTURE, '*.parquet'))))}", make)


def taxi_inputs(seed):
    sys.path.insert(0, HERE)
    import taxi_gen
    code = sha([os.path.join(HERE, "taxi_gen.py"), os.path.join(ROOT, "tools", "gen_taxi_fixtures.py")])
    return cached("taxi", f"{seed}-{TAXI_TAXIS}-{TAXI_TRIP_ROWS}-{code}",
                  lambda d: taxi_gen.generate(seed, TAXI_TAXIS, d, TAXI_TRIP_ROWS))


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """Highest of p50/p90/p95/p99/p99.9 with at least 10 samples beyond it
    (none below 20 samples)."""
    xs = sorted(xs)
    n = len(xs)
    best = {"value": None, "percentile": None, "n": n}
    for p in (50, 90, 95, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = {"value": xs[min(n - 1, int(n * p / 100))], "percentile": p, "n": n}
    return best


def self_times(spans):
    """Per item and kind, the span's duration minus the part of it that
    its child spans cover, averaged over traced passes."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    passes = max(1, sum(1 for s in spans if s["kind"] == "pass"))
    for s in spans:
        if s["kind"] not in ("item", "build", "consume"):
            continue
        covered, end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                end = hi
        key = f"{s['name']}.{s['kind']}"
        out[key] = out.get(key, 0.0) + (s["end"] - s["start"] - covered) / 1e3 / passes
    return out


def spool_times(spans):
    """Per traced pass, the time each streaming row spends before its first
    micro-batch job starts: loading the table and writing the file spool."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for b in spans:
        if b["kind"] != "build":
            continue
        first = min((j["start"] for j in spans if j["parent"] == b["id"] and j["kind"] == "job"
                     and j["name"].startswith("start at ")), default=None)
        if first is not None:
            pass_id = by_id[b["parent"]]["parent"]
            out[pass_id] = out.get(pass_id, 0.0) + (first - b["start"]) / 1e3
    return list(out.values())


def per_layer(workload, raw, traced, untraced, inputs, spans):
    """Per-layer metrics: the median over traced passes of each pass value."""
    def med(f):
        vals = []
        for p in traced:
            try:
                vals.append(f(p))
            except StopIteration:  # the item failed in this pass
                pass
        return median(vals)

    def item(p, name):
        return next(i for i in p["items"] if i["name"] == name and "error" not in i)

    def lat(p, name):
        i = item(p, name)
        return i["build_s"] + i["exec_s"]

    c = lambda k: (lambda p: p["counters"][k])  # noqa: E731
    m = {
        "plans.plan_s": (med(lambda p: p["counters"]["plan_ms"] / 1e3), "s"),
        "plans.plan_share": (med(lambda p: p["counters"]["plan_ms"] / 1e3 / p["wall_s"]), "ratio"),
        "ckpt.jobs": (med(c("ckpt_jobs")), "count"),
        "ckpt.s": (med(lambda p: p["counters"]["ckpt_ms"] / 1e3), "s"),
        "queries.build_s": (med(lambda p: sum(i.get("build_s", 0) for i in p["items"])), "s"),
        "queries.execute_s": (med(lambda p: sum(i.get("exec_s", 0) for i in p["items"])), "s"),
        "spark.jobs": (med(c("jobs")), "count"),
        "spark.stages": (med(c("stages")), "count"),
        "spark.tasks": (med(c("tasks")), "count"),
        "spark.single_task_stages": (med(c("single_task_stages")), "count"),
        "spark.task_s": (med(lambda p: p["counters"]["task_ms"] / 1e3), "s"),
        "spark.task_cpu_s": (med(lambda p: p["counters"]["cpu_ns"] / 1e9), "s"),
        "spark.task_wait_s": (med(lambda p: p["counters"]["wait_ms"] / 1e3), "s"),
        "spark.core_util": (med(lambda p: p["counters"]["task_ms"] / 1e3 / (p["wall_s"] * CORES)), "ratio"),
        "spark.shuffle_write_mb": (med(lambda p: p["counters"]["shuffle_write_b"] / 2**20), "MB"),
        "spark.shuffle_read_mb": (med(lambda p: p["counters"]["shuffle_read_b"] / 2**20), "MB"),
        "spark.spill_mb": (med(lambda p: p["counters"]["spill_b"] / 2**20), "MB"),
        "spark.gc_s": (med(lambda p: p["counters"]["gc_ms"] / 1e3), "s"),
        "spark.failed_tasks": (med(c("failed_tasks")), "count"),
        "trace_overhead": (median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in untraced]) - 1,
                           "ratio"),
    }
    if workload == "taxi_scale":
        m.update({
            "sources.read_s": (med(lambda p: lat(p, "read")), "s"),
            "sources.rows_in": (inputs["segments"], "count"),
            "sources.bytes_in_mb": (inputs["bytes"] / 2**20, "MB"),
            "functions.positions_s": (med(lambda p: lat(p, "positions") - lat(p, "read")), "s"),
            "functions.accept_ratio": (raw["positions"] / raw["halves"], "ratio"),
            "operators.sessionize_s": (med(lambda p: lat(p, "trips") - lat(p, "positions")), "s"),
            "operators.trips_out": (inputs["trips_out"], "count"),
            "operators.sessionize_skew": (med(lambda p: p["counters"]["skew"].get("trips", 1.0)), "ratio"),
        })
    if workload == "ledger":
        for r in NAMED_ROWS:
            if r in LEDGER:
                m[f"row.{r}_s"] = (med(lambda p, r=r: lat(p, r)), "s")
        fams = {"relational": [], "curation": [], "ann": [], "graph": [], "other": []}
        for r in LEDGER:
            fam = "relational" if r.startswith("q") else next(
                (f for f, keys in FAMILIES if any(k in r for k in keys)), "other")
            fams[fam].append(r)
        for fam, rows in fams.items():
            m[f"queries.{fam}_s"] = (med(lambda p, rows=rows: sum(lat(p, r) for r in rows)), "s")
        b = lambda k, scale: (lambda p: p["batches"][k] / scale)  # noqa: E731
        m.update({
            "streaming.batches": (med(lambda p: len(p["batches"]["trigger_ms"])), "count"),
            "streaming.state_commit_s": (med(b("commit_ms", 1e3)), "s"),
            "streaming.wal_s": (med(b("wal_ms", 1e3)), "s"),
            "streaming.plan_s": (med(b("plan_ms", 1e3)), "s"),
            "streaming.add_batch_s": (med(b("add_batch_ms", 1e3)), "s"),
            "streaming.spool_s": (median(spool_times(spans)), "s"),
            "streaming.state_rows": (med(b("state_rows", 1)), "count"),
            "streaming.state_mem_mb": (med(b("state_bytes", 2**20)), "MB"),
        })
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["taxi_scale", "ledger"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    srcs = sources()
    tree = sha(srcs + [os.path.join(ROOT, "tools", "gen_taxi_fixtures.py"), os.path.join(HERE, "taxi_gen.py")])
    classes = build(srcs)
    t_start = time.time()

    w = args.workload
    jvm_args = [f"workload={w}", f"seed={args.seed}", f"seconds={args.seconds}", f"trace={args.trace}",
                f"fixture={FIXTURE}"]
    if w == "taxi_scale":
        d = taxi_inputs(args.seed)
        golden = json.load(open(os.path.join(d, "golden.json")))
        refs = {k: golden[k] for k in ("trips", "daily", "total", "q1")}
        seg, trips = os.path.join(d, "segments.txt"), os.path.join(d, "trips.txt")
        inputs = {"segments": golden["segments"], "trips_out": golden["trips"]["rows"],
                  "bytes": os.path.getsize(seg) + os.path.getsize(trips)}
        jvm_args += [f"segments={seg}", f"trips={trips}"]
        rows = ["read", "positions", "trips", "daily", "total", "q1"]
    else:
        rows = LEDGER
        refs = json.load(open(os.path.join(HERE, "refs", "sf0.01.json")))
        missing = [r for r in rows if r not in refs]
        if missing:
            fail(f"no reference digest for {missing}")
        jvm_args += [f"data={permuted_tables(args.seed)}", "rows=" + ",".join(rows)]
        inputs = {}

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{w}-seed{args.seed}-trace{args.trace}"
    raw_path, spans_path = os.path.join(results, tag + ".raw.json"), os.path.join(results, tag + ".spans.jsonl")
    for stale in glob.glob(os.path.join(BUILD, "run-tmp-*")):  # left by a killed run
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    tmp = os.path.join(BUILD, f"run-tmp-{os.getpid()}")
    os.makedirs(tmp)
    cmd = java(classes, tmp) + [
        "perfbench.Main", "mode=run",
        f"out={raw_path}", f"spans={spans_path}", f"spawn_ns={time.time_ns()}"] + jvm_args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    log = open(os.path.join(results, tag + ".log"), "w")
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{w} did not finish within {DEADLINE_S} s (log: {log.name})")
    finally:
        log.close()
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        fail(f"JVM exited with {rc} (log: {log.name})")
    raw = json.load(open(raw_path))

    # correctness: every checked output of the cold and warm passes against
    # its reference; an exception in any pass is a failure
    failed, attempted, bad = 0, 0, []
    for it in raw["cold"] + raw["warm"]:
        attempted += 1
        if "error" in it:
            failed += 1
            bad.append(f"{it['name']}: {it['error']}")
        elif it.get("digest") is not None:
            want, got = refs[it["name"]], it["digest"]
            if (want["rows"], str(want["sum"]), want.get("cols", "")) != (got["rows"], got["sum"], got["cols"]):
                failed += 1
                bad.append(f"{it['name']}: digest {got['rows']}:{got['sum']} != reference {want['rows']}:{want['sum']}")
    for p in raw["passes"]:
        for it in p["items"]:
            attempted += 1
            if "error" in it:
                failed += 1
                bad.append(f"{it['name']}: {it['error']}")
    for b in bad:
        print(f"perfbench: FAILED {b}", file=sys.stderr)

    untraced = [p for p in raw["passes"] if not p["traced"]]
    traced = [p for p in raw["passes"] if p["traced"]]
    lats = [i["build_s"] + i["exec_s"] for p in untraced for i in p["items"] if "error" not in i]
    wall = median([p["wall_s"] for p in untraced])
    metrics = {
        "wall_s": wall,
        "query_p50_s": median(lats),
        "cold_s": sum(i.get("build_s", 0) + i.get("exec_s", 0) for i in raw["cold"]),
        "setup_s": raw["setup_s"],
    }
    extra = {"fail_ratio": {"value": failed / attempted, "unit": "ratio", "failed": failed, "attempted": attempted},
             "peak_heap_mb": {"value": raw["peak_sampled_mb"], "unit": "MB"}}
    if w == "taxi_scale":
        extra["segments_per_s"] = {"value": inputs["segments"] / wall, "unit": "1/s"}
    if w == "ledger":
        extra["query_tail_s"] = dict(tail(lats), unit="s")
        trig = [t / 1e3 for p in untraced for t in p["batches"]["trigger_ms"]]
        extra["batch_p50_s"] = {"value": median(trig), "unit": "s", "n": len(trig)}
        extra["batch_tail_s"] = dict(tail(trig), unit="s")

    stamp = dict(raw["stamp"], nproc=os.cpu_count(), cores=CORES, jvm=" ".join(JVM_FLAGS), tree=tree, seed=args.seed,
                 data="sf0.01" if w != "taxi_scale" else f"taxi-{TAXI_TAXIS}",
                 data_hash=sha(sorted(glob.glob(os.path.join(FIXTURE, "*.parquet")))),
                 rows_hash=hashlib.sha256(",".join(rows).encode()).hexdigest()[:16],
                 seconds=args.seconds)
    record = {"workload": w, "trace": args.trace, "stamp": stamp,
              "passes": len(raw["passes"]),
              "end_to_end": dict({k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}, **extra)}
    result_metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    if args.trace:
        spans = [json.loads(line) for line in open(spans_path)]
        layer = per_layer(w, raw, traced, untraced, inputs, spans)
        record["per_layer"] = {k: {"value": v, "unit": u} for k, v, u in
                               ((k, v, u) for k, (v, u) in layer.items())}
        record["self_s"] = self_times(spans)
        result_metrics = {k: record["per_layer"][k] for k in PER_LAYER}
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}))


# Per-layer metrics that every workload produces; the result line of a
# traced run carries these, the record carries the workload-specific rest.
PER_LAYER = [
    "plans.plan_s", "plans.plan_share", "ckpt.jobs", "queries.build_s", "queries.execute_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.single_task_stages", "spark.task_s",
    "spark.task_cpu_s", "spark.task_wait_s", "spark.core_util", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.failed_tasks", "trace_overhead",
]

if __name__ == "__main__":
    main()
