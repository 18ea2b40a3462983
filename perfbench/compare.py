#!/usr/bin/env python3
"""Compare a parent and a change checkout on the benchmark, in pairs.

  python3 perfbench/compare.py --parent <dir> --change <dir>

Ten pairs per workload of BENCHMARK.json. Each pair runs one workload once
on each side with the same seed, the pair's index; the side that goes
first alternates from pair to pair. Every run is written to
compare-runs.jsonl in the current directory as it ends. Both
checkouts must hold byte-identical benchmark files (BENCHMARK.json and its
paths), and every record of a workload must carry the same method stamp
(cores, JDK, Spark, Scala, JVM flags, data, row list, run length); the
tool refuses to compare otherwise.

Per workload and end-to-end metric it reports each side's median and
quartiles and the pair wins, then a verdict:

  better       the change wins at least 9 of 10 pairs (ties count for
               neither side) and the medians differ by more than the
               parent's own spread (third minus first quartile);
  worse        the change's median is worse than the parent's by more
               than the metric's bound;
  unresolved   the parent's spread, as a share of its median, exceeds the
               bound, and not every change run beats every parent run;
  within bound otherwise.

Runs that report failed outputs are listed and make the workload's
verdicts void.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

METHOD_KEYS = ("spark", "scala", "jdk", "master", "nproc", "cores", "jvm", "data",
               "data_hash", "rows_hash", "seconds")
PAIRS = 10
OUT = "compare-runs.jsonl"


def bench_hash(root):
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    h = hashlib.sha256(open(os.path.join(root, "BENCHMARK.json"), "rb").read())
    for p in spec["paths"]:
        for d, _, files in sorted(os.walk(os.path.join(root, p))):
            if "__pycache__" in d:
                continue
            for f in sorted(files):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, root).encode())
                h.update(open(path, "rb").read())
    return h.hexdigest()


def run_once(root, spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.exit(f"compare: run failed in {root}: {workload} seed {seed} (exit {r.returncode})")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)

    def better(a, b):
        return a < b if lower else a > b
    wins = sum(better(c, p) for p, c in zip(parent, change))
    gap = (cm - pm) / pm * (1 if lower else -1)  # > 0: change is worse
    if wins >= 0.9 * len(parent) and abs(cm - pm) > p3 - p1 and better(cm, pm):
        v = "better"
    elif gap > bound:
        v = "worse"
    elif (p3 - p1) / pm > bound and not all(better(c, p) for p in parent for c in change):
        v = "unresolved"
    else:
        v = "within bound"
    return (p1, pm, p3), (c1, cm, c3), wins, v


def report(spec, runs):
    for w in sorted({r["workload"] for r in runs}):
        stamps = {json.dumps({k: r["record"]["stamp"].get(k) for k in METHOD_KEYS}, sort_keys=True)
                  for r in runs if r["workload"] == w}
        if len(stamps) != 1:
            sys.exit(f"compare: {w} records were taken with different methods:\n" + "\n".join(sorted(stamps)))
        pairs = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["pair"], {})[r["side"]] = r
        pairs = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        bad = [(p[s]["pair"], s, p[s]["result"]["failed"]) for p in pairs for s in ("parent", "change")
               if not p[s]["result"]["correct"]]
        print(f"\n{w}: {len(pairs)} pairs" + (f"  FAILED OUTPUTS {bad}: verdicts void" if bad else ""))
        print(f"  {'metric':14} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>6}  verdict")
        for m in spec["end_to_end"]:
            n = m["name"]
            par = [p["parent"]["result"]["metrics"][n]["value"] for p in pairs]
            chg = [p["change"]["result"]["metrics"][n]["value"] for p in pairs]
            pq, cq, wins, v = verdict(m, par, chg)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"  {n:14} {fmt(pq):>30} {fmt(cq):>30} {wins:>3}/{len(pairs):<2}  {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    a = ap.parse_args()
    if bench_hash(a.parent) != bench_hash(a.change):
        sys.exit("compare: the two checkouts hold different benchmark files")
    spec = json.load(open(os.path.join(a.parent, "BENCHMARK.json")))
    runs = []
    with open(OUT, "w") as out:
        for i in range(PAIRS):
            sides = [("parent", a.parent), ("change", a.change)]
            for w in (w["name"] for w in spec["workloads"]):
                for side, root in (sides if i % 2 == 0 else sides[::-1]):
                    record, result = run_once(root, spec, w, i)
                    r = {"pair": i, "side": side, "workload": w, "seed": i, "record": record, "result": result}
                    runs.append(r)
                    out.write(json.dumps(r) + "\n")
                    out.flush()
    report(spec, runs)


if __name__ == "__main__":
    main()
