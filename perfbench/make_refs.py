#!/usr/bin/env python3
"""Regenerate perfbench/refs/sf0.01.json, the ledger reference digests.

  python3 perfbench/make_refs.py <scratch-dir>

Dumps every SparkEntry row over the committed fixture with graft.Verify,
checks the dump against the DuckDB oracle with tools/check_oracle.py, and
only if every row matches digests each row's dump (perfbench.Digest.frame)
into the reference file. Run from the root of a checkout; needs duckdb.
"""
import json
import os
import re
import subprocess
import sys

import run


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    scratch = os.path.abspath(sys.argv[1])
    dump = os.path.join(scratch, "verify")
    srcs = run.sources()
    classes = run.build(srcs)
    java = run.java(classes, scratch)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.CORES))
    subprocess.run(java + ["graft.Verify", run.FIXTURE, dump], env=env, check=True, cwd=scratch)
    oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                             run.FIXTURE, dump], stdout=subprocess.PIPE, text=True, check=True).stdout
    rows = sorted(n for n in os.listdir(dump) if os.path.isdir(os.path.join(dump, n)))
    m = re.search(r"== (\d+) ok, (\d+) mismatch ==", oracle)
    if not m or int(m.group(2)) != 0 or int(m.group(1)) != len(rows):
        sys.exit("oracle check did not pass every row; no references written:\n" + oracle[-3000:])
    out = os.path.join(run.HERE, "refs", "sf0.01.json")
    subprocess.run(java + ["perfbench.Main", "mode=refs", f"dump={dump}", "rows=" + ",".join(rows),
                           f"out={out}"], env=env, check=True, cwd=scratch)
    refs = json.load(open(out))
    with open(out, "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(refs)} reference digests written to {out}")


if __name__ == "__main__":
    main()
