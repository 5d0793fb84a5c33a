#!/usr/bin/env python3
"""Pin the expected result digests of the benchmark's queries.

    python3 perfbench/pin.py [name ...]

Run from the root of a checkout. For the named queries (default: every
query of queries_short.txt) it dumps each result with `graft.Verify`,
compares the dump with the query's `SparkEntry.oracleSql` in DuckDB
through `scripts/check.py`, then digests each query with
`graft.perfbench.Pin`: twice live in the benchmark's session and once
from the dump. It writes to perfbench/digests.json the digest of every
query that matched its oracle and whose three digests agree. The others
are listed and left unpinned, so the benchmark refuses them.
"""
import json
import os
import subprocess
import sys

import run as bench


def main(names):
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = bench.build(build_dir)
    data_dir = bench.DATA
    names = names or bench.read_list("queries_short.txt")
    out = os.path.join(build_dir, "pin")
    os.makedirs(out, exist_ok=True)
    subprocess.run(bench.java_cmd(classes, "graft.Verify", data_dir, out, ",".join(names),
                                  tmp=out), check=True)
    check = subprocess.run([sys.executable, "scripts/check.py", data_dir, out],
                           capture_output=True, text=True)
    print(check.stdout, end="")
    passed = {l.split()[1] for l in check.stdout.splitlines() if l.startswith("PASS ")}
    subprocess.run(bench.java_cmd(classes, "graft.perfbench.Pin", data_dir, out,
                                  ",".join(names), tmp=out), check=True)
    path = os.path.join(bench.HERE, "digests.json")
    pinned = json.load(open(path)) if os.path.exists(path) else {}
    bad = 0
    for line in open(os.path.join(out, "pin.tsv")):
        name, live1, live2, dumped, t1, t2 = line.rstrip("\n").split("\t")
        problem = ("no oracle match" if name not in passed else
                   f"digests differ: {live1} {live2} {dumped}"
                   if not live1 == live2 == dumped else None)
        if problem:
            bad += 1
            pinned.pop(name, None)
            print(f"FAIL {name}: {problem}")
        else:
            pinned[name] = live1
            print(f"ok   {name} {float(t1):.3f}s {float(t2):.3f}s")
    with open(path, "w") as f:
        json.dump(dict(sorted(pinned.items())), f, indent=1)
        f.write("\n")
    print(f"{len(names) - bad}/{len(names)} pinned")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
