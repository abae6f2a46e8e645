#!/usr/bin/env python3
"""Plan census of the whole query catalogue, to choose the sweep's sample.

    python3 perfbench/census.py seed:1 path/to/sf0.01 > census.md

Run from the repository root. Each argument is a data source: `seed:N`
generates the benchmark's sf0.01 tables from seed N, anything else is a
directory holding the ten tables. For each source, every query in
`SparkEntry.queries` runs once, cold and traced, in one session. The output
is markdown: the share of queries that use each layer, then one row per
query with its census on every source (shuffle exchanges, broadcasts,
CodegenFallback expressions, in-memory scans, jobs run inside the builder,
jobs run by the count, and the cold seconds), then the sweep's sample as
chosen from the first source's census.

The sample is systematic: every (276 / SAMPLE)-th query of the sorted
catalogue. Of the possible offsets, those whose sample reaches every layer
are kept, and the one whose per-layer shares are closest to the whole
catalogue's (least sum of absolute differences) wins.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import run  # noqa: E402

FIELDS = ["exchanges", "broadcasts", "fallback_exprs", "cache_scans", "build_jobs", "exec_jobs"]
SHORT = ["exch", "bcast", "fallback", "cache", "build.jobs", "exec.jobs"]
SAMPLE = 16


def shares(names, result):
    """Per layer, the share of the queries whose census uses it."""
    return [sum(1 for n in names if (result[n]["census"] or {}).get(f, 0) > 0) / len(names)
            for f in FIELDS]


def sample(names, result):
    full = shares(names, result)
    step = len(names) / SAMPLE
    best = None
    for off in range(int(step) + 1):
        sub = [names[int(off + i * step)] for i in range(SAMPLE)
               if int(off + i * step) < len(names)]
        s = shares(sub, result)
        if len(sub) < SAMPLE or min(s) == 0:
            continue
        dist = sum(abs(a - b) for a, b in zip(s, full))
        if best is None or dist < best[0]:
            best = (dist, sub, s)
    return best


def census(root, out, classpath, source):
    if source.startswith("seed:"):
        seed = int(source[5:])
        data = run.once(os.path.join(out, "data", f"tables-sf0.01-seed{seed}"),
                        lambda d: gen.tables(d, seed, 0.01))
    else:
        data = os.path.abspath(source)
    run_dir = os.path.join(out, "census", source.replace("/", "_").replace(":", "_"))
    os.makedirs(run_dir, exist_ok=True)
    run.java(classpath, ["--workload", "sweep", "--queries", "all", "--data", data,
                         "--out", run_dir, "--seconds", "0", "--trace", "1",
                         "--min-warm", "0", "--check", "0"],
             run_dir, os.path.join(run_dir, "harness.log"), timeout=3600)
    ops = json.load(open(os.path.join(run_dir, "result.json")))["body"]["ops"]
    return {op["name"]: op for op in ops}


def main():
    sources = sys.argv[1:]
    if not sources:
        sys.exit(__doc__)
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    classpath = run.build(root, out)
    results = [census(root, out, classpath, s) for s in sources]
    names = sorted(results[0])

    picked = sample(names, results[0])
    cols = [f"share on `{s}`" for s in sources] + ["share in the sample"]
    print("| layer | " + " | ".join(cols) + " |")
    print("| --- |" + " --- |" * len(cols))
    table = [shares(names, r) for r in results] + [picked[2] if picked else [0] * len(FIELDS)]
    for i, short in enumerate(SHORT):
        print(f"| {short} > 0 | " + " | ".join(f"{t[i]:.2f}" for t in table) + " |")
    errors = [sum(1 for n in names if r[n]["error"]) for r in results]
    print("| error | " + " | ".join(f"{e} of {len(names)}" for e in errors) + " | 0 |")
    print()
    cols = " / ".join(SHORT + ["cold s"])
    print("| query | " + " | ".join(f"`{s}`: {cols}" for s in sources) + " |")
    print("| --- |" + " --- |" * len(sources))
    for n in names:
        cells = []
        for r in results:
            op = r[n]
            if op["error"]:
                cells.append("error")
            else:
                c = op["census"]
                cells.append(" / ".join(str(c[f]) for f in FIELDS) + f" / {op['seconds']:.2f}")
        print(f"| {n} | " + " | ".join(cells) + " |")
    print()
    print(f"Sample of {SAMPLE}:" if picked else "No sample reaches every layer.")
    for n in picked[1] if picked else []:
        print(n)


if __name__ == "__main__":
    main()
