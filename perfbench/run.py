#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness with sbt (perfbench/build.sbt depends on the root build); later
runs reuse the build while the sources are unchanged. Inputs are made from
--seed, the harness runs the workload in a fresh JVM and Spark session,
every output is checked against DuckDB, and the last line of stdout is
one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). Everything the run writes stays under the
build directory ($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

# Workload name -> definition. "sf" scales the generated tables; "rows" and
# "files" size the generated deliveries CSV.
WORKLOADS = {
    "sweep-sf0.01": {"kind": "sweep", "queries": "queries.txt", "sf": 0.01},
    "etl-deliveries-100k": {"kind": "etl", "rows": 100_000, "files": 8},
}

JVM_HEAP = "3g"
# the harness gets this long; a run must end within 180 s
RUN_TIMEOUT_S = 150
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint(root):
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) if "/target" not in d
            for f in fs)
        for f in files:
            h.update(f[len(root):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp, cp_file = os.path.join(out, "build.stamp"), os.path.join(out, "classpath.txt")
    fp = fingerprint(root)
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file):
        return open(cp_file).read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=os.path.join(root, "perfbench"), env=env, stdout=fh,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        fail(f"build failed (see {log})")
    shutil.copy(os.path.join(root, "perfbench", "target", "classpath.txt"), cp_file)
    classpath = open(cp_file).read()
    oracle = os.path.join(out, "oracle_sql.json")
    java(classpath, ["--dump-oracle", oracle], out, os.path.join(out, "oracle.log"))
    with open(stamp, "w") as fh:
        fh.write(fp)
    return classpath


def java(classpath, args, cwd, log, timeout=RUN_TIMEOUT_S, meanwhile=None):
    """Runs the harness and waits for it; it never outlives this process.

    meanwhile = (marker, work): once the harness creates the file marker,
    work() runs while the harness goes on; its result is returned."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
           + ADD_OPENS + ["-cp", classpath, "perfbench.Main"] + args)
    deadline = time.monotonic() + timeout
    result = None
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            if meanwhile:
                marker, work = meanwhile
                while proc.poll() is None and not os.path.exists(marker):
                    if time.monotonic() > deadline:
                        fail(f"harness timed out (see {log})")
                    time.sleep(0.2)
                if os.path.exists(marker):
                    result = work()
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"harness timed out (see {log})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        fail(f"harness exited with {rc} (see {log})")
    return result


def once(path, make):
    """Runs make(tmp) and renames tmp to path, unless path already exists."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, path)
    return path


def quantile(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def load_avg():
    return os.getloadavg()[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the harness JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: the program's sources are not here")
    # the output checks use the oracle gate's canonicalisation
    sys.path.insert(0, os.path.join(root, "tools"))
    import check
    w = WORKLOADS[a.workload]
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)

    load_start = load_avg()
    if w["kind"] == "sweep":
        data = once(os.path.join(out, "data", f"tables-sf{w['sf']}-seed{a.seed}"),
                    lambda d: gen.tables(d, a.seed, w["sf"]))
    else:
        data = once(os.path.join(out, "data", f"deliveries-{w['rows']}-seed{a.seed}"),
                    lambda d: gen.deliveries(os.path.join(d, "csv"), a.seed, w["rows"], w["files"]))
    run_dir = os.path.join(out, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", w["kind"], "--data", data,
            "--out", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if w["kind"] == "sweep":
        args += ["--queries", os.path.join(HERE, w["queries"])]
    else:
        args += ["--etl-conf", os.path.join(HERE, "etl-deliveries.yaml")]
    # The sweep's expected results come from DuckDB while the harness,
    # its timed passes over, writes the results to check: overlapping the
    # two keeps a run inside the benchmark's time budget.
    meanwhile = None
    if w["kind"] == "sweep":
        sql = json.load(open(os.path.join(out, "oracle_sql.json")))
        names = [n for n in (line.strip() for line in open(os.path.join(HERE, w["queries"])))
                 if n and not n.startswith("#")]
        meanwhile = (os.path.join(run_dir, "timed.done"),
                     lambda: check.oracle(data, {n: sql[n] for n in names}))
    expected = java(classpath, args, run_dir, os.path.join(run_dir, "harness.log"),
                    meanwhile=meanwhile)
    res = json.load(open(os.path.join(run_dir, "result.json")))
    body = res["body"]

    # output checks, outside the timed run
    if w["kind"] == "sweep":
        if expected is None:
            fail("the harness ended before its timed passes did")
        ops = body["ops"]
        names = sorted({op["name"] for op in ops})
        bad = dict(body["check_errors"])
        for n in names:
            if n in bad:
                continue
            rows, err = check.compare(os.path.join(run_dir, "check"), n, expected[n])
            counts = {op["rows"] for op in ops if op["name"] == n}
            if err is None and counts != {rows}:
                err = f"counted {sorted(counts)} rows, result has {rows}"
            if err:
                bad[n] = err
        failed = [op for op in ops if op["error"] or op["name"] in bad]
        attempted = len(ops)
        passes = body["passes"]
        cold, warm = passes[0], statistics.median(passes[1:])
        lat = [op["seconds"] for op in ops if op["pass"] > 1]
        input_rows = sum(pq.ParquetFile(p).metadata.num_rows
                         for p in glob.glob(os.path.join(data, "*.parquet")))
    else:
        jobs = body["jobs"]
        expected = check.etl_expected(os.path.join(data, "csv"))
        rows_out = int(expected["n"].sum())
        err = check.etl_compare(body["output"], expected)
        bad = {"output": err} if err else {}
        failed = [j for j in jobs if j["error"] or j["rows"] != rows_out or err]
        for j in jobs:
            if j["rows"] != rows_out and not j["error"]:
                bad.setdefault("rows_out", f"{j['rows']} != {rows_out}")
        attempted = len(jobs)
        if a.trace:
            # the traced run's check that its copy of EtlRunner.run's
            # sequence still matches the program counts as one operation
            attempted += 1
            if body["drift_error"]:
                bad["trace"] = body["drift_error"]
                failed.append({"error": body["drift_error"]})
        times = [j["seconds"] for j in jobs]
        # warm jobs speed up while the JIT settles; the last three are the
        # steady state whatever the number of jobs that fit
        lat = times[1:][-3:]
        cold, warm = times[0], statistics.median(lat)
        input_rows = w["rows"]
    for n, e in sorted(bad.items()):
        print(f"FAIL {n}: {e}")
    for op in (body.get("ops") or body.get("jobs")):
        if op.get("error"):
            print(f"FAIL {op.get('name', 'etl job')}: {op['error']}")
    load_end = load_avg()

    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "start_s": (res["start_s"], "s"),
        "cold_s": (cold, "s"),
        "warm_s": (warm, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "rows_per_s": (input_rows / warm, "1/s"),
    }
    # printed, not bounded: a p90 needs ten samples beyond it, and a run
    # has about five (sweep) or none (etl); the other two are 0 on some
    # workloads, so a relative bound on them has no base
    info = {
        "query_p90_s": (quantile(lat, 90), f"s (n={len(lat)})"),
        "pinned_mb": (res["pinned_bytes"] / 2**20, "MB"),
        "failed_frac": (len(failed) / attempted, f"ratio ({len(failed)}/{attempted})"),
        "load_avg_start": (load_start, "load"),
        "load_avg_end": (load_end, "load"),
    }
    declared = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.trace:
        layers = dict(body["layers"])
        layers["trace.cold_s"] = layers.pop("pass_s.cold")
        layers["trace.warm_s"] = layers.pop("pass_s.warm")
        layers["host.load_avg_start"] = load_start
        layers["host.load_avg_end"] = load_end
        values = layers
    else:
        values = {k: v for k, (v, _) in e2e.items()}
    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared[kind]}
    with open(os.path.join(run_dir, "metrics.json"), "w") as fh:
        json.dump(values, fh, indent=1, sort_keys=True)
    # keep the run's records, drop its bulky outputs
    for d in ("check", "etl-out", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    traced = " (traced run)" if a.trace else ""
    for k, (v, u) in list(e2e.items()) + list(info.items()):
        print(f"{a.workload} {k} = {v:.6g} {u}{traced}")
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
