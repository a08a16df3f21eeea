#!/usr/bin/env python3
"""The engine benchmark: one workload per invocation, run from the root of
a source checkout.

    python3 perfbench/run.py --workload dashboard|ingest|retrieval \
        --seed N --seconds S --trace 0|1 [--smoke]

It builds the engine and the harness from source (sbt, first run only),
generates the workload's inputs from the seed, runs the JVM harness
(`graft.perfbench.Main`) at local[nproc], checks every output, and prints
the metrics. The last line of standard output is the result:

    {"correct": true, "attempted": 20, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from the tracing listeners. --smoke runs one operation on
sf0.001-sized inputs (see smoke_test.py). README.md describes the
workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DEADLINE_S = 170
P90_MIN_SAMPLES = 100

# table sizes per workload: (events, documents, embeddings)
SIZES = {
    "dashboard": (20_000, 0, 0),
    "retrieval": (0, 1_000, 1_000),
    "ingest": (0, 1_000, 0),
    "curate": (0, 1_000, 0),
}
SMOKE_SIZES = {
    "dashboard": (1_000, 0, 0),
    "retrieval": (0, 500, 500),
    "ingest": (0, 500, 0),
    "curate": (0, 500, 0),
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, deadline, **kw):
    """Run `cmd` in its own process group; kill the group at `deadline`."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_digest():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building the engine and the harness with sbt")
    deadline = time.monotonic() + 840
    # sbt's locks, sockets and scratch files stay inside the checkout
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", f"-Dsbt.ipcsocket.tmpdir={tmp}",
           "-J-XX:-UsePerfData", "compile"]
    env = dict(os.environ, JAVA_TOOL_OPTIONS=" ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])))
    rc = run_bounded(cmd, deadline, cwd=HERE, env=env, stdout=sys.stderr,
                     stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"sbt compile failed with exit code {rc}")
    with open(STAMP, "w") as f:
        f.write(digest)


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def oracle_check(data, root):
    """Compare each query's warm-up result with its DuckDB oracle the way
    dev/check.py does: columns sorted by name, equal row counts, equal
    dtype kinds, and row-order-sensitive exact equality. Returns
    {query: None if equal, else the reason}."""
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{root}/duckdb'")
    con.execute(f"SET home_directory = '{root}/duckdb'")
    for f in os.listdir(data):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    with open(os.path.join(root, "oracle.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in sorted(oracle):
        got_dir = os.path.join(root, "verify", name)
        if name not in oracle or not os.path.isdir(got_dir):
            out[name] = "no oracle or no result"
            continue
        try:
            exp = con.sql(oracle[name]).df()
            got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
        except Exception as e:  # a failing oracle is a failed check
            out[name] = f"oracle error: {e}"
            continue
        exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
        why = None
        if list(exp.columns) != list(got.columns):
            why = f"columns {list(exp.columns)} vs {list(got.columns)}"
        elif len(exp) != len(got):
            why = f"rows {len(exp)} vs {len(got)}"
        else:
            for c in exp.columns:
                e, g = exp[c].values, got[c].values
                if exp[c].dtype.kind != got[c].dtype.kind:
                    why = f"dtype of {c}: {exp[c].dtype} vs {got[c].dtype}"
                    break
                if exp[c].dtype.kind == "f":
                    eq = (e == g) | (pd.isna(e) & pd.isna(g))
                else:
                    eq = (pd.Series(e).astype(object).fillna("\0NULL")
                          == pd.Series(g).astype(object).fillna("\0NULL")).values
                if not eq.all():
                    i = int(np.argmin(eq))
                    why = f"{c} row {i}: {e[i]!r} vs {g[i]!r}"
                    break
        out[name] = why
    con.close()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        sys.exit(f"no engine sources under {ENGINE_SRC}: run from a source checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("SPARK_HOME must name a Spark distribution")
    digest = source_digest()
    build(digest)
    deadline = time.monotonic() + DEADLINE_S  # a first-run build has its own limit

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    root = os.path.join(HERE, ".runs", f"{tag}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    os.makedirs(os.path.join(root, "tmp"))
    try:
        sys.path.insert(0, HERE)
        import gen
        sizes = (SMOKE_SIZES if args.smoke else SIZES)[args.workload]
        gen.write_all(data, args.seed, *sizes)

        record_file = os.path.join(results, f"{tag}.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={root}/tmp"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")]),
                "graft.perfbench.Main", "--workload", args.workload,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--data", data, "--root", root,
                "--out", record_file]
        if args.smoke:
            cmd += ["--max-ops", "1"]
        rc = run_bounded(cmd, deadline, cwd=root, stdout=sys.stderr,
                         stdin=subprocess.DEVNULL)
        if rc != 0:
            sys.exit(f"the harness exited with code {rc}")
        with open(record_file) as f:
            rec = json.load(f)

        checks = rec["checks"]
        failed = rec["failed"]
        if args.workload in ("dashboard", "retrieval"):
            for name, why in oracle_check(data, root).items():
                checks.append({"name": f"oracle:{name}", "ok": why is None,
                               "detail": why or "equal"})
                if why is not None:
                    # every timed run of a wrong query is a wrong result
                    failed += rec["op_names"].count(name)
        attempted = rec["attempted"]
        if attempted < 1:
            sys.exit("no operation ran")
        correct = failed == 0 and all(c["ok"] for c in checks)

        lat = rec["latencies_s"]
        e2e = {
            "setup_s": (rec["setup_s"], "s"),
            "op_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
            "throughput_per_s": (rec["units"] / rec["wall_s"] if rec["wall_s"] else 0.0,
                                 "1/s"),
            "retained_heap_mb": (rec["retained_heap_mb"], "MB"),
        }
        # a percentile is reported only with ten samples beyond it
        if len(lat) >= P90_MIN_SAMPLES:
            e2e["op_p90_s"] = (statistics.quantiles(lat, n=10, method="inclusive")[8], "s")
        context = dict(rec["context"], git_commit=git_commit(), source_sha256=digest,
                       workload=args.workload, samples=len(lat),
                       unit_of_work="queries" if args.workload in ("dashboard", "retrieval")
                       else "documents")
        rec.update(checks=checks, failed=failed, correct=correct, context=context,
                   end_to_end={k: {"value": v, "unit": u} for k, (v, u) in e2e.items()})
        with open(record_file, "w") as f:
            json.dump(rec, f, indent=1)

        log(f"context {json.dumps(context)}")
        bad = [c for c in checks if not c["ok"]]
        log(f"checks: {len(checks) - len(bad)}/{len(checks)} passed"
            + "".join(f"\n  FAILED {c['name']}: {c['detail']}" for c in bad))
        print(f"{args.workload}: " + " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in e2e.items())
              + f" failed_ratio={failed / attempted:.6g} ratio samples={len(lat)}"
              + ("" if "op_p90_s" in e2e else f" (op_p90_s omitted: under {P90_MIN_SAMPLES} samples)"))
        if args.trace:
            metrics = rec["per_layer"]
            print(f"{args.workload} per-layer: " + " ".join(
                f"{k}={m['value']:.6g} {m['unit']}" for k, m in sorted(metrics.items())))
            print(f"spans: {rec['spans_file']}")
        else:
            metrics = rec["end_to_end"]
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
