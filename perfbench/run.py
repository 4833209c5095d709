#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload driver_jobs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed
(perfbench/gen.py) and cached by seed under perfbench/work/.

A run launches the harness JVM (perfbench.Main) several times in a row.
Each process builds the session and runs the workload's warm pass (its
set-up time is measured from launch), then runs timed passes for its share
of ``--seconds``. A pass's wall time is the sum of its operations' timed
parts; the output checks between operations are not timed. With
``--trace 1`` one process runs traced and untraced passes alternately and
the per-layer metrics come from the traced ones.

Query results are checked against their DuckDB oracle with the comparison
dev/verify_local.py makes. The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it is a summary with every end-to-end number, the tail
percentile and sample count, the errors, and the run's environment.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
ORACLE_COMPARE = os.path.join(ROOT, "dev", "verify_local.py")
SUMMARY_UNITS = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "error_rate": "ratio", "peak_rss_mb": "MB", "pipeline_s": "s",
    "ingest_rows_per_s": "rows/s", "stream_rows_per_s": "rows/s"}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness unless this source tree is already built;
    return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    log("building program and harness with sbt ...")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"], cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env).returncode
    if rc != 0:
        die(f"build failed (exit {rc}); see perfbench/work/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip(), digest


def inputs(seed, spec, workload):
    """Generate (or reuse) the seed's inputs for ``workload``; return their
    directories."""
    import gen
    base = os.path.join(WORK, "data", f"seed{seed}")
    data = spec["data"]
    kind = "taxi" if workload == "ingest" else "sf"
    path = os.path.join(base, kind)
    if not os.path.exists(path + ".done"):
        shutil.rmtree(path, ignore_errors=True)
        if kind == "sf":
            gen.tables(path, seed, data["sf"])
        else:
            gen.taxi(path, seed, data["taxi_rows"], data["chunk_rows"])
        open(path + ".done", "w").close()
    return {kind: path}


def launch(cp, args, out_dir, limit_s=150):
    """Run the harness process (killed after ``limit_s``); return (seconds
    from launch to the end of its set-up, exit code)."""
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={out_dir}",
           "-cp", cp, "perfbench.Main", *args, "--out", out_dir]
    t0 = time.monotonic()
    setup = None
    with open(os.path.join(out_dir, "stderr.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, cwd=out_dir)
        watchdog = threading.Timer(limit_s, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.strip() == "PERFBENCH_SETUP_DONE" and setup is None:
                    setup = time.monotonic() - t0
            rc = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return setup, rc


def oracle_failures(data_dir, results_dir):
    """{query: message} for first results that differ from their oracle."""
    sys.path.insert(0, os.path.dirname(ORACLE_COMPARE))
    import verify_local
    buf = io.StringIO()
    # DuckDB may draw a progress bar straight on file descriptor 1; keep it
    # off the result stream
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        with contextlib.redirect_stdout(buf):
            verify_local.main(data_dir, results_dir)
    finally:
        os.dup2(saved, 1)
        os.close(saved)
    fails = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            name, _, msg = line[5:].partition(": ")
            fails[name] = "oracle: " + msg
    return fails


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    wl = spec["workloads"].get(a.workload)
    if wl is None:
        die(f"unknown workload {a.workload!r}")
    for need in (PROGRAM, ORACLE_COMPARE):
        if not os.path.exists(need):
            die(f"not a graft checkout: {os.path.relpath(need, ROOT)} is missing")

    cp, digest = build()
    dirs = inputs(a.seed, spec, a.workload)
    load_before = loadavg()
    out = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    passes = max(1, round(a.seconds / wl["pass_seconds"]))
    setup, rc = launch(cp, [
        "--workload", a.workload, "--queries", ",".join(wl.get("queries", [])),
        "--data", dirs.get("sf", ""), "--taxi", dirs.get("taxi", ""),
        "--passes", str(passes), "--trace", str(a.trace)], out)
    if rc != 0 or setup is None:
        die(f"harness failed (exit {rc}); see "
            f"{os.path.relpath(out, ROOT)}/stderr.log", 1)

    ops = read_jsonl(os.path.join(out, "ops.jsonl"))
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    oracle = {} if a.workload == "ingest" else \
        oracle_failures(dirs["sf"], os.path.join(out, "results"))
    attempted, failed, samples, errors = metrics.account(ops, oracle)
    walls = {}
    for op in ops:
        key = (op["pass"], op["traced"])
        walls[key] = walls.get(key, 0.0) + op["latency_s"]
    untraced = [w for (_, t), w in walls.items() if not t]
    tail_p, tail_v = metrics.tail(samples)
    p50 = statistics.median(samples) if samples else None
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "setup_s": setup, "wall_s": statistics.median(untraced),
        "passes": len(walls), "query_p50_s": p50, "query_tail_s": tail_v,
        "query_tail_percentile": tail_p, "query_samples": len(samples),
        "error_rate": len(errors) / len(ops) if ops else None,
        "errors": sorted({f"{op}: {msg}" + (" [known defect]" if known else "")
                          for op, msg, known in errors}),
        "peak_rss_mb": run["peak_rss_mb"],
        "warm_failures": run["warm_failures"],
        "env": {"cpus": run["cpus"], "loadavg_before": load_before,
                "loadavg_after": loadavg(), "spark": run["spark_version"],
                "java": run["java_version"], "seed": a.seed,
                "git_commit": git_commit(), "source_sha256": digest},
    }
    if a.workload == "ingest":
        summary.update(ingest_summary(ops, dirs["taxi"]))
    summary["units"] = {k: u for k, u in SUMMARY_UNITS.items() if k in summary}

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if a.trace:
        counts = {}
        if a.workload == "ingest":
            with open(os.path.join(dirs["taxi"], "counts.json")) as f:
                counts = json.load(f)
        layers = metrics.per_pass_layers(
            read_jsonl(os.path.join(out, "spans.jsonl")), run["cpus"],
            counts.get("file_bytes", 0), min(100000, counts.get("kept", 0)))
        vals = metrics.median_of(list(layers.values()))
        traced = [w for (_, t), w in walls.items() if t]
        settled = [w for (p, t), w in walls.items() if not t and p > 0]
        vals["trace.overhead"] = \
            statistics.median(traced) / statistics.median(settled) - 1.0
        vals["jvm.peak_rss_mb"] = run["peak_rss_mb"]
        summary["per_layer"] = vals
    else:
        vals = {k: summary[k] for k in
                ("setup_s", "wall_s", "query_p50_s", "query_tail_s")}
    want = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    print(json.dumps({"summary": summary}, default=str))
    absent = [k for k in want if vals.get(k) is None]
    if absent:
        die(f"run produced no value for {absent}", 1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in want}}))


def ingest_summary(ops, taxi_dir):
    """The ingest workload's own end-to-end numbers, medians over passes."""
    with open(os.path.join(taxi_dir, "counts.json")) as f:
        rows = json.load(f)["rows"]

    def med(name):
        xs = [op["latency_s"] for op in ops if op["op"] == name and not op["error"]]
        return statistics.median(xs) if xs else None

    chain = {}
    for op in ops:
        if op["op"] in ("fetch", "ingest", "export", "readback"):
            chain[op["pass"]] = chain.get(op["pass"], 0.0) + op["latency_s"]
    ingest, stream = med("ingest"), med("stream")
    return {
        "pipeline_s": statistics.median(chain.values()),
        "ingest_rows_per_s": rows / ingest if ingest else None,
        "stream_rows_per_s": rows / stream if stream else None,
        "step_s": {n: med(n) for n in ("ingest", "export", "readback", "stream")},
        "input_rows": rows}


if __name__ == "__main__":
    main()
