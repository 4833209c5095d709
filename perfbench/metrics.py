"""Pure metric arithmetic for run.py: latency percentiles, failure
accounting, span self time and the per-layer roll-up of a traced run."""
import math
import statistics

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(sorted_xs, p):
    """Nearest-rank percentile of an ascending list."""
    return sorted_xs[max(1, math.ceil(p / 100.0 * len(sorted_xs))) - 1]


def tail(samples, beyond=10):
    """(percentile, value): the highest percentile of TAIL_LADDER with at
    least ``beyond`` samples above its nearest rank. With fewer than
    2 * ``beyond`` samples not even the median qualifies, and the tail is
    reported at the median: no higher percentile can be told apart."""
    xs = sorted(samples)
    if not xs:
        return None, None
    best = (50.0, percentile(xs, 50.0))
    for p in TAIL_LADDER:
        if len(xs) - math.ceil(p / 100.0 * len(xs)) >= beyond:
            best = (p, percentile(xs, p))
    return best


def account(ops, oracle_failures):
    """(attempted, failed, latency samples, errors) over operation records.

    An operation fails if it threw, failed its own check, or is a query whose
    first result did not match its oracle; a failed operation gives no
    latency sample. Operations whose check fails on a known program defect
    (``known_defect``) are counted apart, in ``errors`` only."""
    attempted = failed = 0
    samples, errors = [], []
    for op in ops:
        err = op.get("error") or oracle_failures.get(op["op"])
        if op.get("known_defect"):
            if err:
                errors.append((op["op"], err, True))
            continue
        attempted += 1
        if err:
            failed += 1
            errors.append((op["op"], err, False))
        else:
            samples.append(op["latency_s"])
    return attempted, failed, samples, errors


def self_seconds(span, children):
    """A span's duration minus the part of it its children cover (the union
    of their intervals, clipped to the span), in seconds."""
    ivs = sorted((max(c["start_ms"], span["start_ms"]),
                  min(c["end_ms"], span["end_ms"])) for c in children)
    covered, lo, hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if hi is None or a > hi:
            if hi is not None:
                covered += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    if hi is not None:
        covered += hi - lo
    return (span["end_ms"] - span["start_ms"] - covered) / 1000.0


def _sum(xs, key):
    return float(sum(x["attrs"].get(key, 0) for x in xs))


def _dur(xs):
    return sum(x["end_ms"] - x["start_ms"] for x in xs) / 1000.0


def per_pass_layers(spans, cpus, file_bytes, exported_rows):
    """Per-layer metrics of every traced pass: {pass span id: {name: value}}.

    ``file_bytes`` is the ingest input file's size and ``exported_rows`` the
    rows the export step should keep; both only matter on ingest."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def pass_of(s):
        while s["name"] != "pass":
            s = by_id.get(s["parent"])
            if s is None:
                return None
        return s["id"]

    layers = {}
    for s in spans:
        if s["name"] != "pass":
            p = pass_of(s)
            if p is not None:
                layers.setdefault(p, {}).setdefault(s["name"], []).append(s)

    def jobs(parents, kind=None):
        return [j for p in parents for j in kids.get(p["id"], [])
                if j["name"] == "spark.job" and
                (kind is None or j["attrs"].get("kind") == kind)]

    out = {}
    for p, named in layers.items():
        get = lambda name: named.get(name, [])  # noqa: E731
        con, plan, ex = (get("operators.construct"), get("plans.plan"),
                         get("fullexec.exec"))
        cj, ej = jobs(con), jobs(ex)
        exec_s = _dur(ex)
        busy = _sum(ej, "task_busy_ms") / 1000.0
        fetch, ing, exp, rb = (get("pipeline.fetch"), get("pipeline.ingest"),
                               get("pipeline.export"), get("pipeline.readback"))
        stream = get("streaming.stream")
        ij, xj, pj = jobs(ing), jobs(exp), jobs(fetch + ing + exp + rb)
        batch_ms = sorted(b for s in stream for b in s["attrs"].get("batch_ms", []))
        ingest_s = _dur(ing)
        stream_s = _dur(stream)
        m = {
            "operators.construct_s": _dur(con),
            "operators.construct_self_s": sum(
                self_seconds(c, kids.get(c["id"], [])) for c in con),
            "operators.eager_jobs": float(len(cj) - len(jobs(con, "schema"))),
            "operators.schema_jobs": float(len(jobs(con, "schema"))),
            "operators.session_cache_builds": _sum(con, "session_cache_builds"),
            "operators.session_cache_build_s": _sum(con, "session_cache_build_s"),
            "operators.codegen_compiles": _sum(con, "codegen_compiles"),
            "plans.plan_s": _dur(plan),
            "plans.exchanges": _sum(plan, "exchanges"),
            "fullexec.exec_s": exec_s,
            "fullexec.jobs": float(len(ej)),
            "fullexec.stages": _sum(ej, "stages"),
            "fullexec.tasks": _sum(ej, "tasks"),
            "fullexec.task_busy_s": busy,
            "fullexec.core_util": busy / (exec_s * cpus) if exec_s > 0 else 0.0,
            "fullexec.shuffle_write_bytes": _sum(ej, "shuffle_write_bytes"),
            "fullexec.shuffle_read_bytes": _sum(ej, "shuffle_read_bytes"),
            "fullexec.spill_bytes": _sum(ej, "spill_bytes"),
            "fullexec.codegen_compiles": _sum(ex, "codegen_compiles"),
            "fullexec.codegen_compile_s": _sum(ex, "codegen_compile_s"),
            "pipeline.fetch_s": _dur(fetch),
            "pipeline.ingest_s": ingest_s,
            "pipeline.export_s": _dur(exp),
            "pipeline.readback_s": _dur(rb),
            "pipeline.chain_s": _dur(fetch + ing + exp + rb),
            "sources.input_read_amp":
                _sum(ij, "input_bytes") / file_bytes if file_bytes else 0.0,
            "sources.output_bytes": _sum(pj, "output_bytes"),
            "sources.write_amp":
                _sum(pj, "output_bytes") / file_bytes if file_bytes else 0.0,
            "sources.jdbc_write_s": _dur(jobs(ing, "jdbc_write")),
            "sources.jdbc_read_amp": _sum(xj, "input_records") / exported_rows
            if exported_rows and xj else 0.0,
            "streaming.batches": _sum(stream, "batches"),
            "streaming.batch_p50_ms":
                float(statistics.median(batch_ms)) if batch_ms else 0.0,
            "streaming.rows": _sum(stream, "rows"),
            "streaming.rows_per_s":
                _sum(stream, "rows_in") / stream_s if stream_s else 0.0,
            "pipeline.ingest_rows_per_s":
                _sum(ing, "rows_in") / ingest_s if ingest_s else 0.0,
            "jvm.gc_s": _sum([by_id[p]], "gc_s"),
        }
        out[p] = m
    return out


def median_of(dicts):
    """Key-wise median of a list of equal-keyed dicts."""
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
