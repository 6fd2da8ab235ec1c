"""Arithmetic that turns a harness record into benchmark metrics.

Kept free of I/O so tests/test_metrics.py can pin it down. Times are
epoch milliseconds (floats); intervals are (start, end) pairs.
"""
import statistics

TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail(samples, min_beyond=TAIL_MIN_BEYOND):
    """Highest percentile with at least `min_beyond` samples beyond it.

    Returns {"value", "percentile", "samples"}, or None (withheld) when
    the sample is too small to have such a percentile."""
    n = len(samples)
    if n < min_beyond + 1:
        return None
    s = sorted(samples)
    k = n - min_beyond - 1
    return {"value": s[k], "percentile": 100.0 * (k + 1) / n, "samples": n}


def covered(intervals, lo=None, hi=None):
    """Length of the union of `intervals`, clipped to [lo, hi] if given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    return (end - start) - covered(children, start, end)


def idle_ms(span, jobs):
    """Time inside `span` during which no job ran (jobs may overlap)."""
    return self_time(span, jobs)


def inside(spans, t):
    """Whether time t falls in one of the spans: a job or planning phase
    belongs to the span it starts in."""
    return any(a <= t <= b for a, b in spans)


def op_ms(op):
    return op["end"] - op["start"]


def samples(passes):
    """Latencies (ms) of the operations that returned, and the number of
    operations that threw. A throwing operation is a failure, never a
    (fast) sample."""
    ok, failed = [], 0
    for p in passes:
        for op in p["ops"]:
            if op.get("error") is None:
                ok.append(op_ms(op))
            else:
                failed += 1
    return ok, failed


def pass_ms(p):
    """Wall time of one pass: the sum of its operations, so work the
    benchmark does between operations (tracing probes, output counts)
    is excluded."""
    return sum(op_ms(op) for op in p["ops"])


def drift(passes):
    """Last ÷ first warm pass (settle passes included), over the untraced
    passes when there are two or more, else over all passes; 1.0 for a
    single pass."""
    seq = [p for p in passes if not p["traced"]]
    if len(seq) < 2:
        seq = passes
    if len(seq) < 2:
        return 1.0
    return pass_ms(seq[-1]) / pass_ms(seq[0])


def check_keys(check, expected):
    """Keys whose collected result differs from its expected digest (or
    that threw, or have no expected digest): {key: reason}. A mode
    suffix (`q67_x@reliable`) is checked against the plain key's digest."""
    bad = {}
    for key, got in check.items():
        exp = expected.get(key.split("@")[0])
        if got.get("cols") is None:
            bad[key] = "threw"
        elif exp is None:
            bad[key] = "no expected digest"
        elif got["rows"] != exp["rows"]:
            bad[key] = f"rows {got['rows']} != {exp['rows']}"
        elif got["cols"] != exp["cols"]:
            cols = sorted(c for c in set(got["cols"]) | set(exp["cols"])
                          if got["cols"].get(c) != exp["cols"].get(c))
            bad[key] = f"columns differ: {cols}"
    return bad


def layer_metrics(trace, p, cores):
    """Per-layer numbers of one traced pass `p` with its listener trace."""
    ops = p["ops"]
    key_spans = [(o["start"], o["end"]) for o in ops]
    build_spans = [(o["start"], o["build_end"]) for o in ops if o.get("build_end")]
    sink_spans = [(o["build_end"], o["end"]) for o in ops if o.get("build_end")]
    jobs = [j for j in trace["jobs"] if inside(key_spans, j["start"])]
    job_ids = {j["id"] for j in jobs}
    build_jobs = [j for j in jobs if inside(build_spans, j["start"])]
    sink_jobs = [j for j in jobs if inside(sink_spans, j["start"])]
    stages = [s for s in trace["stages"] if s["job"] in job_ids]
    work_ms = sum(b - a for a, b in key_spans)
    build_ms = sum(b - a for a, b in build_spans)
    run_ms = sum(j["run_ms"] for j in jobs)
    cpu_ms = sum(j["cpu_ms"] for j in jobs)
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for q in trace["queries"]:
        for name, ph in q["phases"].items():
            if name in phases and inside(key_spans, ph["start"]):
                phases[name] += ph["end"] - ph["start"]
    intervals = [(j["start"], j["end"]) for j in jobs]
    commit = 0.0
    for a, b in sink_spans:
        ends = [j["last_task_end"] for j in sink_jobs
                if a <= j["start"] <= b and j["last_task_end"]]
        if ends:
            commit += max(0.0, b - max(ends))
    probes = trace["tables_probes"]
    return {
        "tables.load_ms": sum(x["end"] - x["start"] for x in probes),
        "tables.load_jobs": sum(x["jobs"] for x in probes),
        "build.ms": build_ms,
        "build.share": build_ms / work_ms if work_ms else 0.0,
        "build.jobs": len(build_jobs),
        "build.tasks": sum(j["tasks"] for j in build_jobs),
        "plan.analysis_ms": phases["analysis"],
        "plan.optimization_ms": phases["optimization"],
        "plan.planning_ms": phases["planning"],
        "codegen.compiles": p["codegen_compiles"],
        "codegen.compile_ms": p["codegen_ms"],
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(j["tasks"] for j in jobs),
        "exec.run_ms": run_ms,
        "exec.cpu_ms": cpu_ms,
        "exec.gc_ms": sum(j["gc_ms"] for j in jobs),
        "exec.busy_share": run_ms / (work_ms * cores) if work_ms else 0.0,
        "exec.cpu_share": cpu_ms / run_ms if run_ms else 0.0,
        "exec.single_task_stage_ms": sum(s["end"] - s["start"] for s in stages
                                         if s["tasks"] == 1),
        "exec.task_failures": sum(j["task_failures"] for j in jobs),
        "exec.stage_retries": sum(1 for s in stages if s["attempt"] > 0),
        "driver.idle_ms": sum(idle_ms(s, intervals) for s in key_spans),
        "shuffle.write_bytes": sum(j["shuffle_write"] for j in jobs),
        "shuffle.read_bytes": sum(j["shuffle_read"] for j in jobs),
        "shuffle.fetch_wait_ms": sum(j["fetch_wait_ms"] for j in jobs),
        "spill.bytes": sum(j["spill"] for j in jobs),
        "materialize.live_rdds": p["live_rdds"],
        "materialize.checkpoint_bytes": p["checkpoint_bytes"],
        "scan.records": sum(j["in_records"] for j in jobs),
        "scan.bytes": sum(j["in_bytes"] for j in jobs),
        "sink.records": sum(j["out_records"] for j in sink_jobs),
        "sink.bytes": sum(j["out_bytes"] for j in sink_jobs),
        "sink.commit_ms": commit,
    }


def per_key(trace, p):
    """Per-key, per-layer record of one traced pass: span durations and
    self times (a span minus what its child spans cover)."""
    out = {}
    for o in p["ops"]:
        key_span = (o["start"], o["end"])
        b = o.get("build_end") or o["end"]
        children = {"build": (o["start"], b), "sink": (b, o["end"])}
        jobs = [j for j in trace["jobs"] if key_span[0] <= j["start"] <= key_span[1]]
        plan = [(ph["start"], ph["end"]) for q in trace["queries"]
                for ph in q["phases"].values() if key_span[0] <= ph["start"] <= key_span[1]]
        rec = {"total_ms": op_ms(o), "error": o.get("error"),
               "key_self_ms": self_time(key_span, list(children.values()))}
        for name, span in children.items():
            inner = [(j["start"], j["end"]) for j in jobs if span[0] <= j["start"] <= span[1]]
            inner += [iv for iv in plan if span[0] <= iv[0] <= span[1]]
            rec[name + "_ms"] = span[1] - span[0]
            rec[name + "_self_ms"] = self_time(span, inner)
        rec["plan_ms"] = sum(b2 - a2 for a2, b2 in plan)
        rec["jobs"] = len(jobs)
        rec["tasks"] = sum(j["tasks"] for j in jobs)
        rec["exec_run_ms"] = sum(j["run_ms"] for j in jobs)
        rec["shuffle_bytes"] = sum(j["shuffle_write"] for j in jobs)
        out.setdefault(o["key"], []).append(rec)
    return out


def mean_dicts(ds):
    keys = ds[0].keys()
    return {k: sum(d[k] for d in ds) / len(ds) for k in keys}
