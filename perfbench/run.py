#!/usr/bin/env python3
"""piperspark benchmark: one workload, one JVM, one line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program from
../src together with the harness (sbt, offline) into perfbench/target;
later runs reuse the classes while the sources are unchanged. Inputs,
outputs and logs go to .bench_build/perfbench/ in the checkout.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The line before it is the full run record (settings, corpus mix, every
end-to-end figure including the ones without a bound, the per-key and
per-layer breakdown); the record is also written to
.bench_build/perfbench/records/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

SF = "sf0.01"
DATA = os.path.join(HERE, "data", SF)
EXPECTED = os.path.join(HERE, f"expected_{SF}.json")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

WORKLOADS = {
    "image_etl": {"images": 128},
    "curation_loops": {"keys": ["q67_dedup_clusters", "q119_pagerank@reliable"]},
    "short_keys": {"keys": [
        "q01_scan_count", "q06_join_broadcast", "q16_rollup",
        "q29_tumbling_window", "q33_text_stats", "q90_asof_native"]},
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "key_p50_ms": "ms"}
PER_LAYER_UNITS = {
    "session.start_ms": "ms", "tables.load_ms": "ms", "tables.load_jobs": "count",
    "build.ms": "ms", "build.share": "ratio", "build.jobs": "count",
    "build.tasks": "count", "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.busy_share": "ratio", "exec.cpu_share": "ratio",
    "exec.single_task_stage_ms": "ms", "exec.task_failures": "count",
    "exec.stage_retries": "count", "driver.idle_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "materialize.live_rdds": "count", "materialize.checkpoint_bytes": "bytes",
    "scan.records": "count", "scan.bytes": "bytes",
    "pipeline.decode_us": "us", "pipeline.resize_us": "us",
    "pipeline.augment_us": "us", "pipeline.encode_us": "us",
    "pipeline.parallel_eff": "ratio",
    "sink.records": "count", "sink.bytes": "bytes", "sink.commit_ms": "ms",
    "trace.overhead": "ratio", "pass.drift": "ratio",
}

# The JVM the way the tier-1 suite forks its test JVM (build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def driver_mem():
    """Tier-1's SPARK_DRIVER_MEM: half the host memory in GiB, clamped to
    [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(home):
    digest = source_digest()
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return digest, False
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=home)
    opts = os.environ.get("SBT_OPTS") or "-Xmx4g"
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 1)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed; see {log}", 1)
    with open(stamp, "w") as f:
        f.write(digest)
    return digest, True


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(home, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    flags = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    flags += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{driver_mem()}", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    os.makedirs(os.path.join(work, "tmp"))
    cp = CLASSES + os.pathsep + os.path.join(home, "jars", "*")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    cmd = [java] + flags + ["-cp", cp, "graft.perfbench.Harness"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {log}", 1)
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}; see {log}", 1)
    return flags


def summarize(rec, expected, n_cores):
    """(result line, full record) from the harness record."""
    image = rec["corpus"] is not None
    passes = rec["passes"]
    measured = [p for p in passes if not p["settle"]]
    untraced = [p for p in measured if not p["traced"]]
    traced = [p for p in measured if p["traced"]]
    setup = rec["setup"]
    _, threw = metrics.samples(passes)
    lat_u, _ = metrics.samples(untraced)
    cold_failed = sum(1 for o in setup["ops"] if o.get("error") is not None)
    attempted = len(setup["ops"]) + sum(len(p["ops"]) for p in passes)
    if image:
        chk = rec["check"]
        exp = rec["corpus"]["decodable"]
        bad = chk.get("missing", 0) + chk.get("bad", 0) + chk.get("unexpected", 0) \
            + chk.get("duplicates", 0)
        wrong_rows = sum(1 for p in passes for o in p["ops"]
                         if o.get("error") is None and o.get("rows") != exp)
        images = max(exp, chk.get("rows", 0))
        attempted += images
        failed = threw + cold_failed + min(bad, images) + wrong_rows
        check_detail = dict(chk, warm_passes_with_wrong_row_count=wrong_rows)
    else:
        bad_keys = metrics.check_keys(rec["check"], expected)
        failed = threw + len(bad_keys)
        check_detail = {"keys_checked": len(rec["check"]), "mismatched": bad_keys}
    pass_s = metrics.median([metrics.pass_ms(p) / 1000 for p in untraced])
    e2e = {
        "setup_s": (setup["session_ms"] + setup["cold_pass_ms"]) / 1000,
        "pass_s": pass_s,
        "key_p50_ms": metrics.median(lat_u),
    }
    record_e2e = dict(e2e)
    record_e2e["peak_rss_mb"] = rec["peak_rss_kb"] / 1024
    record_e2e["key_tail_ms"] = metrics.tail(lat_u)
    record_e2e["images_per_s"] = rec["corpus"]["decodable"] / pass_s if image and pass_s else None
    record_e2e["failed_share"] = failed / attempted
    record_e2e["samples"] = len(lat_u)
    record_e2e["warm_passes"] = len(untraced)
    record_e2e["pass.drift"] = metrics.drift(passes)

    layers, keys = None, None
    if traced:
        per = [metrics.layer_metrics(t, p, n_cores)
               for t, p in zip(rec["traces"], traced)]
        layers = metrics.mean_dicts(per)
        layers["session.start_ms"] = setup["session_ms"]
        pipe = rec.get("pipeline") or {}
        for k in ("decode_us", "resize_us", "augment_us", "encode_us"):
            layers["pipeline." + k] = pipe.get(k, 0.0)
        per_image_us = sum(pipe.get(k, 0.0) for k in
                           ("decode_us", "resize_us", "augment_us", "encode_us"))
        layers["pipeline.parallel_eff"] = (
            record_e2e["images_per_s"] / (n_cores * 1e6 / per_image_us)
            if image and per_image_us and pass_s else 0.0)
        t_pass_s = metrics.median([metrics.pass_ms(p) / 1000 for p in traced])
        layers["trace.overhead"] = t_pass_s / pass_s if pass_s else 0.0
        layers["pass.drift"] = record_e2e["pass.drift"]
        keys = {}
        for t, p in zip(rec["traces"], traced):
            for k, v in metrics.per_key(t, p).items():
                keys.setdefault(k, []).extend(v)

    if traced:
        out_metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": out_metrics}
    record = {"workload": rec["workload"], "seed": rec["seed"], "trace": rec["trace"],
              "env": rec["env"], "corpus": rec["corpus"], "check": check_detail,
              "end_to_end": record_e2e, "per_layer": layers, "per_key": keys,
              "setup": {"session_ms": setup["session_ms"],
                        "cold_pass_ms": setup["cold_pass_ms"],
                        "cold_ms": {o["key"]: metrics.op_ms(o) for o in setup["ops"]},
                        "inputs_ms": setup["inputs_ms"], "check_ms": setup["check_ms"]},
              "passes": [{"settle": p["settle"], "traced": p["traced"],
                          "pass_ms": metrics.pass_ms(p),
                          "live_rdds": p["live_rdds"],
                          "checkpoint_bytes": p["checkpoint_bytes"],
                          "errors": {o["key"]: o["error"] for o in p["ops"]
                                     if o.get("error") is not None}}
                         for p in passes]}
    return result, record


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(WORKLOADS)}")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program sources missing ({need}); run from a full checkout")
    if not os.path.isdir(DATA):
        fail(f"fixture tables missing: {DATA}")
    w = WORKLOADS[a.workload]
    home = spark_home()
    os.makedirs(OUT, exist_ok=True)
    digest, built = build(home)

    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "record.json")
    n_cores = cores()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(n_cores), "--data", DATA,
            "--work", work, "--out", raw, "--keys", ",".join(w.get("keys", [])),
            "--images", str(w.get("images", 0))]
    # a run that compiled gets the per-run limit on top of the build
    deadline = (time.time() if built else started) + RUN_TIMEOUT_S
    flags = run_jvm(home, args, work, deadline)
    with open(raw) as f:
        rec = json.load(f)
    with open(EXPECTED) as f:
        expected = json.load(f)
    result, record = summarize(rec, expected, n_cores)
    record["settings"] = {"cores": n_cores, "master": f"local[{n_cores}]",
                          "heap": driver_mem(), "jvm_flags": flags,
                          "gc": rec["env"]["gc"], "jvm": rec["env"]["jvm"],
                          "git_commit": git_commit(), "source_sha256": digest,
                          "scale": SF, "seconds": a.seconds}
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(started)}.json"
    with open(os.path.join(OUT, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
