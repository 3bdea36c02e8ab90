#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the
harness (sbt, offline) into the checkout; later runs reuse the build while
the sources are unchanged. Each run then

  1. generates the workload's inputs from the seed (gen.py, no graft code),
  2. starts one JVM (perfbench.Main) on a session from GraftSession.get,
     which sets up and then times a fixed amount of work that takes about
     --seconds on a 4-core host (one catalog pass per 5 s, one etl job
     per 20 s, one curate job per 25 s, at least one),
  3. checks the outputs against DuckDB (check.py), outside the timing,
  4. writes a stamped report under .bench_work/results/ and prints it,
     then prints the result line: {"correct", "attempted", "failed",
     "metrics"} with the end-to-end metrics (--trace 0) or the per-layer
     metrics (--trace 1).

It exits non-zero when the result is wrong, an operation failed, or set-up
failed. Workloads: catalog, etl, curate (see BENCHMARK.json).
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
XMX = "3g"
JVM_TIMEOUT_S = 150

# Workload sizes. catalog's table seed is fixed: the run seed only reorders
# the queries, so every run times the same results against the same oracle.
CATALOG_SF, CATALOG_TABLE_SEED = 0.01, 42
ETL_SF = 0.01                       # 60k lineitem rows, staged as text
CURATE_DOCS, CURATE_VECTORS = 2000, 2000

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build

def source_hash():
    """sha256 over the sources that make up the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile graft and the harness unless this source tree is built."""
    digest = source_hash()
    stamp = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log("building graft and the harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [line for line in p.stdout.splitlines() if line.count(".jar") > 10][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f}s")
    return cp, digest


# ---------------------------------------------------------------- inputs

def generate(workload, seed, data):
    """Write the workload's inputs under `data`; returns row counts."""
    if workload == "catalog":
        return gen.write_tables(data, CATALOG_SF, CATALOG_TABLE_SEED)
    if workload == "etl":
        return gen.write_etl(data, ETL_SF, seed)
    return gen.write_curate(data, CURATE_DOCS, CURATE_VECTORS, seed)


# --------------------------------------------------------------- metrics

def timed_ops(r):
    """The operations of the timed region: etl's ladder rungs, which the
    traced run adds after it, are not."""
    return [o for o in r["ops"] if o["kind"] != "rung"]


def end_to_end(workload, r):
    ops = timed_ops(r)
    walls = [o["wall_s"] for o in ops]
    # catalog counts queries, etl source rows, curate input docs
    items = len(ops) if workload == "catalog" else sum(o["items"] for o in ops)
    return {"setup_s": r["setup_s"], "items_per_s": items / sum(walls) if walls else 0.0,
            "cpu_s": r["cpu_s"] / max(1, len(ops)), "heap_live_mb": r["heap_live_mb"]}


def op_percentiles(r):
    """Percentiles of the operation walls that the sample count supports
    (at least ten samples beyond each). At the current operation counts
    per run (8 queries, one job) not even the median is supported, so the
    report carries only the count."""
    walls = [o["wall_s"] for o in timed_ops(r)]
    top, n = stats.highest_supported(len(walls))
    return {"samples": n, "highest_supported_pct": top,
            "walls_s": {str(p): stats.percentile(walls, p)
                        for p in stats.PERCENTILES if top is not None and p <= top}}


def per_layer(r, e2e):
    """Every per-layer metric; zero where the workload does not call the
    layer. A span's time is seconds per call, a Spark count per timed
    operation; artifacts.* and session.* are the one-off builds. trace.*
    are the traced run's own end-to-end figures, over the same timed work
    as the untraced run's."""
    ops = timed_ops(r)
    n = max(1, len(ops))
    spans = r["spans"]
    self_s = stats.self_times(spans)
    timed = [s for s in spans if s["op"] >= 0]
    tot = stats.by_name(timed)
    setup = stats.by_name([s for s in spans if s["op"] < 0])
    sp = r["spark"]
    x = r["extra"]
    calls = {}
    for s_ in timed:
        calls[s_["name"]] = calls.get(s_["name"], 0) + 1
    per_call = lambda name: tot.get(name, 0.0) / calls[name] if name in calls else 0.0
    m = {
        "session.start_s": setup.get("session.start", 0.0),
        "artifacts.ivf_build_s": setup.get("artifacts.ivf_build", 0.0),
        "artifacts.pq_build_s": setup.get("artifacts.pq_build", 0.0),
        "artifacts.labels_build_s": setup.get("artifacts.labels_build", 0.0),
        "artifacts.hybrid_build_s": setup.get("artifacts.hybrid_build", 0.0),
        "spark.plan_s": per_call("spark.plan") if "spark.plan" in tot
        else sp.get("catalyst_phases_s", 0.0) / n,
        "spark.jobs": sp.get("jobs", 0.0) / n, "spark.stages": sp.get("stages", 0.0) / n,
        "spark.tasks": sp.get("tasks", 0.0) / n,
        "spark.task_run_s": sp.get("task_run_s", 0.0) / n,
        "spark.task_cpu_s": sp.get("task_cpu_s", 0.0) / n,
        "spark.slot_idle_s": (sum(o["wall_s"] for o in ops) * r["slots"]
                              - sp.get("task_run_s", 0.0)) / n,
        "spark.input_mb": sp.get("input_mb", 0.0) / n,
        "spark.shuffle_write_mb": sp.get("shuffle_write_mb", 0.0) / n,
        "spark.shuffle_read_mb": sp.get("shuffle_read_mb", 0.0) / n,
        "spark.spill_mb": sp.get("spill_mb", 0.0) / n,
        "jvm.gc_s": r["gc_s"], "jvm.jit_s": r["jit_s"],
        "e2e.op_samples": len(ops),
        "trace.items_per_s": e2e["items_per_s"], "trace.cpu_s": e2e["cpu_s"],
    }
    # etl: the ladder's rungs give each layer's share of the job, each
    # rung taken at its fastest run
    rung = [min((o["wall_s"] for o in r["ops"] if o["name"] == f"rung{k}"), default=0.0)
            for k in range(4)]
    open_s = (sum(self_s[s["id"]] for s in timed if s["name"] == "sources.open")
              / calls.get("sources.open", 1))
    read_s = rung[0]
    m.update({
        "sources.open_s": open_s, "sources.read_s": read_s,
        "sources.rows_per_s": x.get("source_rows", 0) / read_s if read_s else 0.0,
        "pipeline.build_s": per_call("pipeline.build"),
        "pipeline.transform_s": rung[1] - rung[0],
        "foreignkey.fetch_s": rung[2] - rung[1],
        "profiling.profile_s": per_call("profiling.profile"),
        "sinks.write_s": per_call("sinks.write"),
        "sinks.output_mb": x.get("sinks.output_mb", 0.0),
        "sinks.files": x.get("sinks.files", 0), "sinks.bytes_per_row": x.get("sinks.bytes_per_row", 0.0),
    })
    cand, ver = x.get("dedup.candidate_pairs", 0), x.get("dedup.verified_pairs", 0)
    m.update({
        "dedup.exact_s": per_call("dedup.exact"), "dedup.pairs_s": per_call("dedup.pairs"),
        "dedup.cc_s": per_call("dedup.cc"), "dedup.cc_jobs": x.get("dedup.cc_jobs", 0),
        "dedup.minhash_pairs": x.get("dedup.minhash_pairs", 0),
        "dedup.candidate_pairs": cand, "dedup.verified_pairs": ver,
        "dedup.pair_yield": ver / cand if cand else 0.0,
        "dedup.kept_ratio": x.get("dedup.kept_ratio", 0.0),
        "similarity.ivf_build_s": per_call("similarity.ivf_build"),
        "similarity.probe_s": per_call("similarity.probe"),
        "similarity.recall_at_10": x.get("similarity.recall_at_10", 0.0),
    })
    trig = r["triggers"]
    med = lambda key: stats.percentile([t["durations"].get(key, 0) / 1e3 for t in trig], 50) if trig else 0.0
    m.update({
        "streaming.trigger_s": med("triggerExecution"), "streaming.addbatch_s": med("addBatch"),
        "streaming.getbatch_s": med("getBatch"), "streaming.walcommit_s": med("walCommit"),
        "streaming.state_rows": max([t["state_rows"] for t in trig], default=0),
        "streaming.state_mb": max([t["state_bytes"] for t in trig], default=0) / 1048576.0,
        "streaming.late_dropped": sum(t["late_dropped"] for t in trig),
        "streaming.triggers": len(trig) / n,
    })
    return m


def spec():
    """BENCHMARK.json: the metric names and units this script must print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def git_revision():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["catalog", "etl", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    load_before = os.getloadavg()[0]
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(build.sbt and src/main/scala/graft not found)")
    cp, digest = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    data = os.path.join(WORK, "inputs", f"{a.workload}-seed{a.seed}")
    run = os.path.join(WORK, "run", a.workload)
    for d in (data, run):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(run)
    t0 = time.time()
    sizes = generate(a.workload, a.seed, data)
    inputs_hash = gen.content_hash(data)
    log(f"inputs {inputs_hash[:12]} generated in {time.time() - t0:.1f}s")

    cores = len(os.sched_getaffinity(0))
    report_path = os.path.join(run, "report.json")
    cmd = (["java", f"-Xmx{XMX}", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
              f"-Dspark.local.dir={os.path.join(run, 'spark-local')}",
              f"-Dderby.system.home={run}",
              "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
              "--data", data, "--work", run, "--out", report_path])
    os.makedirs(os.path.join(run, "tmp"))
    jvm_log = os.path.join(run, "jvm.log")
    t0 = time.time()
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    log(f"jvm finished in {time.time() - t0:.1f}s (exit {rc})")
    if rc != 0 or not os.path.exists(report_path):
        sys.stderr.write(open(jvm_log, errors="replace").read()[-6000:])
        raise SystemExit(f"perfbench: the benchmark JVM failed (exit {rc}); see {jvm_log}")
    r = json.load(open(report_path))

    t0 = time.time()
    fails = list(r["failures"])
    detail = {}
    if a.workload == "catalog":
        f, detail["oracles_compared"] = check.check_catalog(
            data, os.path.join(run, "catalog_results"), os.path.join(WORK, "oracle_cache"),
            inputs_hash)
        fails += f
    elif a.workload == "etl":
        fails += check.check_etl(data, os.path.join(run, "etl_out"))
    else:
        f, detail = check.check_curate(data, os.path.join(run, "curate_out"))
        fails += f
    log(f"checked in {time.time() - t0:.1f}s: {len(fails)} failure(s)")
    for msg in fails:
        log(f"FAIL {msg}")

    e2e = end_to_end(a.workload, r)
    layers = per_layer(r, e2e) if a.trace else None
    attempted = len(r["ops"])
    failed = sum(1 for o in r["ops"] if not o["ok"])
    wrong = len(fails) - len(r["failures"])
    correct = not fails
    wanted = spec()["per_layer" if a.trace else "end_to_end"]
    values = layers if a.trace else e2e
    if sorted(values) != sorted(m["name"] for m in wanted):
        raise SystemExit("perfbench: computed metrics do not match BENCHMARK.json: "
                         f"{sorted(set(values) ^ {m['name'] for m in wanted})}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    stamped = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "inputs_hash": inputs_hash, "input_sizes": sizes, "input_bytes": gen.dir_bytes(data),
        "nproc": cores, "slots": r["slots"], "xmx": XMX, "xmx_mb": r["xmx_mb"],
        "load_1m_before": load_before, "git_revision": git_revision(), "source_hash": digest,
        "fail_ratio": (failed + (1 if wrong else 0)) / max(1, attempted),
        "failures": fails, "check": detail, "end_to_end": e2e, "per_layer": layers,
        "op_percentiles": op_percentiles(r), "heap_collections": r["heap_collections"],
        "timed_s": r["timed_s"], "warm_s": r["warm_s"], "ops": r["ops"],
    }
    # tracing overhead: traced minus untraced end-to-end, same seed, once
    # both runs exist
    other = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{1 - a.trace}.json")
    if os.path.exists(other):
        o = json.load(open(other))["end_to_end"]
        traced, plain = (e2e, o) if a.trace else (o, e2e)
        stamped["tracing_overhead"] = {k: traced[k] - plain[k] for k in e2e}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump(stamped, f, indent=1)
    print(json.dumps({k: v for k, v in stamped.items() if k != "ops"}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed + (0 if correct or failed else 1), "metrics": metrics}))
    return 0 if correct and not failed else 1


if __name__ == "__main__":
    sys.exit(main())
