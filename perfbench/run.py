#!/usr/bin/env python3
"""graft benchmark: one workload per run, checked, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus-refresh --seed 1 \
        --seconds 12 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the library's
sources with the harness) when any source changed, generates the seeded
inputs, runs the workload in one JVM with `local[4]`, checks its outputs
and prints human-readable lines followed by the result line:

    {"correct": …, "attempted": …, "failed": …, "metrics": {…}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics (and writes the spans and job attribution under
`.perfbench/traces/`). Everything the run writes stays under
`.perfbench/` in the checkout. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(STATE, "build")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the benchmark's directory holds only its files

# A run must end within 180 s. The clock starts once the lock is held and
# the build is done, so a building run gets its build time on top.
BUDGET_S = 170
# Set-ups per run; setup_s reports their median. Two, not more: a set-up
# is 5-30 s here, and an automated comparison's 70 runs must fit 3,420 s.
SETUPS = 2

# Workload sizes. Fixed per-action cost dominates all three, so the sizes
# are set by how many operations fit in a run, not by data volume.
# On a 4-core host a 12 s window runs 2 refreshes of ~8.5 s, 2 ingests
# of ~4 s beside 5 requests, or 3 passes of ~9 s; n_batches and n_ingests
# leave room for a program about three times as fast. The request rate keeps
# the one-at-a-time server below capacity while ingests run beside it.
WORKLOADS = {
    "corpus-refresh": {"batch_docs": 300, "n_batches": 8},
    "docstore-serve": {"store_docs": 300, "ingest_docs": 20, "n_ingests": 6,
                       "rate": 0.4},
    "warehouse-scan": {"scale": 2},
}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("items_per_s", "1/s")]
LAYER_FILES = ["Pipelines", "Dedup", "IndexGen", "Caches", "Graphs", "Sampling",
               "TextOps", "DocStore", "Similarity", "Streaming", "Temporal", "SparkEntry",
               "perfbench", "other", "unattributed"]
SCAN_QUERIES = ["q1_agg", "q3_shipping_priority", "q5_local_supplier",
                "q10_returned_items", "q18_large_volume", "q_asof_backward",
                "q_session", "q_window_join", "q_interval_join"]
PER_LAYER = (
    ["pipelines.call_s", "pipelines.tail_s", "pipelines.kept_ratio",
     "dedup.exact_drop_ratio", "dedup.near_drop_ratio",
     "indexgen.bytes", "indexgen.files", "indexgen.generations",
     "docstore.service_s", "docstore.queue_wait_s", "docstore.jobs_per_req",
     "docstore.tasks_per_req", "docstore.extend_s", "docstore.kept_ratio",
     "streaming.trigger_s", "streaming.add_batch_s", "streaming.query_planning_s",
     "streaming.wal_commit_s", "streaming.rows_per_s",
     "spark.driver.analysis_s", "spark.driver.optimization_s",
     "spark.driver.planning_s", "spark.driver.gap_s",
     "spark.sched.jobs", "spark.sched.jobs_outside_spans", "spark.sched.stages",
     "spark.sched.tasks", "spark.sched.broadcast_builds", "jvm.peak_rss_mb"]
    + [f"spark.sched.jobs_by_file.{f}" for f in LAYER_FILES]
    + ["spark.exec.task_run_s", "spark.exec.task_cpu_s", "spark.exec.deser_s",
       "spark.exec.gc_s", "spark.exec.busy_ratio", "spark.shuffle.write_bytes",
       "spark.shuffle.read_bytes", "spark.shuffle.spill_bytes"]
    + [f"scan.{q}_s" for q in SCAN_QUERIES]
    + ["trace_overhead_ratio"])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names)]
    for p in files:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources differ from the last build, pack
    the classes into one jar and dump a class-data archive of a short
    Spark job (README.md, "Start-up"). Returns (jar, source stamp)."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    jar = os.path.join(BUILD, "perfbench.jar")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, stamp
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log("building the harness and library (sbt compile)")
    t = time.time()
    blog = os.path.join(BUILD, "build.log")
    with open(blog, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                             "compile"], cwd=HERE, stdout=out,
                            stderr=subprocess.STDOUT).returncode
        if rc != 0:
            sys.exit(f"build failed (see {blog})")
        classes = os.path.join(HERE, "target", "scala-2.13", "classes")
        subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True,
                       stdout=out, stderr=subprocess.STDOUT)
        work = os.path.join(STATE, "work", "classlist")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        rc = subprocess.run(java_cmd(jar, ["classlist", work], dump=True),
                            stdout=out, stderr=subprocess.STDOUT,
                            timeout=300).returncode
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        log(f"no class-data archive (see {blog}); runs start without one")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return jar, stamp


def java_cmd(jar, args, dump=False):
    """The JVM command line. `dump` writes the class-data archive at
    exit; otherwise an existing archive is mapped at start."""
    flags = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if dump:
        flags.append(f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    elif os.path.exists(ARCHIVE):
        flags.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + flags +
            ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-cp", f"{jar}:/opt/spark/jars/*", "perfbench.Main"] + args)


def run_jvm(jar, workload, seed, seconds, trace, in_dir, deadline):
    """Run one workload in a fresh JVM that must end by `deadline`
    (a `time.time()` value); return its result object."""
    work = os.path.join(STATE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    opts = [f"{k}={v}" for k, v in WORKLOADS[workload].items()] + [f"seed={seed}"]
    cmd = java_cmd(jar, [workload, in_dir, work, str(seconds), str(trace),
                             str(SETUPS), out] + opts)
    with open(os.path.join(STATE, f"{workload}.jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"{workload}: JVM ran past the time budget and was stopped")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"{workload}: JVM exited with {rc} (see {STATE}/{workload}.jvm.log)")
    with open(out) as f:
        res = json.load(f)
    res["work_dir"] = work
    return res


def inputs(workload, seed):
    import gen
    p = WORKLOADS[workload]
    if workload == "corpus-refresh":
        return gen.corpus(STATE, seed, p["batch_docs"], p["n_batches"])
    if workload == "docstore-serve":
        return gen.docstore(STATE, seed, p["store_docs"], p["ingest_docs"],
                            p["n_ingests"])
    return gen.warehouse(STATE, seed, p["scale"])


def tail(latencies, beyond=10):
    """Highest percentile with at least `beyond` samples above it:
    (value, percentile, samples), or None with too few samples."""
    n = len(latencies)
    if n <= beyond:
        return None
    s = sorted(latencies)
    idx = n - beyond - 1
    return s[idx], 100.0 * (idx + 1) / n, n


def end_to_end(workload, res):
    """The user-visible metrics, under the workload's own names (printed
    for people) and the benchmark's common names (the result line)."""
    named = {"setup_s": (res["setup_s"], "s"), "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    res.setdefault("layers", {})["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    if workload == "corpus-refresh":
        walls = [o["wall_s"] for o in res["ops"]]
        docs = sum(o["in_docs"] for o in res["ops"])
        named["refresh_p50_s"] = (statistics.median(walls), "s")
        named["refresh_docs_per_s"] = (docs / res["loop_s"], "docs/s")
        op, items = named["refresh_p50_s"][0], named["refresh_docs_per_s"][0]
    elif workload == "docstore-serve":
        reqs = [o for o in res["ops"] if o["kind"] == "request"]
        ing = [i["ingest_s"] for i in res["ingests"]]
        docs = [i["docs"] for i in res["ingests"]]
        # the median is over every timed request as measured; a failure
        # also counts as missing every latency limit, so for the tail a
        # failed request is infinitely slow
        named["serve_p50_s"] = (statistics.median(o["latency_s"] for o in reqs), "s")
        t = tail([o["latency_s"] if o["outcome"] == "ok" else float("inf")
                  for o in reqs])
        if t:
            named["serve_tail_s"] = (t[0], "s")
            named["serve_tail_pct"] = (t[1], "%")
        named["serve_samples"] = (len(reqs), "count")
        named["ingest_p50_s"] = (statistics.median(ing), "s")
        named["lateness_p50_s"] = (res["lateness_p50_s"], "s")
        op = named["serve_p50_s"][0]
        items = statistics.median(d / s for d, s in zip(docs, ing))
    else:
        suites = [sum(p.values()) for p in res["passes"]]
        named["scan_suite_s"] = (statistics.median(suites), "s")
        op = named["scan_suite_s"][0]
        items = len(SCAN_QUERIES) / op
    common = {"setup_s": res["setup_s"], "op_p50_s": op, "items_per_s": items}
    return named, common


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no library sources under src/main/scala/graft; "
                 "run from a checkout of the repository")
    os.makedirs(STATE, exist_ok=True)
    # one Spark JVM at a time in this checkout: benchmark runs serialize here
    lock = open(os.path.join(STATE, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    host = {"nproc": os.cpu_count(), "load_before": loadavg()}
    jar, stamp = build()
    end = time.time() + BUDGET_S
    in_dir = inputs(a.workload, a.seed)
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    # an untraced run's op_p50_s, for trace_overhead_ratio: same build,
    # sizes, workload, seed and window
    key = f"{a.workload}-s{a.seed}-t{a.seconds:g}"
    build_id = hashlib.sha256(json.dumps([stamp, SETUPS, WORKLOADS]).encode())
    ref = os.path.join(results, f"{key}-{build_id.hexdigest()[:16]}.json")
    if a.trace and not os.path.exists(ref):
        log("no untraced run of this build, workload and seed yet: running one")
        # half the time left, so the traced JVM keeps the other half
        plain = run_jvm(jar, a.workload, a.seed, a.seconds, 0, in_dir,
                        time.time() + (end - time.time()) / 2)
        save_reference(ref, end_to_end(a.workload, plain)[1], host)
        shutil.rmtree(plain["work_dir"], ignore_errors=True)
    res = run_jvm(jar, a.workload, a.seed, a.seconds, a.trace, in_dir, end - 3)
    import check
    if a.workload == "corpus-refresh":
        # pinned output digests hold for one input size only
        pins = json.load(open(os.path.join(HERE, "digests.json")))["corpus-refresh"]
        p = WORKLOADS["corpus-refresh"]
        if pins["size"] != f"{p['batch_docs']}x{p['n_batches']}":
            sys.exit("perfbench/digests.json pins another corpus size; re-pin it")
        attempted, failed, problems, info = check.corpus(
            res, in_dir, pins["seeds"].get(str(a.seed)))
    elif a.workload == "docstore-serve":
        attempted, failed, problems, info = check.docstore(res)
    else:
        attempted, failed, problems, info = check.warehouse(res, in_dir, res["work_dir"])
    named, common = end_to_end(a.workload, res)
    host["load_after"] = loadavg()
    for p in problems:
        log(f"CHECK FAILED: {p}")
    for k, (v, unit) in named.items():
        print(f"{a.workload} {k} = {round(v, 4)} {unit}")
    print(f"{a.workload} failed_ratio = {failed / max(attempted, 1):.4f} "
          f"({failed} of {attempted}; {json.dumps(info)[:300]})")
    print(f"host nproc={host['nproc']} load {host['load_before']:.2f} -> "
          f"{host['load_after']:.2f}")
    if a.trace:
        untraced = json.load(open(ref))["common"]["op_p50_s"]
        res["layers"]["trace_overhead_ratio"] = common["op_p50_s"] / untraced
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        keep = {k: res.get(k) for k in ("spans", "jobs_by_span_file",
                                        "jobs_per_op", "ops", "layers")}
        with open(os.path.join(traces, key + ".json"), "w") as f:
            json.dump(keep, f)
        metrics = {}
        for m in PER_LAYER:
            metrics[m] = {"value": res["layers"].get(m, 0.0), "unit": unit_of(m)}
    else:
        save_reference(ref, common, host)
        metrics = {m: {"value": common[m], "unit": u} for m, u in END_TO_END}
    shutil.rmtree(res["work_dir"], ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def save_reference(path, common, host):
    with open(path, "w") as f:
        json.dump({"common": common, "host": host}, f)


def unit_of(m):
    if m.endswith("rows_per_s"):
        return "rows/s"
    if m.endswith("_s"):
        return "s"
    if m.endswith("_mb"):
        return "MB"
    if m.endswith("_bytes") or m == "indexgen.bytes":
        return "bytes"
    if m.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
