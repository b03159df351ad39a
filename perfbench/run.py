#!/usr/bin/env python3
"""The repository benchmark: one workload per call.

    python3 perfbench/run.py --workload route_paced --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark runner
from source on first use (sbt), generates the inputs from --seed, drives the
engine in a JVM (perfbench/src), checks every output, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

WORK = os.path.join(".bench_build", "perfbench")
WORKLOADS = ("route_drain", "route_paced", "query_mix")

# Workload sizes, fixed so results compare across commits. The set-ups'
# warm-up routes start the engine, not its sinks: their events all succeed,
# so set-up stays short; route_paced's own warm-up segment brings the sink
# paths to steady state before timing.
WARM_EVENTS = 1_000
DRAIN_EVENTS = 150_000
DRAIN_FILES = 16
PACED = {"rate": 5, "rows_per_file": 21, "dup_share": 0.02,
         "backoff_ms": 500, "retry_trigger_ms": 250, "warm_seconds": 16,
         "drains": 2}
QUERY_SCALE = 0.002
# Set-ups per run; setup_s is their median. The first one also warms the
# JVM, so a median needs at least two more; query_mix's set-ups are short
# (about 1 s), so it takes one more, and its median averages two of them.
SETUPS = {"route_drain": 3, "route_paced": 3, "query_mix": 4}

# The 24 headline queries at the time the benchmark was defined, copied here
# so a later registry edit cannot change the workload.
GROUPS = {
    "relational": ["q02_agg_pricing", "q03_join_revenue", "q07_window_rank",
                   "q09_topk", "q18_avg_subquery",
                   "q52_join_cardinality_preflight"],
    "temporal": ["q26_stream_join_inner", "a01_tumbling_window",
                 "a03_session_window", "a26_resample_locf", "q31_asof_join",
                 "q50_interval_join"],
    "corpus": ["d02_dedup_ngram_jaccard", "d03_dedup_minhash_lsh",
               "d04_dedup_simhash", "d25_hamming_block_join",
               "d27_overlap_join_rewrite", "d29_semi_overlap_decontam",
               "d33_jaccard_theta_rewrite", "s01_ann_bruteforce",
               "s18_ann_persisted_index", "t02_quality_score",
               "t04_fingerprint", "p01_training_corpus"],
}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def jvm_dirs(run_dir):
    """Keep the JVM's and Spark's temporary files inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]


def log(msg):
    print(msg, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha1()
    roots = ["build.sbt", os.path.join("project", "build.properties"), "src",
             os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties"),
             os.path.join("perfbench", "src")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + runner with sbt once per source state; returns the
    runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    log("perfbench: building engine and runner with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd="perfbench", capture_output=True, text=True,
        timeout=max(60, deadline - time.time()))
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and ":" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("sbt build failed")
    cp = os.pathsep.join(os.path.abspath(p) if not os.path.isabs(p) else p
                         for p in lines[-1].strip().split(os.pathsep))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp


def gen(*argv):
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), *argv],
                   check=True)


def prepare(workload, seed, run_dir):
    """Generate the workload's inputs from the seed, before any timing."""
    topics = os.path.join(run_dir, "topics")
    extra = {}
    if workload in ("route_drain", "route_paced"):
        gen("backlog", "--seed", str(seed), "--out", os.path.join(topics, "warm"),
            "--topic", "warm", "--truth", os.path.join(run_dir, "warm_truth.json"),
            "--events", str(WARM_EVENTS), "--files", "1", "--success-only")
    if workload in ("route_drain", "route_paced"):
        gen("backlog", "--seed", str(seed + 1), "--out", os.path.join(topics, "backlog"),
            "--topic", "backlog", "--truth", os.path.join(run_dir, "backlog_truth.json"),
            "--events", str(DRAIN_EVENTS), "--files", str(DRAIN_FILES))
    if workload == "route_paced":
        extra = {k: str(v) for k, v in PACED.items()}
        extra["gen"] = os.path.join(HERE, "gen.py")
        extra["python"] = sys.executable
        extra["seed"] = str(seed)
    if workload == "query_mix":
        data = os.path.join(run_dir, "tables")
        gen("tables", "--seed", str(seed), "--out", data, "--scale", str(QUERY_SCALE))
        extra = {"data": data,
                 "queries": ",".join(q for g in GROUPS.values() for q in g)}
    return extra


def run_jvm(cp, params, run_dir, deadline):
    argv = ["java", *JVM_OPTS, *jvm_dirs(run_dir), "-cp", cp, "perfbench.Main",
            *[f"{k}={v}" for k, v in params.items()]]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        # own process group, so a timeout also stops the load generator the
        # runner starts
        proc = subprocess.Popen(argv, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the JVM runner timed out", 1)
    raw_path = os.path.join(run_dir, "raw.json")
    if proc.returncode != 0 or not os.path.exists(raw_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the JVM runner exited with {proc.returncode}", 1)
    with open(raw_path) as fh:
        raw = json.load(fh)
    if "error" in raw:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the JVM runner failed: {raw['error']}", 1)
    return raw


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    started = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "oracle_check.py"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(need):
            fail(f"run from the repository root: {need} is missing")
    first_build = not os.path.exists(os.path.join(WORK, "classpath.txt"))
    os.makedirs(WORK, exist_ok=True)
    cp = build(started + (880 if first_build else 170))
    # one run directory at a time: older runs only take disk
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.abspath(os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}"))
    os.makedirs(run_dir)
    load_before, cpu_before = os.getloadavg(), cpu_times()
    params = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
              "run": run_dir, "setups": SETUPS[a.workload],
              **prepare(a.workload, a.seed, run_dir)}
    # the build may take the first run's long allowance; the run proper
    # keeps to the ordinary one
    raw = run_jvm(cp, params, run_dir, (time.time() if first_build else started) + 160)
    load_after, cpu_after = os.getloadavg(), cpu_times()
    result = checks.evaluate(a.workload, raw, run_dir, params, GROUPS, PACED,
                             os.path.join(WORK, "last"), a.trace == 1)
    host = {"nproc": len(os.sched_getaffinity(0)), "loadavg_before": load_before[0],
            "loadavg_after": load_after[0],
            # CPU time the hypervisor gave to other guests during the run
            "cpu_steal_share": round((cpu_after[0] - cpu_before[0])
                                     / max(1, cpu_after[1] - cpu_before[1]), 4),
            "java": raw.get("java_version"),
            "spark": raw.get("spark_version")}
    log("host: " + " ".join(f"{k}={v}" for k, v in host.items()))
    for line in result["lines"]:
        log(line)
    if result["invalid"]:
        fail(f"invalid run, no result: {result['invalid']}", 1)
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump({"host": host, **{k: result[k] for k in
                   ("correct", "attempted", "failed", "metrics")}}, fh)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}),
          flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
