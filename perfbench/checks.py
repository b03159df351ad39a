"""Output checks and metric assembly for one run (see run.py).

Every workload reports the same end-to-end metrics (the result format asks
each run for all of them), each with a workload-specific meaning spelled out
in perfbench/README.md. Per-layer metrics of layers a workload does not run
are reported as 0.
"""
import glob
import json
import os
import subprocess
import sys
from collections import Counter
from datetime import datetime

import duckdb

import stats

# every run computes these four figures; the untraced run reports the first
# three (latency_p99_ms swings too much with host speed to carry a bound),
# the traced run all four as trace.<name>
FIGURE_UNITS = {"setup_s": "s", "throughput_per_s": "1/s",
                "latency_p50_ms": "ms", "latency_p99_ms": "ms"}
E2E = ["setup_s", "throughput_per_s", "latency_p50_ms"]
QUERY_LAYER = ["operators.build_ms", "operators.build_jobs", "plans.catalyst_ms",
               "exec.jobs", "exec.stages", "exec.tasks", "exec.task_wait_s",
               "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
               "exec.shuffle_write_mb", "exec.spill_mb",
               "exec.critical_stage_share", "exec.parallelism"]
SELF_LAYERS = ["operators", "plans", "exec", "topicio", "pipeline", "dispatch",
               "checkpoint", "engine", "retry"]
ROUTE_LAYER = [
    "topicio.latest_offset_ms", "topicio.get_batch_ms", "topicio.emit_ms",
    "topicio.emits_per_trigger", "pipeline.planning_ms", "dispatch.add_batch_ms",
    "dispatch.jobs_per_trigger", "dispatch.tasks_per_trigger",
    "checkpoint.wal_commit_ms", "checkpoint.commit_offsets_ms", "state.rows",
    "state.memory_mb", "state.commit_ms", "retry.read_rows", "retry.released_rows",
    "retry.requeued_rows", "retry.useful_ratio", "retry.trigger_ms",
    "retry.lateness_p50_ms", "trigger.ms", "trigger.rows", "trigger.count",
    "source.lag_events_max", "engine.start_ms", "engine.first_trigger_ms",
    "engine.route_start_s", "exec.parallelism", "drain.exec.parallelism",
    "generator.late_ms",
]


def unit_of(name):
    leaf = "_" + name.split(".")[-1]
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_mb", "MB"), ("_share", "ratio"), ("_ratio", "ratio"),
                         ("parallelism", "ratio")):
        if leaf.endswith(suffix):
            return unit
    return "count"


def per_layer_names():
    """Every per-layer metric name, in report order."""
    names = [f"{g}.wall_s" for g in ("relational", "temporal", "corpus")]
    names += [f"{g}.{m}" for g in ("relational", "temporal", "corpus")
              for m in QUERY_LAYER]
    names += ROUTE_LAYER
    names += [f"self.{layer}_s" for layer in SELF_LAYERS]
    names += [f"trace.{m}" for m in FIGURE_UNITS] + ["trace.callback_ms"]
    return names


def epoch_ms(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def med(values, default=0.0):
    values = [v for v in values if v is not None]
    return stats.median(values) if values else default


# ------------------------------------------------------------------ topics

def read_topic(run_dir, topic):
    files = glob.glob(os.path.join(run_dir, "topics", topic, "*.parquet"))
    if not files:
        return []
    return duckdb.sql(
        "SELECT decode(key), retryCount, epoch_ms(nextAttemptAt) "
        f"FROM read_parquet({files!r})").fetchall()


def check_route(run_dir, entity, truth, counters, retry_count, reader_on):
    """Failures of one route against the generator's ground truth: each
    event must reach exactly its expected sinks, a retried event with one
    retry-topic hop per retry (all `retry_count` of them when the retry
    reader runs, the first only otherwise), and counters must agree."""
    hops = retry_count if reader_on else 1
    by = {d: set(ks) for d, ks in truth["by"].items()}
    succ, retry = by.get("success", set()), by.get("retry", set())
    dead = by.get("dead_letter", set()) | by.get("corrupt", set())
    chan = by.get("channel:audit", set())
    want = {"success": len(succ), "channel": len(chan), "invalid": 0,
            "retry": len(retry) * hops,
            "dead_letter": len(dead) + (len(retry) if reader_on else 0)}
    problems = []
    for k, v in want.items():
        got = counters.get(f"{entity}.message.{k}", 0.0)
        if got != v:
            problems.append(f"{entity}.message.{k}={got:.0f}, expected {v}")
    failed = set()

    def exactly_once(topic, expect):
        seen = Counter(r[0] for r in read_topic(run_dir, topic))
        bad = {k for k, n in seen.items() if n != 1} | (set(seen) ^ expect)
        if bad:
            problems.append(f"{topic}: {len(bad)} keys missing, extra or repeated")
        failed.update(bad)

    exactly_once(f"{entity}_dead_letter", dead | (retry if reader_on else set()))
    exactly_once(f"{entity}_channel_audit", chan)
    rows = read_topic(run_dir, f"{entity}_retry")
    stamps = {}
    for key, count, nxt in rows:
        stamps.setdefault((key, count), set()).add(nxt)
    expect_hops = {(k, retry_count - 1 - h) for k in retry for h in range(hops)}
    bad_hops = {k for k, _ in set(stamps) ^ expect_hops}
    bad_hops |= {k for (k, _), s in stamps.items() if len(s) != 1}
    if bad_hops:
        problems.append(f"{entity}_retry: {len(bad_hops)} keys with wrong hops")
    failed.update(bad_hops)
    # a counter mismatch without a sink mismatch still fails the run
    n_failed = max(len(failed), 1 if problems else 0)
    return n_failed, problems, rows


# ----------------------------------------------------------------- queries

def oracle(run_dir, data, names, errors):
    """Each first-pass result once against its DuckDB oracle, by running
    tools/oracle_check.py as-is on the results the runner wrote in
    graft.Verify's layout (<name>/*.parquet, oracle_sql.json, errors.json).
    Returns (failing names, messages); the checker's exit code gates."""
    out = os.path.join(run_dir, "results")
    with open(os.path.join(out, "errors.json"), "w") as fh:
        json.dump(errors, fh)
    proc = subprocess.run([sys.executable, os.path.join("tools", "oracle_check.py"),
                           out, data, *names], capture_output=True, text=True,
                          timeout=120)
    lines = proc.stdout.splitlines()
    bad = {ln.split()[1].rstrip(":") for ln in lines if ln.startswith("FAIL ")}
    msgs = [ln for ln in lines if ln.startswith(("FAIL ", "WARN "))]
    if proc.returncode != 0 and not bad:
        bad = set(names)
        msgs.append(f"tools/oracle_check.py exited with {proc.returncode}: "
                    f"{proc.stderr[-300:]}")
    # the checker skips a query without oracle SQL; here that is a failure
    passed = {ln.split()[1] for ln in lines if ln.startswith("PASS ")}
    unchecked = set(names) - passed - bad
    msgs += [f"FAIL {n}: no oracle SQL to check it against" for n in sorted(unchecked)]
    return bad | unchecked, msgs


def query_layers(execs, trace, groups):
    """Per-group sums of per-query medians of each layer figure."""
    jobs = trace["jobs"]
    stage_rows = {(s["stage"]): s for s in trace["stages"]}
    by_trace = {}
    for j in jobs:
        if j["trace"]:
            by_trace.setdefault(j["trace"], []).append(j)
    per_query = {}
    for e in execs:
        if "error" in e:
            continue
        js = by_trace.get(e["trace"], [])
        sts = [stage_rows[s] for j in js for s in j["stages"] if s in stage_rows]
        crit = max([s["end_ms"] - s["start_ms"] for s in sts
                    if s.get("end_ms") and s.get("start_ms")] or [0.0])
        f = {"wall_ms": e["wall_ms"], "operators.build_ms": e["build_ms"],
             "operators.build_jobs": sum(1 for j in js if j["phase"] == "build"),
             "plans.catalyst_ms": e["catalyst_ms"],
             "exec.jobs": len(js), "exec.stages": len(sts),
             "exec.tasks": sum(s["tasks"] for s in sts),
             "exec.task_wait_s": sum(s["wait_ms"] or 0 for s in sts) / 1e3,
             "exec.task_run_s": sum(s["run_ms"] for s in sts) / 1e3,
             "exec.task_cpu_s": sum(s["cpu_ms"] for s in sts) / 1e3,
             "exec.gc_s": sum(s["gc_ms"] for s in sts) / 1e3,
             "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in sts) / 2**20,
             "exec.spill_mb": sum(s["spill_bytes"] for s in sts) / 2**20,
             "critical_ms": crit}
        per_query.setdefault(e["query"], []).append(f)
    out = {}
    for g, names in groups.items():
        meds = [{k: med([f[k] for f in per_query[n]]) for k in per_query[n][0]}
                for n in names if n in per_query]
        total = {k: sum(m[k] for m in meds) for k in (meds[0] if meds else {})}
        wall = total.get("wall_ms", 0.0)
        for m in QUERY_LAYER:
            if m == "exec.critical_stage_share":
                out[f"{g}.{m}"] = total.get("critical_ms", 0.0) / wall if wall else 0.0
            elif m == "exec.parallelism":
                out[f"{g}.{m}"] = total.get("exec.task_run_s", 0.0) * 1e3 / wall if wall else 0.0
            else:
                out[f"{g}.{m}"] = total.get(m, 0.0)
    return out


def query_spans(execs, trace):
    """Query → build (operators) / execute (plans) → Spark jobs → stages,
    one trace id per query execution."""
    spans = []
    stages = {st["stage"]: st for st in trace["stages"]}
    jobs = {}
    for j in trace["jobs"]:
        if j["trace"]:
            jobs.setdefault((j["trace"], j["phase"]), []).append(j)
    by_trace = {}
    for s in trace["spans"]:
        by_trace.setdefault(s["trace"], {})[s["layer"]] = s
    for e in execs:
        t = by_trace.get(e["trace"])
        if not t:
            continue
        root = len(spans)
        spans.append(dict(t["query"], id=root, parent=None))
        for layer, phase in (("operators", "build"), ("plans", "execute")):
            pid = len(spans)
            spans.append(dict(t[layer], id=pid, parent=root))
            for j in jobs.get((e["trace"], phase), []):
                if not j["end_ms"]:
                    continue
                jid = len(spans)
                spans.append({"id": jid, "parent": pid, "layer": "exec",
                              "trace": e["trace"], "name": f"job {j['job']}",
                              "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
                for st in j["stages"]:
                    row = stages.get(st)
                    if row and row.get("start_ms") and row.get("end_ms"):
                        spans.append({"id": len(spans), "parent": jid, "layer": "exec",
                                      "trace": e["trace"], "name": f"stage {st}",
                                      "start_ms": row["start_ms"], "end_ms": row["end_ms"]})
    return spans


# ------------------------------------------------------------------ routes

PHASES = [("latestOffset", "topicio"), ("walCommit", "checkpoint"),
          ("getBatch", "topicio"), ("queryPlanning", "pipeline")]


def data_batches(progress):
    out = []
    for p in progress:
        if p["numInputRows"] > 0:
            start = epoch_ms(p["timestamp"])
            out.append(dict(p, start_ms=start,
                            end_ms=start + p["durationMs"].get("triggerExecution", 0)))
    return out


def route_spans(progress, trace, layer):
    """Trigger → progress phases → emits → Spark jobs, one trace id per
    trigger. Phase durations come from the progress event; they are laid out
    in execution order, with addBatch and commitOffsets ending the trigger."""
    emits, jobs = {}, {}
    for s in trace["spans"]:
        tok = s.get("token") or ""
        if s["layer"] == "topicio" and tok:
            parts = tok.split("-")
            batch = parts[2] if parts[0] in ("route", "retry") and len(parts) > 2 else None
            emits.setdefault(("-".join(parts[:2]), batch), []).append(s)
    for j in trace["jobs"]:
        if j["query_id"] and j["end_ms"]:
            jobs.setdefault((j["query_id"], j["batch_id"]), []).append(j)
    spans = []
    for p in data_batches(progress):
        d = p["durationMs"]
        tid = f"{p['name']}#{p['batchId']}"
        root = len(spans)
        spans.append({"id": root, "parent": None, "layer": layer, "trace": tid,
                      "name": "trigger", "start_ms": p["start_ms"], "end_ms": p["end_ms"]})
        t = p["start_ms"]
        for phase, lay in PHASES:
            spans.append({"id": len(spans), "parent": root, "trace": tid, "name": phase,
                          "layer": layer if layer == "retry" else lay,
                          "start_ms": t, "end_ms": t + d.get(phase, 0)})
            t += d.get(phase, 0)
        commit = d.get("commitOffsets", 0)
        end_add = p["end_ms"] - commit
        spans.append({"id": len(spans), "parent": root, "trace": tid, "name": "commitOffsets",
                      "layer": layer if layer == "retry" else "checkpoint",
                      "start_ms": end_add, "end_ms": p["end_ms"]})
        add = len(spans)
        spans.append({"id": add, "parent": root, "trace": tid, "name": "addBatch",
                      "layer": layer if layer == "retry" else "dispatch",
                      "start_ms": end_add - d.get("addBatch", 0), "end_ms": end_add})
        my_emits = []
        for e in emits.get((p["name"], str(p["batchId"])), []):
            my_emits.append(len(spans))
            spans.append(dict(e, id=len(spans), parent=add, trace=tid))
        for j in jobs.get((p["id"], str(p["batchId"])), []):
            parent = next((i for i in my_emits if spans[i]["start_ms"] <= j["start_ms"]
                           and j["end_ms"] <= spans[i]["end_ms"]), add)
            spans.append({"id": len(spans), "parent": parent, "trace": tid,
                          "layer": "exec", "name": f"job {j['job']}",
                          "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    return spans


def trigger_layers(batches, trace):
    """Per-trigger medians of the progress phases plus, when traced, jobs,
    tasks and emits per trigger."""
    d = lambda k: med([b["durationMs"].get(k, 0) for b in batches])  # noqa: E731
    out = {"topicio.latest_offset_ms": d("latestOffset"),
           "topicio.get_batch_ms": d("getBatch"),
           "pipeline.planning_ms": d("queryPlanning"),
           "dispatch.add_batch_ms": d("addBatch"),
           "checkpoint.wal_commit_ms": d("walCommit"),
           "checkpoint.commit_offsets_ms": d("commitOffsets"),
           "trigger.ms": d("triggerExecution"),
           "trigger.rows": med([b["numInputRows"] for b in batches]),
           "trigger.count": len(batches)}
    tasks_by_stage = {s["stage"]: s["tasks"] for s in trace["stages"]}
    jobs, tasks, emit_ms, emit_n = [], [], [], []
    for b in batches:
        js = [j for j in trace["jobs"] if j["query_id"] == b["id"]
              and j["batch_id"] == str(b["batchId"])]
        jobs.append(len(js))
        tasks.append(sum(tasks_by_stage.get(s, 0) for j in js for s in j["stages"]))
        token = f"{b['name']}-{b['batchId']}"
        es = [s for s in trace["spans"] if s["layer"] == "topicio"
              and (s.get("token") in (token, token + "-requeue"))]
        emit_n.append(len(es))
        emit_ms.append(sum(s["end_ms"] - s["start_ms"] for s in es))
    out.update({"dispatch.jobs_per_trigger": med(jobs),
                "dispatch.tasks_per_trigger": med(tasks),
                "topicio.emit_ms": med(emit_ms),
                "topicio.emits_per_trigger": med(emit_n)})
    return out


def load_truth(run_dir, name):
    with open(os.path.join(run_dir, f"{name}_truth.json")) as fh:
        return json.load(fh)


# --------------------------------------------------------------- evaluate

def route_setups(raw, run_dir, layers, traced):
    """Check the set-ups' warm-up routes and report what starting them cost.
    Returns (attempted, failed, problems, lines)."""
    warm = load_truth(run_dir, "warm")
    attempted = failed = 0
    problems = []
    for s in raw["setups"]:
        n, probs, _ = check_route(run_dir, s["entity"], warm, s["counters"], 2, False)
        attempted += warm["events"]
        failed += n
        problems += probs
    starts = [s["route_wall_ms"] / 1e3 for s in raw["setups"]]
    if traced:
        firsts = [data_batches(s["progress"]) for s in raw["setups"]]
        layers["engine.start_ms"] = med([s["route_start_ms"] for s in raw["setups"]])
        layers["engine.first_trigger_ms"] = med(
            [f[0]["durationMs"]["triggerExecution"] for f in firsts if f])
        layers["engine.route_start_s"] = stats.median(starts)
    return attempted, failed, problems, [f"route_start_s={stats.median(starts):.3f} s "
                                         f"(fresh engine + route over {warm['events']} events)"]


def drains(raw, run_dir):
    """Check the closed-loop drains of the backlog and time them. Returns
    (attempted, failed, problems, events per drain, drain wall times in ms)."""
    back = load_truth(run_dir, "backlog")
    attempted = failed = 0
    problems, walls = [], []
    for r in raw["reps"]:
        n, probs, _ = check_route(run_dir, f"d{r['k']}", back, r["counters"], 2, False)
        attempted += back["events"]
        failed += n
        problems += probs
        walls.append(r["drain_wall_ms"])
    return attempted, failed, problems, back["events"], walls


def route_parallelism(batches, trace, wall_ms):
    """Σ task run time of the routes' Spark jobs ÷ wall time."""
    keys = {(b["id"], str(b["batchId"])) for b in batches}
    stages = {st for j in trace["jobs"] if (j["query_id"], j["batch_id"]) in keys
              for st in j["stages"]}
    return sum(s["run_ms"] for s in trace["stages"] if s["stage"] in stages) / wall_ms


def evaluate(workload, raw, run_dir, params, groups, paced, last_dir, traced):
    lines, problems = [], []
    invalid = None
    e2e, layers = {}, {n: 0.0 for n in per_layer_names()}
    attempted = failed = 0
    trace = raw.get("trace")
    spans = []
    e2e["setup_s"] = stats.median([s["setup_s"] for s in raw["setups"]])

    if workload in ("route_drain", "route_paced"):
        attempted, failed, problems, lines = route_setups(raw, run_dir, layers, traced)
        n_att, n_failed, probs, events, walls = drains(raw, run_dir)
        attempted += n_att
        failed += n_failed
        problems += probs
        e2e["throughput_per_s"] = events / (stats.median(walls) / 1e3)
        lines.append(f"drain_events_per_s={e2e['throughput_per_s']:.1f} events/s "
                     f"(median of {len(walls)} drains of {events} events)")
        drained = [b for r in raw["reps"] for b in data_batches(r["progress"])]
        if trace:
            layers["drain.exec.parallelism"] = route_parallelism(drained, trace, sum(walls))

    if workload == "route_drain":
        e2e["latency_p50_ms"] = stats.median(walls)
        e2e["latency_p99_ms"] = stats.percentile(walls, 99)
        if trace:
            layers.update(trigger_layers(drained, trace))
            layers["exec.parallelism"] = layers["drain.exec.parallelism"]
            spans = [s for r in raw["reps"] for s in route_spans(r["progress"], trace, "engine")]

    elif workload == "route_paced":
        truth = load_truth(run_dir, "paced")
        n, probs, retry_rows = check_route(run_dir, "p", truth, raw["counters"], 2, True)
        attempted += truth["events"]
        failed += n
        problems += probs
        if not raw["settled"]:
            problems.append("the route did not settle within 60 s")
            failed = max(failed, 1)
        if raw["generator_exit"] != 0:
            problems.append(f"the generator exited with {raw['generator_exit']}")
            failed = max(failed, 1)
        batches = data_batches(raw["route_progress"])
        file_lat = stats.file_latencies([(b["end_ms"], b["numInputRows"]) for b in batches],
                                        list(zip(truth["due_ms"], truth["rows"])))
        if len(file_lat) < truth["files"]:
            problems.append(f"only {len(file_lat)} of {truth['files']} files mapped to batches")
            failed = max(failed, 1)
        # every event of a file shares the file's latency; warm-up files
        # are checked but not timed
        w = truth["warm_files"]
        lat = [x for x, rows in zip(file_lat[w:], truth["rows"][w:]) for _ in range(rows)]
        timed = [b for b in batches if b["end_ms"] >= truth["due_ms"][w]]
        busy = sum(b["durationMs"]["triggerExecution"] for b in timed)
        e2e["latency_p50_ms"] = stats.percentile(lat, 50)
        e2e["latency_p99_ms"] = stats.percentile(lat, 99, min_beyond=10)
        lateness = stats.retry_lateness(retry_rows, paced["backoff_ms"])
        lines.append(f"latency_p50_ms={e2e['latency_p50_ms']:.1f} ms "
                     f"latency_p99_ms={e2e['latency_p99_ms']:.1f} ms over {len(lat)} events "
                     f"in {len(file_lat) - w} files after {w} warm-up files")
        lines.append(f"retry_lateness_p50_ms={med(lateness):.1f} ms over {len(lateness)} hops")
        lines.append(f"generator.late_ms={truth['late_ms_max']:.1f} ms (max)")
        # latency counts from the due time, so a generator that ran late
        # would add its own delay to the program's figures
        tick_ms = 1e3 / paced["rate"]
        if truth["late_ms_max"] > tick_ms:
            invalid = (f"the load generator ran up to {truth['late_ms_max']:.0f} ms "
                       f"behind its schedule (limit: one tick, {tick_ms:.0f} ms)")
        if trace:
            layers.update(trigger_layers(timed, trace))
            layers["exec.parallelism"] = route_parallelism(timed, trace, busy)
            st = [so for b in timed for so in b.get("stateOperators", [])]
            if st:
                layers["state.rows"] = st[-1]["numRowsTotal"]
                layers["state.memory_mb"] = st[-1]["memoryUsedBytes"] / 2**20
                layers["state.commit_ms"] = med([so["commitTimeMs"] for so in st])
            rb = data_batches(raw["retry_progress"])
            read = sum(b["numInputRows"] for b in rb)
            requeued = len(retry_rows) - len({(k, c) for k, c, _ in retry_rows})
            layers.update({"retry.read_rows": read, "retry.requeued_rows": requeued,
                           "retry.released_rows": read - requeued,
                           "retry.useful_ratio": (read - requeued) / read if read else 0.0,
                           "retry.trigger_ms": med([b["durationMs"]["triggerExecution"]
                                                    for b in rb]),
                           "retry.lateness_p50_ms": med(lateness)})
            layers["source.lag_events_max"] = stats.source_lag(
                [(b["end_ms"], b["numInputRows"]) for b in batches],
                list(zip(truth["renamed_ms"], truth["rows"])))
            layers["generator.late_ms"] = truth["late_ms_max"]
            spans = (route_spans(raw["route_progress"], trace, "engine")
                     + route_spans(raw["retry_progress"], trace, "retry"))

    elif workload == "query_mix":
        names = [q for g in groups.values() for q in g]
        execs = raw["execs"]
        first = {e["query"]: e for e in execs if e["pass"] == 0}
        errors = {n: e["error"] for n, e in first.items() if "error" in e}
        bad, msgs = oracle(run_dir, params["data"], names, errors)
        problems += msgs
        # the synthetic tables must give every query some rows, or a wrong
        # filter could pass on both sides
        empty = [n for n, e in first.items() if e.get("rows") == 0]
        problems += [f"FAIL {n}: 0 rows" for n in empty]
        bad |= set(empty)
        rows = {n: e.get("rows") for n, e in first.items()}
        attempted = len(names) + len(execs)
        failed = len(bad) + sum(1 for e in execs
                                if "error" in e or e.get("rows") != rows.get(e["query"]))
        walls = {}
        for e in execs:
            if "error" not in e:
                walls.setdefault(e["query"], []).append(e["wall_ms"])
        medians = {q: stats.median(w) for q, w in walls.items()}
        e2e["throughput_per_s"] = len(medians) / (sum(medians.values()) / 1e3)
        e2e["latency_p50_ms"] = stats.median(list(medians.values()))
        e2e["latency_p99_ms"] = stats.percentile(list(medians.values()), 99)
        for g, qs in groups.items():
            wall = sum(medians.get(q, 0.0) for q in qs) / 1e3
            lines.append(f"{g}_s={wall:.3f} s")
            layers[f"{g}.wall_s"] = wall
        lines.append(f"oracle: {len(names) - len(bad)}/{len(names)} match; "
                     f"{1 + max(e['pass'] for e in execs)} timed passes")
        if trace:
            layers.update(query_layers(execs, trace, groups))
            spans = query_spans(execs, trace)

    if trace:
        for layer, ms in stats.self_times(spans).items():
            if f"self.{layer}_s" in layers:
                layers[f"self.{layer}_s"] = ms / 1e3
        layers["trace.callback_ms"] = trace["callback_ms"]
        for m, v in e2e.items():
            layers[f"trace.{m}"] = v
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")

    lines.append(f"failed_share={failed / max(attempted, 1):.6f} ratio "
                 f"({failed} of {attempted})")
    for m, v in e2e.items():
        lines.append(f"{m}={v:.4f} {FIGURE_UNITS[m]}")
    lines += [f"check: {p}" for p in problems[:20]]
    os.makedirs(last_dir, exist_ok=True)
    last = os.path.join(last_dir, f"{workload}.json")
    if traced and os.path.exists(last):
        with open(last) as fh:
            base = json.load(fh)
        for m, v in e2e.items():
            if base.get(m):
                lines.append(f"tracing overhead {m}: {v - base[m]:+.4f} {FIGURE_UNITS[m]} "
                             f"({100 * (v - base[m]) / base[m]:+.1f}%) vs last untraced run")
    elif not traced:
        with open(last, "w") as fh:
            json.dump(e2e, fh)
    if traced:
        metrics = {n: {"value": layers[n], "unit": unit_of(n)}
                   for n in per_layer_names()}
    else:
        metrics = {m: {"value": e2e[m], "unit": FIGURE_UNITS[m]} for m in E2E}
    correct = failed == 0 and not problems
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics, "lines": lines, "invalid": invalid}
