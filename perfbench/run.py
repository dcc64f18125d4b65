#!/usr/bin/env python3
"""Repository benchmark: two closed-loop workloads over the graft engine.

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library with the
repository's build and the harness with perfbench/build.sbt, and caches
the classpath under .bench_build/. Each run starts one JVM at local[N],
N = number of cores, with fresh index, warehouse, checkpoint and temp
directories under .bench_build/, removed when the run ends.

Workloads (see perfbench/README.md for why each was chosen):
  curation_batch  kernel-heavy operator-library queries, closed loop
  stream_replay   the events table replayed through three streaming queries

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
The last line of stdout is one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
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
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("curation_batch", "stream_replay")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def declared_metrics(root):
    """Metric names and units, in order, from BENCHMARK.json:
    (end-to-end, per-layer)."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp(root):
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for base in (root, HERE):
        for f in ("build.sbt", os.path.join("project", "build.properties")):
            h.update(open(os.path.join(base, f), "rb").read())
    return h.hexdigest()


def sbt_classpath(cwd, env, cache, tasks):
    """Runs sbt offline in `cwd` and returns the runtime classpath its
    `export Runtime/fullClasspath` prints."""
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           f"-Dsbt.global.base={os.path.join(cache, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd.append(f"-Dsbt.repository.config={repos}")
    proc = subprocess.run(cmd + tasks + ["export Runtime/fullClasspath"], cwd=cwd, env=env,
                          stdin=subprocess.DEVNULL, capture_output=True, text=True,
                          timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(cache, "build.log"), "a") as f:
        f.write(proc.stdout + proc.stderr)
    cp = [ln for ln in proc.stdout.splitlines() if ln.startswith("/") and "classes" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed in {cwd}")
    return cp[-1]


def build(root, cache):
    """Builds the library with the repository's build and the harness with
    perfbench/build.sbt (sbt, offline), once per source state; returns the
    harness's runtime classpath."""
    cp_file = os.path.join(cache, "classpath.txt")
    stamp_file = os.path.join(cache, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read().strip() == stamp:
            return open(cp_file).read().strip()
    log("building library and harness with sbt ...")
    t0 = time.time()
    open(os.path.join(cache, "build.log"), "w").close()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = "-Xmx2g -XX:-UsePerfData"
    env["PERFBENCH_LIB_CP"] = sbt_classpath(root, env, cache, ["compile"])
    cp = sbt_classpath(HERE, env, cache, ["compile"])
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


# -------------------------------------------------------------------- run

def launch(root, cache, classpath, args, deadline):
    """Runs the harness JVM in fresh per-run directories; returns the
    parsed result file."""
    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "index", "warehouse", "local"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["GRAFT_INDEX_DIR"] = os.path.join(run_dir, "index")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", classpath, "perfbench.Harness",
            "--data", os.path.join(HERE, "data"), "--out", out] + args
    log_path = os.path.join(cache, "harness.log")
    try:
        with open(log_path, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                    stdout=lf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail("harness timed out")
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log_path).read()[-6000:])
            fail(f"harness exited with code {rc}")
        shutil.copy(out, os.path.join(cache, "last-result.json"))
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def op_latency_ms(op):
    return op["t2"] - op["t0"]


def timed_passes(res, traced):
    return [p for p in res["passes"] if p["traced"] == traced]


def pass_span(res, p):
    r = p["replay"] if res["kind"] == "stream" else p
    return r["t0"], r["t1"]


def pass_wall(res, p):
    t0, t1 = pass_span(res, p)
    return t1 - t0


def pass_ops(res, p):
    return p["replay"]["ops"] if res["kind"] == "stream" else p["ops"]


def latencies(res, passes):
    return [op_latency_ms(o) for p in passes for o in pass_ops(res, p)]


def check_outputs(res, recorded):
    """Returns (attempted, failed, notes)."""
    attempted = failed = 0
    notes = []
    for p in res["passes"]:
        ops = pass_ops(res, p)
        attempted += len(ops)
        if res["kind"] == "batch":
            bad = stats.fingerprint_mismatches(recorded, ops)
            failed += len(bad)
            notes += [f"pass {p['no']}: {n} output differs from the recorded fingerprint"
                      for n in bad]
            notes += [f"pass {p['no']}: {o['name']}: {o['err']}" for o in ops if o.get("err")]
        else:
            bad = set(p["mismatched"])
            failed += sum(1 for o in ops if not o["ok"] or o["name"] in bad)
            notes += [f"pass {p['no']}: {n} output differs from the batch recomputation"
                      for n in sorted(bad)]
            notes += [f"pass {p['no']}: {o['name']} batch {o['batch']}: {o['err']}"
                      for o in ops if o.get("err")]
    if res["index_builds_timed"]:
        failed = max(failed, 1)
        notes.append(f"{res['index_builds_timed']} index builds ran during timed passes")
    return attempted, failed, notes


def end_to_end(res):
    untraced = timed_passes(res, False)
    return {
        "setup_s": (res["setup_end"] - res["launch"]) / 1000.0,
        "pass_s": stats.median([pass_wall(res, p) for p in untraced]) / 1000.0,
        "op_geomean_ms": stats.median([stats.geomean(latencies(res, [p])) for p in untraced]),
    }


def iso_ms(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def spans_of(res, traced):
    """The traced passes as a span tree of flat records (name, id, parent,
    start, end in epoch ms): run -> pass -> query -> {build, exec} -> job ->
    stage for batch workloads, run -> pass -> micro-batch -> {trigger, job}
    -> stage for the stream. Stage spans carry their task counters."""
    spans = []

    def add(name, sid, parent, start, end, **kw):
        spans.append(dict(name=name, id=sid, parent=parent, start=start,
                          end=max(start, end), **kw))

    batch = res["kind"] == "batch"
    add("run", "run", None, res["launch"], max(pass_span(res, p)[1] for p in res["passes"]))
    batches = {}  # (pass id, query) -> [(t0, t2, micro-batch id)]
    for p in traced:
        pid = f"p{p['no']}"
        add("pass", pid, "run", *pass_span(res, p))
        for o in pass_ops(res, p):
            if batch:
                qid = f"{pid}/{o['name']}"
                add("query", qid, pid, o["t0"], o["t2"])
                add("build", qid + "/build", qid, o["t0"], o["t1"])
                add("exec", qid + "/exec", qid, o["t1"], o["t2"])
            else:
                bid = f"{pid}/{o['name']}/{o['batch']}"
                add("micro-batch", bid, pid, o["t0"], o["t2"])
                batches.setdefault((pid, o["name"]), []).append((o["t0"], o["t2"], bid))

    def owner(pid, query, t):
        """The micro-batch of `query` in flight at time t, else the pass."""
        for t0, t2, bid in batches.get((pid, query), []):
            if t0 <= t <= t2:
                return bid
        return pid

    if not batch:
        for p in traced:
            pid = f"p{p['no']}"
            for query, progs in p["replay"]["progress"].items():
                for g in progs:
                    t0 = iso_ms(g["timestamp"])
                    add("trigger", f"{pid}/{query}/trigger{g['batch']}", owner(pid, query, t0),
                        t0, t0 + g["duration"].get("triggerExecution", 0))
    tr = res["trace"] or {"jobs": [], "stages": []}
    for j in tr["jobs"]:
        pid, query = j["span"].split("/")[:2]
        parent = j["span"] if batch else owner(pid, query, j["start"])
        add("job", f"job{j['id']}", parent, j["start"], j["end"], tag=j["span"])
    for s in tr["stages"]:
        add("stage", f"stage{s['id']}.{s['attempt']}", f"job{s['job']}", s["start"], s["end"],
            counters={k: s[k] for k in ("num_tasks", "tasks", "cpu_ns", "gc_ms", "shuffle_write",
                                        "shuffle_read", "spill", "in_rows", "in_bytes")})
    return spans


def per_layer(res, names):
    """Per-layer metrics of a traced run, summed per traced pass unless a
    median. Metrics that do not apply to the workload read 0. Returns
    (metrics, spans)."""
    m = dict.fromkeys(names, 0.0)
    traced = timed_passes(res, True)
    untraced = timed_passes(res, False)
    n = max(1, len(traced))
    spans = spans_of(res, traced)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    jobs = [s for s in spans if s["name"] == "job"]
    stages = [s for s in spans if s["name"] == "stage"]

    def interval(s):
        return s["start"], s["end"]

    def stage_cover(span):
        """Self time of `span` against the stages of its child jobs."""
        inner = [interval(st) for j in kids.get(span["id"], []) if j["name"] == "job"
                 for st in kids.get(j["id"], [])]
        return stats.self_time(interval(span), inner)

    def total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n

    def counter(key):
        return sum(s["counters"][key] for s in stages) / n

    if res["kind"] == "batch":
        m["ops.build_ms"] = total("build")
        m["ops.exec_ms"] = total("exec")
        m["ops.build_jobs"] = sum(1 for j in jobs if j["tag"].endswith("/build")) / n
        m["ops.driver_ms"] = sum(stage_cover(s) for s in spans if s["name"] == "exec") / n
        m["self.build_ms"] = sum(stage_cover(s) for s in spans if s["name"] == "build") / n
        ops = [o for p in traced for o in p["ops"]]
        m["ops.exchanges"] = sum(o["exchanges"] for o in ops) / n
        m["ops.broadcasts"] = sum(o["broadcasts"] for o in ops) / n
        m["ops.checkpoint_scans"] = sum(o["rdd_scans"] for o in ops) / n
    else:
        m["ops.exec_ms"] = total("micro-batch")
        mbs = [s for s in spans if s["name"] == "micro-batch"]
        m["ops.driver_ms"] = sum(stage_cover(s) for s in mbs) / n
        m["self.batch_ms"] = sum(stats.self_time(interval(s), [
            interval(t) for t in kids.get(s["id"], []) if t["name"] == "trigger"]) for s in mbs) / n
        stream_layer(res, traced, untraced, m)

    m["ops.jobs"] = len(jobs) / n
    m["ops.stages"] = len(stages) / n
    m["ops.tasks"] = counter("tasks")
    m["ops.shuffle_write_bytes"] = counter("shuffle_write")
    m["ops.shuffle_read_bytes"] = counter("shuffle_read")
    m["ops.spill_bytes"] = counter("spill")
    m["ops.executor_cpu_ms"] = counter("cpu_ns") / 1e6
    m["ops.gc_ms"] = counter("gc_ms")
    m["sources.scan_rows"] = counter("in_rows")
    m["sources.scan_bytes"] = counter("in_bytes")
    wall = sum(pass_wall(res, p) for p in traced) / n
    m["par.cpu_util"] = m["ops.executor_cpu_ms"] / (wall * res["cores"]) if wall else 0.0
    if res["cores"] > 1:
        m["par.starved_stage_ms"] = stats.union_length(
            [interval(s) for s in stages if s["counters"]["num_tasks"] == 1]) / n
    m["self.pass_ms"] = sum(stats.self_time(interval(s), [interval(c) for c in kids.get(s["id"], [])])
                            for s in spans if s["name"] == "pass") / n
    m["self.job_ms"] = sum(stats.self_time(interval(j), [interval(s) for s in kids.get(j["id"], [])])
                           for j in jobs) / n
    m["self.stage_ms"] = stats.union_length([interval(s) for s in stages]) / n

    m["index.build_s"] = res["index_build_s_setup"]
    m["index.builds"] = res["index_builds_setup"]
    m["index.builds_timed"] = res["index_builds_timed"]
    m["op_p50_ms"] = stats.median(latencies(res, untraced))
    pct, val = stats.tail(latencies(res, res["passes"]))
    m["op_tail_ms"] = val or 0.0
    log(f"op_tail_ms is the {pct} percentile" if pct else
        "op_tail_ms: too few operations for any percentile with 10 samples beyond it")
    m["peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
    m["host.calib_serial_s"] = stats.median(res["calib_serial"])
    m["host.calib_par_s"] = stats.median(res["calib_par"])
    # the untraced reference is the pass right after the traced ones: earlier
    # passes run slower, the first timed one most (it follows the probes)
    if traced:
        after = [p for p in untraced if p["no"] == traced[-1]["no"] + 1]
        m["trace.overhead_frac"] = (stats.median([pass_wall(res, p) for p in traced])
                                    / pass_wall(res, after[0]) - 1.0)
    m["trace.nondet_queries"] = len(nondeterministic(jobs, kids, traced))
    return m, spans


def nondeterministic(jobs, kids, traced):
    """Queries whose job, stage, task or shuffle-byte counts differ between
    the first two traced passes; each is logged with both counts."""
    if len(traced) < 2:
        return []
    counts = {}
    for j in jobs:
        pid, query = j["tag"].split("/")[:2]
        c = counts.setdefault(pid, {}).setdefault(query, [0, 0, 0, 0, 0])
        c[0] += 1
        for s in kids.get(j["id"], []):
            k = s["counters"]
            c[1] += 1
            c[2] += k["tasks"]
            c[3] += k["shuffle_write"]
            c[4] += k["shuffle_read"]
    a, b = (counts.get(f"p{p['no']}", {}) for p in traced[:2])
    diff = sorted(q for q in set(a) | set(b) if a.get(q) != b.get(q))
    for q in diff:
        log(f"counters differ between traced passes for {q}: "
            f"(jobs, stages, tasks, shuffle_write, shuffle_read) {a.get(q)} vs {b.get(q)}")
    return diff


def stream_layer(res, traced, untraced, m):
    data_batches = []
    all_batches = 0
    end_state = []
    for p in traced:
        for progs in p["replay"]["progress"].values():
            all_batches += len(progs)
            data_batches += [g for g in progs if g["input_rows"] > 0]
            if progs:
                end_state += progs[-1]["state"]
    n = max(1, len(traced))

    def med(key):
        return stats.median([g["duration"].get(key, 0) for g in data_batches])

    def med_state(key):
        return stats.median([sum(s[key] for s in g["state"]) for g in data_batches])

    m["stream.trigger_ms"] = med("triggerExecution")
    m["stream.add_batch_ms"] = med("addBatch")
    m["stream.planning_ms"] = med("queryPlanning")
    m["stream.wal_commit_ms"] = med("walCommit")
    m["stream.commit_offsets_ms"] = med("commitOffsets")
    m["stream.state_commit_ms"] = med_state("commit_ms")
    m["stream.state_update_ms"] = med_state("update_ms")
    m["stream.state_rows"] = sum(s["rows"] for s in end_state) / n
    m["stream.state_bytes"] = sum(s["bytes"] for s in end_state) / n
    m["stream.state_instances"] = sum(s["instances"] for s in end_state) / n
    m["stream.batches_per_add"] = all_batches / len(data_batches) if data_batches else 0.0
    m["stream.rows_dropped_late"] = sum(s["dropped_late"] for g in data_batches for s in g["state"])
    m["stream.rows_per_s"] = untraced[0]["events"] / (
        stats.median([pass_wall(res, p) for p in untraced]) / 1000.0)


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="run every batch query once and rewrite perfbench/fingerprints.json")
    a = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the repository root: src/main/scala/graft/SparkEntry.scala not found")
    if not a.record and not a.workload:
        fail("--workload is required")
    end_to_end_units, per_layer_units = declared_metrics(root)
    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    classpath = build(root, cache)
    deadline = time.time() + RUN_TIMEOUT_S
    fp_path = os.path.join(HERE, "fingerprints.json")

    if a.record:
        res = launch(root, cache, classpath, ["--record"], deadline)
        ops = res["passes"][0]["ops"]
        bad = [o["name"] for o in ops if not o["ok"]]
        if bad:
            fail(f"queries failed: {bad}")
        with open(fp_path, "w") as f:
            json.dump({o["name"]: {"hash": o["hash"], "rows": o["rows"]} for o in ops},
                      f, indent=1, sort_keys=True)
            f.write("\n")
        log(f"recorded {len(ops)} fingerprints")
        return

    with open(fp_path) as f:
        recorded = json.load(f)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    res = launch(root, cache, classpath, args, deadline)
    attempted, failed, notes = check_outputs(res, recorded)
    for n in notes:
        log(n)
    if a.trace:
        metrics, spans = per_layer(res, per_layer_units)
        metrics["fail_frac"] = failed / attempted
        units = per_layer_units
        trace_dir = os.path.join(root, ".bench_build", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.spans.json"), "w") as f:
            json.dump(spans, f)
    else:
        metrics = end_to_end(res)
        units = end_to_end_units
    print(f"workload {a.workload}  seed {a.seed}  cores {res['cores']}  "
          f"passes {len(res['passes'])}  wall {time.time() - start:.1f} s")
    print(f"set-up: session {(res['session_ready'] - res['launch']) / 1000:.2f} s, "
          f"inputs and warmup {(res['setup_end'] - res['session_ready']) / 1000:.2f} s")
    print(f"host probes: serial {res['calib_serial']} s  parallel {res['calib_par']} s (start, end)")
    assert set(metrics) == set(units), set(metrics) ^ set(units)
    for k in units:
        print(f"  {k:28s} {metrics[k]:16.4f} {units[k]}")
    print(f"outputs: {attempted - failed}/{attempted} correct")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
