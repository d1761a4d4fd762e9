#!/usr/bin/env python3
"""nyukispark benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (sbt, offline) into the checkout; later runs reuse the build while
the sources are unchanged. Each run is a fresh JVM (perfbench/src), which
writes raw records; this script turns them into metrics, checks the
outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the span file next to the run's metrics). See README.md.
"""
import argparse
import bisect
import datetime
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time

import bench_core as core

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))

# workload -> data scale (None: the bus workload makes its own events)
WORKLOADS = {"suite_sf0.1": "sf0.1", "bus_events": None}
# the harness JVM must exit in time for the whole run to stay under 180 s
RUN_LIMIT_S = 170
JVM_HEAP = "4g"
# what ../build.sbt passes to forked runs: Spark 4 on JDK 17 outside
# spark-submit needs these module opens
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# everything the build reads: a change to any of it forces a rebuild
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def fingerprint():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            fail(f"{rel} is missing; run from the root of a full checkout")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the build
    record (classpath, inventory, oracle SQL)."""
    fp = fingerprint()
    os.makedirs(WORK, exist_ok=True)
    record_path = os.path.join(WORK, "build.json")
    if os.path.exists(record_path):
        with open(record_path) as f:
            record = json.load(f)
        if record.get("fingerprint") == fp:
            return record
    log("building engine and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    record = {"fingerprint": fp, "classpath": lines[-1].strip()}
    inv = os.path.join(WORK, "inventory.json")
    jvm(record, ["list", inv], os.path.join(WORK, "list.log"), 120)
    with open(inv) as f:
        record.update(json.load(f))
    with open(record_path, "w") as f:
        json.dump(record, f)
    return record


def jvm(record, args, log_path, timeout):
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout;
    # -XX:-UseDynamicNumberOfCompilerThreads: JIT threads live as long as
    # the JVM, so their CPU time stays countable (jvm.jit_cpu_ms)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens",
                                                f"{p}=ALL-UNNAMED")]
           + ["-cp", record["classpath"], "perfbench.Harness"] + args)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness {args[0]} exited with {code}")


def cpu_steal():
    """(steal, total) jiffies of the machine (/proc/stat; zeros where
    the file is missing)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def oracle_rows(sql, sf_dir):
    """Oracle result for one query, cached by (SQL, data) in the build
    directory: the reference answer does not change between runs."""
    import duckdb
    key = hashlib.sha256((sql + "\0" + sf_dir).encode()).hexdigest()
    path = os.path.join(WORK, "oracle", key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    rel = con.sql(sql)
    result = (list(rel.columns), rel.fetchall())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        pickle.dump(result, f)
    return result


def check_batch(raw, record, run_dir):
    """Names of sampled queries whose warm-up output is wrong (or whose
    warm-up threw), with reasons."""
    import duckdb
    con = duckdb.connect()
    wrong = {}
    for w in raw["warmup"]:
        name = w["name"]
        if w["error"]:
            wrong[name] = w["error"]
            continue
        out = os.path.join(run_dir, "results", name, "*.parquet")
        rel = con.sql(f"SELECT * FROM read_parquet('{out}')")
        cols, rows = list(rel.columns), rel.fetchall()
        sql = record["oracle"].get(name)
        if sql is None:  # no oracle by contract: rows-only check
            diff = None if rows else "no rows"
        else:
            diff = core.compare_result(cols, rows,
                                       *oracle_rows(sql, raw["sf_dir"]))
        if diff:
            wrong[name] = diff
    return wrong


def batch_metrics(raw, wrong):
    qs = raw["queries"]
    attempted, failed = core.count_failures(qs, wrong)
    ok = [q for q in qs if q["error"] is None and q["name"] not in wrong]
    lat = [(q["end_us"] - q["start_us"]) / 1000.0 for q in ok]
    per_query = {}
    for q in ok:
        per_query.setdefault(q["name"], []).append(q["end_us"] - q["start_us"])
    timed_s = (raw["timed_end_us"] - raw["setup_end_us"]) / 1e6
    cpu = [q["cpu_ns"] / 1e6 for q in ok]
    per_query_cpu = {}
    for q in ok:
        per_query_cpu.setdefault(q["name"], []).append(q["cpu_ns"])
    metrics = {
        "setup_s": raw["setup_cpu_ns"] / 1e9,
        # one pass over the sample, from every timed execution: the sum of
        # each sampled query's median CPU time
        "pass_cpu_s": sum(core.median(v)
                          for v in per_query_cpu.values()) / 1e9,
    }
    wall = {
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "setup_s": (raw["setup_end_us"] - raw["jvm_start_us"]) / 1e6,
        "suite_s": sum(core.median(v) for v in per_query.values()) / 1e6,
        "query_p50_ms": core.percentile(lat, 50),
        "query_p90_ms": core.percentile(lat, 90),
        "query_p99_ms": core.percentile(lat, 99),
        "queries_per_s": len(ok) / timed_s,
    }
    samples = {"queries": len(lat), "passes": max(q["pass"] for q in qs) + 1,
               "query_p90_beyond": core.beyond(len(lat), 90),
               "event_p99_beyond": core.beyond(len(lat), 99),
               "query_median_ms": {k: core.median(v) / 1000.0
                                   for k, v in sorted(per_query.items())},
               "query_median_cpu_ms": {k: core.median(v) / 1e6 for k, v
                                       in sorted(per_query_cpu.items())},
               "op_cpu_ms": core.median(cpu),
               "cpu_per_op": jvm_layers(raw["timed_cpu_groups_ns"], len(qs)),
               "wall": wall}
    return attempted, failed, metrics, samples


def batch_trace(raw):
    """Spans and per-layer metrics of the traced passes (per traced query
    execution); the untraced passes of the same run give the overhead."""
    qs = [q for q in raw["queries"] if q["error"] is None]
    traced = [q for q in qs if q["traced"]]
    by_id = {q["id"]: q for q in traced}
    jobs = [j for j in raw["jobs"] if j["tag"] in by_id]
    stages = [s for s in raw["stages"] if s["tag"] in by_id
              and s["start_us"] and s["end_us"]]
    tasks = [t for t in raw["tasks"] if t["tag"] in by_id]
    spans = []

    def span(sid, parent, name, trace, start, end):
        spans.append({"id": sid, "parent": parent, "name": name,
                      "trace": trace, "start": start, "end": end})

    for q in traced:
        span(q["id"], None, "query", q["id"], q["start_us"], q["end_us"])
        span(q["id"] + "/build", q["id"], "operators.build", q["id"],
             q["start_us"], q["built_us"])
        span(q["id"] + "/write", q["id"], "write", q["id"], q["built_us"],
             q["end_us"])
    # Catalyst phases of each finished action belong to the query whose
    # interval holds them (one client thread: intervals do not overlap)
    owned = []
    for k, e in enumerate(raw["executions"]):
        if not e["phases"]:
            continue
        first = min(p[0] for p in e["phases"].values())
        owner = next((q for q in traced
                      if q["start_us"] - 1000 <= first <= q["end_us"]), None)
        if owner is None:
            continue
        owned.append(e)
        parent = owner["id"] + ("/write" if first >= owner["built_us"] - 1000
                                else "/build")
        for phase, (start, end) in e["phases"].items():
            span(f"x{k}/{phase}", parent, f"catalyst.{phase}", owner["id"],
                 start, end)
    stage_job = {}
    for j in jobs:
        span(f"j{j['id']}", f"{j['tag']}/{j['phase']}", "scheduler.job",
             j["tag"], j["start_us"], j["end_us"])
        for sid in j["stages"]:
            stage_job[sid] = f"j{j['id']}"
    for s in stages:
        if s["id"] in stage_job:
            span(f"s{s['id']}.{s['attempt']}", stage_job[s["id"]], "stage",
                 s["tag"], s["start_us"], s["end_us"])

    layers = core.layer_self_times(spans)
    wall = sum(q["end_us"] - q["start_us"] for q in traced)
    # "query" and "write" only group their children: their self time is
    # the part of the wall no layer accounts for
    unattributed = layers.get("query", 0) + layers.get("write", 0)
    n = max(1, len(traced))

    def phase_ms(name):
        return sum((e["phases"][name][1] - e["phases"][name][0]) / 1000.0
                   for e in owned if name in e["phases"]) / n

    untraced = {}
    for q in qs:
        if not q["traced"]:
            untraced.setdefault(q["name"], []).append(
                q["end_us"] - q["start_us"])
    overhead = [q["end_us"] - q["start_us"] - core.median(untraced[q["name"]])
                for q in traced if q["name"] in untraced]
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(task_layers(tasks, n))
    metrics.update({
        "operators.build_ms": sum(q["built_us"] - q["start_us"]
                                  for q in traced) / 1000.0 / n,
        "operators.eager_jobs": sum(j["phase"] == "build" for j in jobs) / n,
        "catalyst.analysis_ms": phase_ms("analysis"),
        "catalyst.optimization_ms": phase_ms("optimization"),
        "catalyst.planning_ms": phase_ms("planning"),
        "codegen.compile_ms": raw["codegen_setup_ns"] / 1e6,
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": len(stages) / n,
        "scan.bytes": sum(e["scan_bytes"] for e in owned) / n,
        "scan.ms": sum(e["scan_ms"] for e in owned) / n,
        "cache.persisted_rdds": sum(q["persisted"] for q in traced) / n,
        "stages.build_s": raw["stages_build_s"],
        "trace.coverage": 1 - unattributed / wall,
        **jvm_layers(raw["timed_cpu_groups_ns"], len(qs)),
        "trace.overhead_ms": core.median(overhead) / 1000.0,
    })
    lat = [(q["end_us"] - q["start_us"]) / 1000.0 for q in traced]
    base = [v / 1000.0 for vs in untraced.values() for v in vs]
    summary = {
        "traced_queries": len(traced),
        "query_p50_ms_traced": core.percentile(lat, 50),
        "query_p50_ms_untraced": core.percentile(base, 50),
        "layer_self_ms": {k: v / 1000.0 / n for k, v in layers.items()},
        "codegen_timed_ms_per_query": raw["codegen_timed_ns"] / 1e6
        / len(raw["queries"]),
        "not_on_path": [k for k in PER_LAYER if k.split(".")[0] in
                        ("sources", "streaming", "state", "sink")],
    }
    return metrics, spans, summary


def jvm_layers(groups_ns, ops):
    """CPU time of the JVM's thread groups (Harness Run.cpuByGroupNs)
    per operation, in ms."""
    return {f"jvm.{g}_cpu_ms": groups_ns.get(g, 0) / 1e6 / ops
            for g in ("app", "jit", "gc")}


def task_layers(tasks, n):
    """Scheduler, executor and exchange metrics from Spark's task metrics,
    per operation (n operations)."""
    def total(key):
        return sum(t[key] for t in tasks) / n

    # scheduler delay: task wall time not spent running, deserializing,
    # serializing or fetching the result
    delay = sum(max(0, (t["finish_us"] - t["launch_us"]) / 1000.0
                    - t["run_ms"] - t["deser_ms"] - t["ser_ms"]
                    - t["getres_ms"]) for t in tasks)
    return {
        "scheduler.tasks": len(tasks) / n,
        "scheduler.delay_ms": delay / n,
        "exec.run_ms": total("run_ms"),
        "exec.cpu_ms": total("cpu_ns") / 1e6,
        "exec.gc_ms": total("gc_ms"),
        "shuffle.write_bytes": total("sw_bytes"),
        "shuffle.read_bytes": total("sr_bytes"),
        "shuffle.records": total("sw_records"),
        "spill.bytes": total("spill_bytes"),
    }


def bus_events(raw):
    return [dict(zip(raw["events_columns"], r)) for r in raw["events"]]


def gen_late_us(raw, ev):
    """How late the generator sent each timed paced event."""
    p1 = raw["phase1"]
    return [e["sent_us"] - e["due_us"] for e in ev
            if p1["first_id"] <= e["id"] < p1["end_id"]]


def bus_metrics(raw):
    ev = bus_events(raw)
    p1, p2 = raw["phase1"], raw["phase2"]
    expected = [e for e in ev if e["triggered"]]
    missing = [e["id"] for e in expected if e["arrivals"] == 0]
    unexpected = [e["id"] for e in ev if not e["triggered"] and e["arrivals"]]
    repeated = [e["id"] for e in ev if e["arrivals"] > 1]
    injected = sum(e["dup"] for e in ev)
    dropped = sum(op["customMetrics"].get("numDroppedDuplicateRows", 0)
                  for p in raw["progress"] for op in p["stateOperators"])
    failed = (len(missing) + len(unexpected) + len(repeated)
              + abs(injected - dropped) + raw["bridge_dropped"]
              + raw["stray_arrivals"])
    lat = [(e["first_arrival_us"] - e["stamped_due_us"]) / 1000.0
           for e in expected
           if p1["first_id"] <= e["id"] < p1["end_id"] and e["arrivals"]]
    burst = sum(1 for e in expected
                if p2["first_id"] <= e["id"] < p2["end_id"])
    drain_s = (p2["last_arrival_us"] - p2["start_us"]) / 1e6
    late_p99 = core.percentile(gen_late_us(raw, ev), 99) / 1000.0
    paced = p1["end_id"] - p1["first_id"]
    # JVM CPU between the starts of consecutive timed paced micro-batches:
    # one trigger interval each
    starts = sorted(p["cpu_ns"] for p in raw["publishes"]
                    if raw["setup_end_us"] <= p["start_us"] <= p1["end_us"])
    cycles = [(b - a) / 1e6 for a, b in zip(starts, starts[1:])]
    metrics = {
        "setup_s": raw["setup_cpu_ns"] / 1e9,
        # the timed paced phase, a fixed number of trigger intervals, each
        # taken at the median interval's CPU: one interval that also ran
        # a state store snapshot or a long collection does not sway it
        "pass_cpu_s": core.median(cycles) / 1e3 * paced / p1["rate"],
    }
    wall = {
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "setup_s": (raw["setup_end_us"] - raw["jvm_start_us"]) / 1e6,
        "drain_s": drain_s,
        "event_p50_ms": core.percentile(lat, 50),
        "event_p90_ms": core.percentile(lat, 90),
        "event_p99_ms": core.percentile(lat, 99),
        "drain_eps": burst / drain_s,
    }
    samples = {"events": len(lat), "micro_batch_cycles": len(cycles),
               "op_cpu_ms": core.median(cycles),
               "paced_cpu_s": p1["cpu_ns"] / 1e9,
               "event_p99_beyond": core.beyond(len(lat), 99),
               "missing": len(missing), "unexpected": len(unexpected),
               "repeated": len(repeated), "dups_injected": injected,
               "dups_dropped": dropped,
               "bridge_dropped": raw["bridge_dropped"],
               "gen_late_p99_ms": late_p99,
               # the open loop held only if lateness stayed a small part
               # of the latency it is measured against
               "gen_behind": late_p99 > 0.1 * wall["event_p50_ms"],
               "cpu_per_op": jvm_layers(raw["phase1_cpu_groups_ns"],
                                        paced / p1["rate"]),
               "burst_cpu_s": p2["cpu_ns"] / 1e9,
               "wall": wall}
    return len(ev), failed, metrics, samples


def _ts_us(iso):
    return int(datetime.datetime.fromisoformat(iso.replace("Z", "+00:00"))
               .timestamp() * 1e6)


def bus_trace(raw):
    """Spans and per-layer metrics per non-empty micro-batch. Progress
    reports phase durations, not start times, so a micro-batch's phase
    spans are laid out in execution order from its start."""
    ev = bus_events(raw)
    progress = raw["progress"]
    pubs = {p["batch"]: p for p in raw["publishes"]}
    spans = []
    for p in progress:
        start = _ts_us(p["timestamp"])
        d = p["durationMs"]
        bid = f"b{p['batchId']}"
        spans.append({"id": bid, "parent": None, "name": "microbatch",
                      "trace": bid, "start": start,
                      "end": start + d["triggerExecution"] * 1000})
        t = start
        for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets"):
            if k in d:
                spans.append({"id": f"{bid}/{k}", "parent": bid,
                              "name": f"streaming.{k}", "trace": bid,
                              "start": t, "end": t + d[k] * 1000})
                t += d[k] * 1000
        if p["batchId"] in pubs:
            pub = pubs[p["batchId"]]
            spans.append({"id": f"{bid}/publish", "parent": f"{bid}/addBatch",
                          "name": "sink.publish", "trace": bid,
                          "start": pub["start_us"], "end": pub["end_us"]})
    # backlog: events published but not yet read by the stream, at the end
    # of each phase-1 micro-batch
    sends = sorted(e["sent_us"] for e in ev if e["sent_us"])
    landed, backlog = 0, []
    for p in progress:
        landed += p["numInputRows"]
        end = (_ts_us(p["timestamp"])
               + p["durationMs"]["triggerExecution"] * 1000)
        if raw["phase1"]["start_us"] <= end <= raw["phase1"]["end_us"]:
            published = bisect.bisect_right(sends, end)
            backlog.append(max(0, published - landed))
    busy = [p for p in progress if p["numInputRows"] > 0]
    n = max(1, len(busy))
    state = [op for p in busy for op in p["stateOperators"]]
    last = progress[-1]["stateOperators"] if progress else []
    injected = sum(e["dup"] for e in ev)
    dropped = sum(op["customMetrics"].get("numDroppedDuplicateRows", 0)
                  for op in state)
    pub_ms = [(p["end_us"] - p["start_us"]) / 1000.0 for p in raw["publishes"]]
    layers = core.layer_self_times(spans)
    wall = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    unattributed = layers.get("microbatch", 0)

    def dsum(key):
        return sum(p["durationMs"].get(key, 0) for p in busy) / n

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(task_layers(raw["tasks"], n))
    metrics.update({
        "codegen.compile_ms": raw["codegen_setup_ns"] / 1e6,
        "scheduler.jobs": len(raw["jobs"]) / n,
        "scheduler.stages": len(raw["stages"]) / n,
        "sources.gen_late_ms": core.percentile(gen_late_us(raw, ev), 99)
        / 1000.0,
        "sources.backlog_events": max(backlog, default=0),
        "sources.bridge_dropped": raw["bridge_dropped"],
        "streaming.trigger_ms": dsum("triggerExecution"),
        "streaming.planning_ms": dsum("queryPlanning"),
        "streaming.walcommit_ms": dsum("walCommit"),
        "streaming.rows_per_batch": sum(p["numInputRows"] for p in busy) / n,
        "state.rows_total": sum(op["numRowsTotal"] for op in last),
        "state.memory_bytes": sum(op["memoryUsedBytes"] for op in last),
        "state.commit_ms": sum(op["commitTimeMs"] for op in state) / n,
        "state.dup_drop_ratio": dropped / injected if injected else 1.0,
        "sink.publish_ms": sum(pub_ms) / max(1, len(pub_ms)),
        "sink.rows": sum(e["arrivals"] for e in ev),
        "trace.coverage": 1 - unattributed / wall,
        **jvm_layers(raw["phase1_cpu_groups_ns"],
                     (raw["phase1"]["end_id"] - raw["phase1"]["first_id"])
                     / raw["phase1"]["rate"]),
    })
    summary = {"micro_batches": len(busy),
               "layer_self_ms": {k: v / 1000.0 / n
                                 for k, v in layers.items()},
               "not_on_path": [k for k in PER_LAYER if k.split(".")[0] in
                               ("operators", "catalyst", "scan", "cache",
                                "stages")] + ["trace.overhead_ms"]}
    return metrics, spans, summary


END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
PER_LAYER = {
    "operators.build_ms": "ms", "operators.eager_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "codegen.compile_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.delay_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "scan.bytes": "bytes", "scan.ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.records": "count", "spill.bytes": "bytes",
    "cache.persisted_rdds": "count", "stages.build_s": "s",
    "sources.gen_late_ms": "ms", "sources.backlog_events": "count",
    "sources.bridge_dropped": "count", "streaming.trigger_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.walcommit_ms": "ms",
    "streaming.rows_per_batch": "count", "state.rows_total": "count",
    "state.memory_bytes": "bytes", "state.commit_ms": "ms",
    "state.dup_drop_ratio": "ratio", "sink.publish_ms": "ms",
    "sink.rows": "count", "trace.coverage": "ratio",
    "trace.overhead_ms": "ms", "jvm.app_cpu_ms": "ms",
    "jvm.jit_cpu_ms": "ms", "jvm.gc_cpu_ms": "ms",
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    record = build()
    began = time.time()
    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw_path = os.path.join(run_dir, "raw.json")
    sf = WORKLOADS[a.workload]
    if sf:
        with open(os.path.join(HERE, "costs.json")) as f:
            costs = json.load(f)
        picked = core.sample(record["modules"], costs, a.seed)
        args = ["batch", os.path.join(HERE, "data", sf), ",".join(picked),
                str(a.seconds), str(a.trace), str(cpus), run_dir, raw_path]
    else:
        args = ["bus", str(a.seed), str(a.seconds), str(a.trace), str(cpus),
                run_dir, raw_path]
    steal0 = cpu_steal()
    jvm(record, args, os.path.join(run_dir, "jvm.log"), RUN_LIMIT_S)
    steal1 = cpu_steal()
    with open(raw_path) as f:
        raw = json.load(f)
    if sf:
        wrong = check_batch(raw, record, run_dir)
        for name, why in sorted(wrong.items()):
            log(f"wrong result {name}: {why}")
        attempted, failed, metrics, samples = batch_metrics(raw, wrong)
        samples["sample"] = raw["sample"]
        if a.trace:
            metrics, spans, summary = batch_trace(raw)
    else:
        attempted, failed, metrics, samples = bus_metrics(raw)
        if failed:
            log(f"bus check failed: {json.dumps(samples)}")
        if samples["gen_behind"]:
            log("generator fell behind its schedule: the open loop did not "
                "hold (see sources.gen_late_ms)")
        if a.trace:
            metrics, spans, summary = bus_trace(raw)
    units = PER_LAYER if a.trace else END_TO_END
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u}
                          for k, u in units.items()}}
    detail = dict(result, workload=a.workload, seed=a.seed, cpus=cpus,
                  failed_frac=failed / attempted, samples=samples,
                  run_s=time.time() - began,
                  # CPU time the hypervisor took from this machine during
                  # the run: a noisy neighbour shows here, not in the code
                  host_steal_pct=100.0 * (steal1[0] - steal0[0])
                  / max(1, steal1[1] - steal0[1]))
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    if a.trace:
        detail["trace"] = summary
        with open(os.path.join(out_dir, tag + ".spans.json"), "w") as f:
            json.dump(spans, f)
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
