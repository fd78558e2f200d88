#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program (src/main/scala)
and the benchmark's own Scala sources (perfbench/scala) with the Scala
compiler that ships among the Spark jars named in build.sbt, generates the
workload's inputs from the seed, runs the workload in one JVM, checks
every output, and prints report lines followed by one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 the per-layer
ones (layer counters, span self times, streaming progress).

Workloads (see perfbench/README.md for why each exists and which layer
metric should move which end-to-end metric):
  stream-stateful  T4/T7/T8/T10 over MemoryStream: closed-loop capacity,
                   then an open loop at a fixed rate with concurrent
                   interactive-query reads of the T4 store;
  batch            the batch forms of the topologies plus one corpus read
                   and one corpus write query over the committed sf0.01
                   testdata, closed loop, seeded query order.

Exit status: 0 when every output checked correct; 1 when any operation
failed or mismatched; 2 when building or running failed.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
# The engine's testdata at scale factor 0.01 (the tables the batch queries
# read), copied byte for byte so a run reads nothing outside its checkout.
TESTDATA = os.path.join(HERE, "testdata", "sf0.01")
JVM_TIMEOUT_S = 165
HEAP = "3g"
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    try:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
    except OSError:
        fail("no build.sbt: run from the root of a checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        fail("build.sbt names no jar directory holding the Scala compiler")
    return m.group(1)


def compile_tree(name, sources, classpath, jars):
    """scalac `sources` into .bench_build/<name> unless the stamp of the
    sources and classpath matches the last successful build."""
    out = os.path.join(BUILD, name)
    h = hashlib.sha256(classpath.encode())
    for s in sources:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    stamp = os.path.join(BUILD, f"{name}.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    p = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
         "-d", out, "-classpath", classpath, *sources],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout + p.stderr)
        fail(f"compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


def build():
    jars = spark_jars()
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not program or not bench:
        fail("program or benchmark sources missing")
    os.makedirs(BUILD, exist_ok=True)
    classes = compile_tree("classes", program, f"{jars}/*", jars)
    bench_classes = compile_tree("bench-classes", bench, f"{jars}/*:{classes}", jars)
    return jars, f"{jars}/*:{classes}:{bench_classes}"


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_params(workload, seed, seconds, config, data):
    """Writes the streaming workload's records into `data` and returns the
    parameters the JVM side needs. The batch workload generates nothing."""
    if workload != "stream-stateful":
        return {"queries": config[workload]}
    rates = config["stream_rates"]
    # warm-up + closed loop + open loop at the configured rate, plus slack
    sizes = {t: int(gen.WARM_ROWS + gen.CLOSED_BATCHES * gen.BATCH_ROWS
                    + 1.5 * r * seconds / 4) + 1000 for t, r in rates.items()}
    gen.write_stream(data, seed, sizes)
    return {"rates": rates, "warm_rows": gen.WARM_ROWS, "batch_rows": gen.BATCH_ROWS,
            "closed_batches": gen.CLOSED_BATCHES}


def run_jvm(classpath, args):
    log = os.path.join(WORK, "jvm.log")
    cmd = ["java", "-XX:-UsePerfData", *ADD_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", *args]
    budget = JVM_TIMEOUT_S - (time.time() - T_START)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"workload JVM ended with {code}")


def oracle_check(res, names):
    """Compare each check-pass output with the engine's DuckDB oracle,
    using the normalise-sort-hash rule of tools/check_oracle.py. Returns
    the names that mismatched; queries without an oracle must be
    non-empty."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import normalize, table_hash

    con = duckdb.connect()
    for t in glob.glob(os.path.join(TESTDATA, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    bad = []
    for n in names:
        path = os.path.join(WORK, "out", n)
        if not os.path.isdir(path):
            bad.append(n)
            continue
        got = pd.read_parquet(path)
        if n not in res["oracle_sql"]:
            if len(got) == 0:
                bad.append(n)
            continue
        g, e = normalize(got), normalize(con.sql(res["oracle_sql"][n]).df())
        if list(g.columns) != list(e.columns) or len(g) != len(e) or table_hash(g) != table_hash(e):
            bad.append(n)
    return bad


def stream_latencies(res):
    """{topology: open-loop record latencies in ms}."""
    return {name: stats.open_loop_latencies(t["chunks"], stats.batch_ends(t["progress"]))
            for name, t in res["topologies"].items()}


def end_to_end(workload, res, setup_start, config):
    """(gated metrics, ungated metrics, extra report lines) of one run.

    Latency is measured and printed but not gated: between identical runs
    its median spreads by more than a third of the largest bound the gate
    allows (see perfbench/README.md)."""
    m = {"setup_s": (res["first_timed_ms"] / 1e3 - setup_start, "s")}
    wall = {}
    lines = [("peak_rss_mb", res["peak_rss_mb"], "MB", None)]
    if workload == "stream-stateful":
        per = stream_latencies(res)
        lat = [x for v in per.values() for x in v]
        topos = res["topologies"].values()
        busy = sum(t["closed_busy_s"] for t in topos)
        rows = sum(t["closed_rows"] for t in topos)
        wall["latency_p50_ms"] = (stats.percentile(lat, 50), "ms")
        m["pass_s"] = (busy, "s")
        fetch = res["fetch_us"]
        lines += [(f"stream.{t}.latency_p50_ms", stats.supported(v, 50), "ms", len(v))
                  for t, v in per.items()]
        lines += [("stream.rows_per_s", rows / busy, "rows/s", rows),
                  ("stream.latency_p95_ms", stats.supported(lat, 95), "ms", len(lat)),
                  ("stream.iq_fetch_p50_us", stats.supported(fetch, 50), "us", len(fetch)),
                  ("stream.iq_fetch_p99_us", stats.supported(fetch, 99), "us", len(fetch))]
    else:
        calls = [c for c in res["calls"] if c["ok"]]
        lat = [c["total_s"] * 1e3 for c in calls]
        passes = {}
        for c in res["calls"]:
            passes[c["pass"]] = passes.get(c["pass"], 0.0) + c["total_s"]
        wall["latency_p50_ms"] = (stats.percentile(lat, 50), "ms")
        m["pass_s"] = (stats.median(passes.values()), "s")
        for p in (50, 90):
            v = stats.supported(lat, p)
            lines.append((f"topology.latency_p{p}_s", v and v / 1e3, "s", len(lat)))
        for group in ("read", "write"):
            per = {}
            for c in res["calls"]:
                if c["query"] in config[f"corpus_{group}"]:
                    per[c["pass"]] = per.get(c["pass"], 0.0) + c["total_s"]
            lines.append((f"corpus.{group}_pass_s", stats.median(per.values()), "s", len(per)))
    return m, wall, lines


def per_layer(res, e2e):
    c = res["counters"]
    first, cpus = res["first_timed_ms"], res["cpus"]
    spans = res["spans"]
    nid = 10 ** 9
    prog, prog_t4 = [], []
    for topo, t in res.get("topologies", {}).items():
        for p in t["progress"]:
            if not first <= p["start_ms"] <= res["timed_end_ms"]:
                continue
            prog.append(p)
            if topo == "t4":
                prog_t4.append(p)
            d = p["durations"]
            trig = {"id": nid, "name": "stream.trigger", "start": p["start_ms"],
                    "end": p["start_ms"] + d.get("triggerExecution", 0), "parent": -1,
                    "req": f"{topo}#{p['batch']}"}
            spans.append(trig)
            at, nid = trig["start"], nid + 1
            for part in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                         "addBatch", "commitOffsets"):
                spans.append({"id": nid, "name": f"stream.{part}", "start": at,
                              "end": at + d.get(part, 0), "parent": trig["id"], "req": trig["req"]})
                at, nid = at + d.get(part, 0), nid + 1
    stats.attach(spans)
    by_id = {s["id"]: s for s in spans}

    def under(s, name):
        p, hops = s, 0
        while p["parent"] in by_id and hops < 64:
            p, hops = by_id[p["parent"]], hops + 1
            if p["name"] == name:
                return p
        return None

    def named(n):
        return [s for s in spans if s["name"] == n]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def uncovered_by_jobs(name):
        jobs = {}
        for j in named("job"):
            a = under(j, name)
            if a is not None:
                jobs.setdefault(a["id"], []).append((max(j["start"], a["start"]), min(j["end"], a["end"])))
        return sum((s["end"] - s["start"]) - stats.union_length(
            [iv for iv in jobs.get(s["id"], []) if iv[1] > iv[0]]) for s in named(name))

    self_t = stats.self_times(spans)

    def self_of(*names):
        return sum(v for k, v in self_t.items() if by_id[k]["name"] in names) / 1e3

    timed_s = res.get("timed_s") or (res["timed_end_ms"] - first) / 1e3
    m = {
        "mem.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "setup.session_s": (res["setup.session_s"], "s"),
        "setup.inputs_s": (res["setup.inputs_s"], "s"),
        "setup.warmup_s": (res["setup.warmup_s"], "s"),
        "codegen.compile_ms": (res["codegen.compile_ms"], "ms"),
        "codegen.classes": (res["codegen.classes"], "count"),
        "build.s": (dur(named("build")) / 1e3, "s"),
        "build.jobs": (sum(1 for j in named("job") if under(j, "build")), "count"),
        "build.driver_s": (uncovered_by_jobs("build") / 1e3, "s"),
        "catalyst.analysis_ms": (dur(named("catalyst.analysis")), "ms"),
        "catalyst.optimization_ms": (dur(named("catalyst.optimization")), "ms"),
        "catalyst.planning_ms": (dur(named("catalyst.planning")), "ms"),
        "sched.driver_gap_s": (uncovered_by_jobs("action") / 1e3, "s"),
        "exec.core_util": (c.get("exec.task_run_s", 0.0) / (timed_s * cpus), "ratio"),
        "self.call_s": (self_of("call"), "s"),
        "self.build_s": (self_of("build"), "s"),
        "self.action_s": (self_of("action"), "s"),
        "self.job_s": (self_of("job"), "s"),
        "self.catalyst_s": (self_of("catalyst.analysis", "catalyst.optimization",
                                    "catalyst.planning"), "s"),
        "self.trigger_s": (self_of("stream.trigger"), "s"),
        "self.add_batch_s": (self_of("stream.addBatch"), "s"),
    }
    units = {"sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
             "exec.task_cpu_s": "s", "exec.task_run_s": "s", "exec.gc_s": "s",
             "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
             "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
             "sources.input_rows": "rows", "sources.input_bytes": "bytes",
             "write.output_rows": "rows", "write.output_bytes": "bytes", "write.jobs": "count"}
    for k, u in units.items():
        m[k] = (c.get(k, 0.0), u)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    for key, part in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                      ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                      ("commit_offsets_ms", "commitOffsets"), ("get_batch_ms", "getBatch")):
        m[f"stream.{key}"] = (mean(p["durations"].get(part, 0) for p in prog), "ms")
    m["stream.batches"] = (len(prog), "count")
    m["stream.rows_per_batch"] = (mean(p["rows"] for p in prog if p["rows"] > 0), "rows")
    topos = res.get("topologies", {})
    for t in ("t4", "t7", "t8", "t10"):
        x = topos.get(t)
        m[f"stream.{t}.rows_per_s"] = (x["closed_rows"] / x["closed_busy_s"] if x else 0.0, "rows/s")
    m["stream.rows_per_s_1core"] = (res.get("stream.rows_per_s_1core", 0.0), "rows/s")
    m["state.rows_total"] = (max((p["state_rows"] for p in prog), default=0), "rows")
    m["state.memory_bytes"] = (max((p["state_bytes"] for p in prog), default=0), "bytes")
    m["state.commit_ms"] = (mean(p["state_commit_ms"] for p in prog), "ms")
    m["state.updates_ms"] = (mean(p["state_updates_ms"] for p in prog), "ms")
    m["state.removals_ms"] = (mean(p["state_removals_ms"] for p in prog), "ms")
    m["state.rows_dropped_by_watermark"] = (sum(p["state_dropped"] for p in prog), "rows")
    # The program's sink layer: T4's foreachBatch is exactly the
    # WindowCountStore upsert, so its addBatch time is the time in the sink.
    m["sink.batch_ms"] = (mean(p["durations"].get("addBatch", 0) for p in prog_t4), "ms")
    m["iq.store_entries"] = (res.get("iq.store_entries", 0), "count")
    chunks = [ch for t in topos.values() for ch in t["chunks"]]
    m["gen.lag_ms"] = (mean(ch["sent_ms"] - ch["due_ms"] for ch in chunks), "ms")
    backlog = 0
    for t in topos.values():
        ends = stats.batch_ends(t["progress"])
        for ch in t["chunks"]:
            end = next((e for s, f, e in ends if s < ch["offset"] <= f), None)
            if end is None or end > t["open_end_ms"]:
                backlog += ch["n"]
    m["gen.backlog_rows_end"] = (backlog, "rows")
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream-stateful", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    load_before = loadavg()
    jars, classpath = build()
    setup_start = time.time()
    config = json.load(open(os.path.join(HERE, "config.json")))
    shutil.rmtree(WORK, ignore_errors=True)
    data = os.path.join(WORK, "data")
    for d in (data, os.path.join(WORK, "tmp")):
        os.makedirs(d)
    params = os.path.join(WORK, "params.json")
    with open(params, "w") as f:
        json.dump(jvm_params(a.workload, a.seed, a.seconds, config, data), f)
    inputs_s = time.time() - setup_start

    result = os.path.join(WORK, "result.json")
    run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                        data if a.workload == "stream-stateful" else TESTDATA,
                        WORK, result, params])
    jvm_end = time.time()
    res = json.load(open(result))
    res["setup.inputs_s"] = inputs_s + res.get("setup.inputs_s", 0.0)

    if a.workload == "stream-stateful":
        attempted = sum(t["closed_rows"] + t["open_rows"] for t in res["topologies"].values()) \
            + len(res["fetch_us"])
        failed = res["stream_failed"] + res["fetch_failed"]
        bad = [f"{t}: {x['mismatches']} rows" for t, x in res["topologies"].items() if x["mismatches"]]
    else:
        names = config[a.workload]
        # a query that threw in the check pass also has no output to compare
        bad = sorted(set(oracle_check(res, names)) | set(res["errors"]))
        attempted = len(res["calls"]) + len(names)
        failed = len(bad)
    for b in bad:
        print(f"perfbench: output check failed: {b}", file=sys.stderr)
    print(f"perfbench: build {setup_start - T_START:.1f} s, inputs {inputs_s:.1f} s, "
          f"jvm {jvm_end - setup_start - inputs_s:.1f} s, checks {time.time() - jvm_end:.1f} s",
          file=sys.stderr)

    e2e, wall, lines = end_to_end(a.workload, res, setup_start, config)
    metrics = per_layer(res, {**e2e, **wall}) if a.trace else e2e
    lines += [("failed_ops_ratio", failed / attempted, "ratio", attempted),
              ("loadavg_1m_before", load_before, "", None),
              ("loadavg_1m_after", loadavg(), "", None)]
    for name, (v, unit) in sorted({**e2e, **wall}.items()):
        print(f"{a.workload} {name} = {v:.6g} {unit}")
    for name, v, unit, n in lines:
        shown = "unsupported by the sample" if v is None else f"{v:.6g} {unit}"
        print(f"{a.workload} {name} = {shown}" + (f" (n={n})" if n is not None else ""))
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
