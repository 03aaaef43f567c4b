#!/usr/bin/env python3
"""Benchmark of the hourly observability pipeline.

Usage, from the repository root:

    python3 perfbench/run.py --workload hour_batch --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark's JVM program from source (cached under
`.bench_build/`, or `$CARGO_TARGET_DIR` when set), generates the workload's
hours from the seed, runs them through the engine's public entry points on
`local[4]`, checks every hour's outputs against the engine-free model in
`model.py`, and prints one JSON object as its last line of output:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.

Workloads (see BENCHMARK.json for why each was chosen):

- hour_batch: closed loop over one large Zipf-client hour: spec parse,
  `PipelineCompiler.run`, `TlbMetrics.compute`, `TlbMetrics.writeGoldenJson`.
- hour_arrival: open loop; a small uniform-client hour is dropped every
  ARRIVAL_INTERVAL_S seconds into the watch directory of a running
  `PipelineCompiler.runOnArrival` query, whose `onHour` callback writes that
  hour's TLB file. Latency runs from the hour's due time to that file.
- ops_headline: closed loop of passes over Staging-heavy graph queries of
  `graft.SparkEntry` (`ops.QUERIES`) on seeded tables, each query forced
  through a `noop` write; every query's output is checked against its
  DuckDB oracle SQL.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import model  # noqa: E402
import ops  # noqa: E402

BATCH_EVENTS = 30_000
BATCH_CLIENTS = 10_000
BATCH_ZIPF = 1.1
ARRIVAL_EVENTS = 1_000
ARRIVAL_CLIENTS = 100
ARRIVAL_INTERVAL_S = 3.0
# Untimed passes before measuring: over the small fixture hour before two
# over the large hour of hour_batch, extra hours of hour_arrival pushed
# through its query one at a time, and passes over the ops_headline queries
# (part of its set-up).
BATCH_WARM_PASSES = 3
ARRIVAL_WARM_HOURS = 3
OPS_WARM_PASSES = 3
# An arrival hour whose TLB file lands later than this after its due time
# counts as late.
ARRIVAL_LATENCY_LIMIT_S = 5.0
# Scale factor of the ops_headline tables.
OPS_SF = 0.005
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
WORKLOADS = ("hour_batch", "hour_arrival", "ops_headline")

END_TO_END = {
    "setup_s": "s", "batch_hour_s": "s", "batch_events_per_s": "1/s",
    "arrival_latency_p50_s": "s", "arrival_latency_tail_s": "s", "ops_pass_s": "s",
}
LAYER_UNITS = {
    "io.read_s": "s", "io.read_tasks": "count", "io.read_amplification": "ratio",
    "io.write_s": "s", "io.write_bytes": "bytes",
    "enrich.s": "s", "enrich.broadcast_bytes": "bytes", "enrich.hit_ratio": "ratio",
    "mappings.s": "s", "mappings.pairs_per_key": "ratio",
    "pipeline.plan_s": "s", "pipeline.stage_1_s": "s", "pipeline.stage_2_s": "s", "pipeline.stage_3_s": "s",
    "pipeline.jobs_per_hour": "count", "pipeline.stages_per_hour": "count",
    "tlb.s": "s", "sessionize.s": "s", "sessionize.task_skew": "ratio", "correlate.s": "s",
    "correlate.rows_out": "count", "metrics.counts_s": "s", "metrics.zerofill_s": "s", "tlb.json_s": "s",
    "arrival.discovery_s": "s", "arrival.backlog_max": "count", "arrival.generator_late_s": "s",
    "staging.calls": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.exchanges": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.core_util": "ratio",
    "trace.overhead": "ratio", "failed_frac": "ratio", "arrival_late_frac": "ratio",
    **{f"ops.{q}_s": "s" for q in ops.QUERIES},
}
# The JVMs run with -XX:-UsePerfData and a java.io.tmpdir in the work tree, so
# nothing is written outside the checkout.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The classpath glob of the Spark jars: `$SPARK_HOME/jars`, else the
    directory `build.sbt` names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars in '{jars}'; set SPARK_HOME")
    return os.path.join(jars, "*")


def compile_once(build, name, sources, jars, classpath, depends=""):
    """Compiles `sources` into build/name-<hash of the sources and of
    `depends`>, once."""
    h = hashlib.sha256(depends.encode())
    for s in sorted(sources):
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build, f"{name}-{h.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "jtmp"))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}/jtmp", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", classpath] + sorted(sources)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    shutil.rmtree(os.path.join(tmp, "jtmp"))
    os.rename(tmp, out)
    return out


def build(root):
    main_src = glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)
    if not main_src:
        fail("no engine sources under src/main/scala; run from the repository root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    main_cls = compile_once(build_dir, "main", main_src, jars, jars)
    bench_src = glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True)
    bench_cls = compile_once(build_dir, "bench", bench_src, jars, f"{main_cls}:{jars}",
                             depends=os.path.basename(main_cls))
    return f"{bench_cls}:{main_cls}:{jars}"


def generate(work, workload, seed, seconds):
    """Writes the workload's inputs to work/gen and returns its hours (for
    ops_headline, the queries in pass order) with the expectation for each:
    the model's for an hour, the table row count for ops_headline."""
    gen = os.path.join(work, "gen")
    os.makedirs(gen)
    if workload == "ops_headline":
        rows = ops.generate_tables(os.path.join(gen, "ops"), seed, OPS_SF)
        order = list(ops.QUERIES)
        random.Random(seed).shuffle(order)
        return order, {"rows": rows}
    if workload == "hour_batch":
        hours = [f"2025{1 + seed % 12:02d}{1 + seed % 28:02d}{seed % 24:02d}"]
        spec = [(hours[0], seed, BATCH_EVENTS, BATCH_CLIENTS, BATCH_ZIPF)]
    else:
        n = ARRIVAL_WARM_HOURS + max(1, int(seconds / ARRIVAL_INTERVAL_S))
        base = 1_000_000 * (seed % 1000)
        hours = [f"{2030 + (base + i) // 8760 % 50}{1 + (base + i) // 720 % 12:02d}"
                 f"{1 + (base + i) // 24 % 28:02d}{(base + i) % 24:02d}" for i in range(n)]
        spec = [(h, seed * 100_003 + i, ARRIVAL_EVENTS, ARRIVAL_CLIENTS, None) for i, h in enumerate(hours)]
    expected = {}
    for hour, s, n_events, n_clients, zipf in spec:
        ev, tr, lg = model.generate_hour(hour, s, n_events, n_clients, zipf)
        for name, recs in (("user_exp", ev), ("trace", tr), ("log", lg)):
            model.write_json_array(os.path.join(gen, f"{name}_{hour}.json"), recs)
        expected[hour] = model.expected_hour(ev, tr, lg)
        expected[hour]["input_bytes"] = sum(
            os.path.getsize(os.path.join(gen, f"{name}_{hour}.json")) for name in ("user_exp", "trace", "log"))
    return hours, expected


def run_jvm(root, work, classpath, workload, seconds, trace, hours, deadline):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS +
           ["-cp", classpath, "graft.perfbench.Main", workload, work, str(seconds), str(trace),
            os.path.join(root, "src", "test", "resources", "reference"),
            os.path.join(HERE, "pipeline.yaml"), str(ARRIVAL_INTERVAL_S),
            str({"hour_batch": BATCH_WARM_PASSES, "hour_arrival": ARRIVAL_WARM_HOURS,
                  "ops_headline": OPS_WARM_PASSES}[workload])] + hours)
    log = os.path.join(work, "jvm.log")
    timed_out = False
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            timed_out = True
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if timed_out:
        fail(f"JVM did not finish in time; log tail:\n{open(log).read()[-3000:]}")
    if p.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
        fail(f"JVM exited with {p.returncode}; log tail:\n{open(log).read()[-3000:]}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check(hour_obs, expected):
    """None when the hour's outputs match the model, else why not."""
    if hour_obs["error"]:
        return hour_obs["error"]
    want = expected[hour_obs["hour"]]
    if hour_obs["tlb_sha256"] != want["tlb_sha256"]:
        return "TLB metrics differ from the model"
    for stage, w in want["stages"].items():
        got = hour_obs["stages"].get(stage)
        hits = -1 if w["hits"] is None else w["hits"]
        if got is None or got["rows"] != w["rows"] or got["hits"] != hits:
            return f"{stage} output {got} differs from the model {w}"
    return None


def tail_percentile(xs):
    """The highest (nearest-rank) percentile with at least ten samples beyond
    it, and its name; the maximum when there are fewer than twenty samples."""
    xs = sorted(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        k = max(0, math.ceil(len(xs) * p / 100) - 1)
        if len(xs) - k - 1 >= 10:
            return xs[k], f"p{p:g}"
    return xs[-1], "max"


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def layer_metrics(res, hours_ok, expected, workload):
    tr = res["trace"]
    spans, counters = tr["spans"], tr["counters"]
    selfs = self_times(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in kids.get(s["id"], []):
            out += subtree(c)
        return out

    def ctr(ss, key):
        return sum(counters.get(s["id"], {}).get(key, 0) for s in ss)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    keys = ["jobs", "stages", "tasks", "exchanges", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "executor_cpu_s", "gc_s"]
    if workload == "ops_headline":
        m = dict.fromkeys(LAYER_UNITS, 0.0)
        passes = [subtree(s) for s in spans if s["name"] == "ops.pass"]
        m.update({f"spark.{k}": med([ctr(ss, k) for ss in passes]) for k in keys})
        wall = med([ss[0]["end"] - ss[0]["start"] for ss in passes])
        m["spark.core_util"] = m["spark.executor_cpu_s"] / (wall * 4) if wall else 0.0
        for q in ops.QUERIES:
            m[f"ops.{q}_s"] = med([h["seconds"] for h in hours_ok if h["hour"] == q and h["kind"] == "real"])
        by_pass = {}
        for h in hours_ok:
            if h["kind"] not in ("warmup", "verify"):
                by_pass.setdefault((h["kind"], h["pass"]), []).append(h)
        m["staging.calls"] = med([sum(h["staging_calls"] for h in hs) for hs in by_pass.values()])
        real_s = [sum(h["seconds"] for h in hs) for (kind, _), hs in by_pass.items() if kind == "real"]
        traced_s = [sum(h["seconds"] for h in hs) for (kind, _), hs in by_pass.items() if kind == "traced"]
        m["trace.overhead"] = med(traced_s) / med(real_s) if real_s and traced_s else 0.0
        return m

    layered = [subtree(s) for s in spans if s["name"] == "hour.layered"]

    def per_layered(fn):
        return med([fn(ss) for ss in layered])

    def named(ss, name):
        return [s for s in ss if s["name"] == name]

    def self_of(name):
        return per_layered(lambda ss: sum(selfs[s["id"]] for s in named(ss, name)))

    def incl(name):
        return per_layered(lambda ss: sum(s["end"] - s["start"] for s in named(ss, name)))

    def skew(ss):
        ms = [t for s in named(ss, "sessionize") for t in counters.get(s["id"], {}).get("task_ms", [])]
        return max(ms) / max(1.0, statistics.median(ms)) if ms else 0.0

    side = res["side_counts"]

    def side_ratio(a, b):
        vals = [m[a] / m[b] for m in side if m.get(b)]
        return med(vals)

    m = {
        "io.read_s": self_of("io.read"),
        "io.read_tasks": per_layered(lambda ss: ctr(named(ss, "io.read"), "tasks")),
        "io.write_s": self_of("io.write"),
        "io.write_bytes": per_layered(lambda ss: ctr(named(ss, "io.write"), "output_bytes")),
        "enrich.s": self_of("enrich"),
        "enrich.broadcast_bytes": per_layered(lambda ss: ctr(named(ss, "enrich"), "broadcast_bytes")),
        "enrich.hit_ratio": side_ratio("enrich.hits", "enrich.rows"),
        "mappings.s": self_of("mappings"),
        "mappings.pairs_per_key": side_ratio("mappings.pairs", "mappings.keys"),
        "pipeline.plan_s": incl("pipeline.plan"),
        "pipeline.stage_1_s": incl("pipeline.stage_1"),
        "pipeline.stage_2_s": incl("pipeline.stage_2"),
        "pipeline.stage_3_s": incl("pipeline.stage_3"),
        "tlb.s": incl("tlb"),
        "sessionize.s": self_of("sessionize"),
        "sessionize.task_skew": per_layered(skew),
        "correlate.s": self_of("correlate"),
        "correlate.rows_out": med([m["correlate.rows_out"] for m in side if "correlate.rows_out" in m]),
        "metrics.counts_s": self_of("metrics.counts"),
        "metrics.zerofill_s": self_of("metrics.zerofill"),
        "tlb.json_s": self_of("tlb.json"),
    }

    m.update({f"ops.{q}_s": 0.0 for q in ops.QUERIES})
    if workload == "hour_batch":
        real = [subtree(s) for s in spans if s["name"] == "hour"]
        per_hour = {k: med([ctr(ss, k) for ss in real]) for k in keys}
        in_bytes = next(iter(expected.values()))["input_bytes"]
        m["io.read_amplification"] = med([ctr(named(ss, "pipeline.run"), "input_bytes") for ss in real]) / in_bytes
        m["pipeline.plan_s"] = med([s["end"] - s["start"] for ss in real for s in named(ss, "pipeline.plan")])
        m["pipeline.jobs_per_hour"] = med([ctr(named(ss, "pipeline.run"), "jobs") for ss in real])
        m["pipeline.stages_per_hour"] = med([ctr(named(ss, "pipeline.run"), "stages") for ss in real])
        wall = med([ss[0]["end"] - ss[0]["start"] for ss in real])
        m["arrival.discovery_s"] = m["arrival.backlog_max"] = m["arrival.generator_late_s"] = 0.0
    else:
        arr_ok = [h for h in hours_ok if h["kind"] == "arrival"]
        n = max(1, len(arr_ok))
        stream = counters.get("arrival.stream", {})
        tlb_spans = [s for s in spans if s["name"] == "tlb" and not s["parent"]]
        per_hour = {k: (stream.get(k, 0) + ctr(tlb_spans, k)) / n for k in keys}
        m["io.read_amplification"] = stream.get("input_bytes", 0) / max(1, sum(
            expected[h["hour"]]["input_bytes"] for h in arr_ok))
        m["pipeline.jobs_per_hour"] = stream.get("jobs", 0) / n
        m["pipeline.stages_per_hour"] = stream.get("stages", 0) / n
        wall = med([h["seconds"] for h in arr_ok]) if arr_ok else 1.0
        m.update(arrival_layer(res["hours"]))
    m.update({f"spark.{k}": v for k, v in per_hour.items()})
    m["spark.core_util"] = per_hour["executor_cpu_s"] / (wall * 4) if wall else 0.0
    m["staging.calls"] = res["staging_calls"] / max(1, len(hours_ok))
    real_s = [h["seconds"] for h in hours_ok if h["kind"] == "real"]
    traced_s = [h["seconds"] for h in hours_ok if h["kind"] == "traced"]
    m["trace.overhead"] = med(traced_s) / med(real_s) if real_s and traced_s else 0.0
    return m


def arrival_layer(hours):
    arr = [h for h in hours if h["kind"] == "arrival"]
    ok = [h for h in arr if not h["error"]]
    events = sorted([(h["published"], 1) for h in arr] + [(h["done"], -1) for h in ok])
    backlog = peak = 0
    for _, d in events:
        backlog += d
        peak = max(peak, backlog)
    return {
        "arrival.discovery_s": statistics.median([h["started"] - h["due"] for h in ok]) if ok else 0.0,
        "arrival.backlog_max": peak,
        "arrival.generator_late_s": max(h["published"] - h["due"] for h in arr),
    }


def main():
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "test", "resources", "reference")):
        fail("reference fixtures not found under src/test/resources/reference")
    classpath = build(root)
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        hours, expected = generate(work, args.workload, args.seed, args.seconds)
        res = run_jvm(root, work, classpath, args.workload, args.seconds, args.trace, hours, deadline)
        report(args, res, expected, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, expected, work):
    obs = res["hours"]
    problems = list(res["setup_errors"])
    # A query whose output fails the oracle check fails every run of it.
    verdicts = {}
    if args.workload == "ops_headline":
        verdicts = ops.check(os.path.join(work, "gen", "ops"), os.path.join(work, "verify"), res["oracle_sql"])
        for q in {h["hour"] for h in obs} - set(res["oracle_sql"]):
            verdicts[q] = "no oracle SQL"
        problems += [f"query {q}: {why}" for q, why in sorted(verdicts.items()) if why]
    ok = []
    for h in obs:
        why = h["error"] if args.workload == "ops_headline" else check(h, expected)
        if why:
            problems.append(f"{h['hour']} ({h['kind']}): {why}")
        elif not verdicts.get(h["hour"]):
            ok.append(h)
    ok_ids = {id(h) for h in ok}
    attempted, failed = len(obs), len(obs) - len(ok)
    for p in problems:
        print(f"FAILED {p}")

    # Timed units of work: closed-loop hours, arrival hours, or passes over
    # the queries (a pass counts only when every query in it succeeded). In a
    # closed loop a unit is due when the previous one ends, so its latency is
    # its own time.
    if args.workload == "ops_headline":
        by_pass = {}
        for h in obs:
            if h["kind"] == "real":
                by_pass.setdefault(h["pass"], []).append(h)
        units = [(sum(h["seconds"] for h in hs), expected["rows"]) for hs in by_pass.values()
                 if all(id(h) in ok_ids for h in hs)]
        latency = [sec for sec, _ in units]
    else:
        timed = [h for h in ok if h["kind"] in ("real", "arrival")]
        units = [(h["seconds"], expected[h["hour"]]["records"]) for h in timed]
        latency = [h["done"] - h["due"] if h["kind"] == "arrival" else h["seconds"] for h in timed]
    if not units:
        print(json.dumps({"correct": False, "attempted": max(1, attempted), "failed": max(1, failed),
                          "metrics": {}}))
        return
    service = [sec for sec, _ in units]
    tail, tail_name = tail_percentile(latency)
    e2e = {
        "setup_s": res["setup_s"],
        "batch_hour_s": statistics.median(service),
        "batch_events_per_s": sum(n for _, n in units) / sum(service),
        "arrival_latency_p50_s": statistics.median(latency),
        "arrival_latency_tail_s": tail,
        "ops_pass_s": statistics.median(service),
    }
    arrivals = [h for h in obs if h["kind"] == "arrival"]
    late = sum(1 for h in arrivals if id(h) not in ok_ids or h["done"] - h["due"] > ARRIVAL_LATENCY_LIMIT_S)
    n_arr = len(arrivals)
    print(f"workload {args.workload} seed {args.seed}: {len(units)} timed units, "
          f"setup {res['setup_s']:.2f} s, tail = {tail_name} of {len(latency)} latencies, "
          f"late {late}/{n_arr} over {ARRIVAL_LATENCY_LIMIT_S} s, staging calls {res['staging_calls']}, "
          f"unit seconds {['%.2f' % x for x in service]}")
    if args.trace:
        metrics = layer_metrics(res, ok, expected, args.workload)
        metrics["failed_frac"] = failed / attempted
        metrics["arrival_late_frac"] = late / n_arr if n_arr else failed / attempted
        units = LAYER_UNITS
        trace_out = os.path.join(os.path.dirname(work), f"trace-{args.workload}-{args.seed}.json")
        with open(trace_out, "w") as f:
            json.dump(res["trace"], f)
        print(f"spans and counters written to {os.path.relpath(trace_out)}")
    else:
        metrics, units = e2e, END_TO_END
    for k in sorted(metrics):
        print(f"  {k:28s} {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
