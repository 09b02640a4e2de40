#!/usr/bin/env python3
"""The engine's benchmark: one command per workload, end to end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a source tree. It compiles the engine together with
the harness in `perfbench/` (sbt, offline), generates the workload's fixture
with `graft.datagen.DataGen` once per scale under `perfbench/.data/`, and
then, in a fresh run directory under `perfbench/.work/` (its own
`java.io.tmpdir`, Spark local dir and checkpoint dir, so no run reuses
another run's fitted artifacts):

  1. starts the JVM and times process start, session build and the
     warm-up query as `setup_s`;
  2. runs a cold pass and then warm passes over the workload's queries,
     at least `min_warm` of them and more while they end within
     `--seconds`. `--seed` shuffles the query order inside each pass;
  3. replays each query's oracle SQL in DuckDB over the same fixture and
     compares it with the result the cold pass wrote, with
     `tools/check.py`, outside the timed window.

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` the warm passes alternate between untraced and traced, and the
line carries the per-layer metrics, and the run's reconciliation and spans
stay in `perfbench/.work/last-<workload>/`. The line before it is a health
record. `perfbench/README.md` defines every workload and metric.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DATA = os.path.join(HERE, ".data")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 165  # a run must end within 180 s; leave room to clean up

# family: the query set Harness.scala runs; sf: DataGen scale of the fixture;
# min_warm: warm passes a run makes at least (one of each kind when traced).
WORKLOADS = {
    "amplab_sf01": dict(family="amplab", sf="0.1", min_warm=1),
    "stream_sf01": dict(family="stream", sf="0.1", min_warm=2),
}
# time-ordered files the stream family reads its events from, one per
# micro-batch
STREAM_FILES = 3

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

JAVA_OPTS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"]
] + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
     "-Xmx3g"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            glob.glob(os.path.join(base, "**", "*"), recursive=True))
        for f in files:
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """$SPARK_HOME/jars, or else the jar directory the engine's own build.sbt
    names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def source_digest():
    return tree_digest([os.path.join(ROOT, "src", "main"),
                        os.path.join(HERE, "src"),
                        os.path.join(HERE, "build.sbt"),
                        os.path.join(HERE, "project", "build.properties")])


def build():
    """Compile engine + harness unless the classes match the sources."""
    stamp = os.path.join(CLASSES, ".source-digest")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    log("compiling engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_SPARK_JARS=spark_jars())
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx3g"
        % os.path.expanduser("~/.sbt/repositories"))
    # products = compile plus the copied resources (the data source registry)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "Compile / products"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def java_cmd(main, tmpdir, args):
    return (["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmpdir, "-cp",
            CLASSES + os.pathsep + os.path.join(spark_jars(), "*"), main]
            + [str(a) for a in args])


def run_java(main, workdir, args, timeout):
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    with open(os.path.join(workdir, "jvm.log"), "a") as err:
        r = subprocess.run(java_cmd(main, os.path.join(workdir, "tmp"), args),
                           stdout=err, stderr=err, timeout=timeout)
    if r.returncode != 0:
        with open(os.path.join(workdir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("%s %s exited with %d" % (main, " ".join(args[:2]), r.returncode))


def fixture(sf, cpus):
    """Generate the fixture once per scale; return (dir, manifest)."""
    d = os.path.join(DATA, "sf" + sf)
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        m = json.load(open(manifest_path))
        if m.get("stream_files") == STREAM_FILES:
            return d, m
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    gen = os.path.join(DATA, ".gen")
    log("generating fixture sf%s (one time per scale)" % sf)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    run_java("graft.datagen.DataGen", gen, [sf, d], 1500)
    run_java("perfbench.Harness", gen, [
        "--mode", "split-events", "--family", "stream", "--fixture", d,
        "--files", STREAM_FILES,
        "--run-dir", gen, "--cpus", cpus], 600)
    shutil.rmtree(gen, ignore_errors=True)
    import duckdb
    con = duckdb.connect()
    rows = {t: con.execute("SELECT count(*) FROM '%s/%s.parquet'" % (d, t))
            .fetchone()[0] for t in TABLES}
    m = {"sf": sf, "rows": rows, "stream_files": STREAM_FILES,
         "fingerprint": tree_digest([os.path.join(d, t + ".parquet")
                                     for t in TABLES])[:16]}
    with open(manifest_path, "w") as f:
        json.dump(m, f)
    return d, m


def timed_setup(workdir, args):
    """Start the harness JVM; return (process, set-up times in seconds)."""
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    err = open(os.path.join(workdir, "jvm.log"), "a")
    t0 = time.monotonic()
    p = subprocess.Popen(java_cmd("perfbench.Harness",
                                  os.path.join(workdir, "tmp"), args),
                         stdout=subprocess.PIPE, stderr=err, text=True)
    for line in p.stdout:
        if line.startswith("PERFBENCH_READY"):
            t = time.monotonic() - t0
            jvm, session, warmup = (float(x) / 1000 for x in line.split()[1:])
            return p, {"total_s": t, "jvm_s": jvm, "session_s": session,
                       "warmup_s": warmup}
    p.wait()
    with open(os.path.join(workdir, "jvm.log")) as f:
        sys.stderr.write(f.read()[-4000:])
    fail("JVM exited with %s before the warm-up finished" % p.returncode)


def oracle_check(fixture_dir, results_dir):
    """Run tools/check.py over the results and the oracle SQL the run wrote;
    return {query name: None, or the reason it missed}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(fixture_dir, results_dir)
    names = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    misses = {name: "no verdict from tools/check.py" for name in names}
    for line in out.getvalue().splitlines():
        status, _, rest = line.partition(" ")
        name = rest.strip().split(" ")[0].rstrip(":")
        if name in misses:
            misses[name] = None if status == "ok" else line
    return misses


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def per_query(passes, key):
    """{query name: [value per pass]} over the given passes."""
    out = {}
    for p in passes:
        for q in p["queries"]:
            out.setdefault(q["name"], []).append(q[key])
    return out


def stream_batches(passes):
    return [b for p in passes for q in p["queries"] for b in q["batches"]]


def tail(samples):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None with fewer than 20 samples, where no
    percentile above the median qualifies."""
    n = len(samples)
    if n < 20:
        return None
    pct = int(100 * (n - 10) / n)
    return pct, statistics.quantiles(samples, n=100,
                                     method="inclusive")[pct - 1]


def end_to_end(wl, res, setup_s, manifest):
    passes = res["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    wall_s = [p["wall_ms"] / 1000 for p in warm]
    if wl["family"] == "stream":
        # unit of work: a micro-batch that read input
        batches = [b for b in stream_batches(warm) if b["rows"] > 0]
        samples = [b["trigger_ms"] for b in batches]
        rows_per_s = (sum(b["rows"] for b in batches)
                      / (sum(samples) / 1000.0))
    else:
        # unit of work: a warm pass over the query mix. The median of single
        # query times jumps between queries of unlike size, so on this
        # workload both figures restate warm_pass_s: in ms, and as fixture
        # rows per second.
        samples = [p["wall_ms"] for p in warm]
        rows_per_s = sum(manifest["rows"].values()) / median(wall_s)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0]["wall_ms"] / 1000, "s"),
        "warm_pass_s": (median(wall_s), "s"),
        "query_geomean_s": (geomean(
            [median(v) / 1000 for v in per_query(warm, "total_ms").values()]),
            "s"),
        "rows_per_s": (rows_per_s, "1/s"),
        "batch_p50_ms": (median(samples), "ms"),
        "cost_usd": (median([p["cost_usd"] for p in warm]), "usd"),
    }
    t = tail(samples)
    info = {"warm_passes": len(warm), "batch_samples": len(samples),
            "batch_tail": {"percentile": t[0], "ms": t[1]} if t else None}
    return metrics, info


def layer_sums(p, key):
    return sum(q.get(key, 0) for q in p["queries"])


def per_layer(wl, res):
    passes = res["passes"]
    cold = passes[0]
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    cpus = res["cpus"]

    def mean_sum(key):
        return statistics.mean(layer_sums(p, key) for p in traced)

    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    put("queries.build_ms", mean_sum("build_ms"), "ms")
    put("queries.build_jobs", mean_sum("build_jobs"), "count")
    put("sql.analysis_ms", mean_sum("analysis_ms"), "ms")
    put("sql.optimization_ms", mean_sum("optimization_ms"), "ms")
    put("sql.planning_ms", mean_sum("planning_ms"), "ms")
    put("sql.plan_nodes", mean_sum("plan_nodes"), "count")
    put("scheduler.jobs", mean_sum("jobs"), "count")
    put("scheduler.stages", mean_sum("stages"), "count")
    put("scheduler.tasks", mean_sum("tasks"), "count")
    put("scheduler.job_ms", mean_sum("job_union_ms"), "ms")
    put("scheduler.driver_gap_ms", statistics.mean(
        sum(q["total_ms"] - q["job_union_ms"] for q in p["queries"])
        for p in traced), "ms")
    put("scheduler.task_wait_ms", mean_sum("task_wait_ms"), "ms")
    put("executor.run_ms", mean_sum("run_ms"), "ms")
    put("executor.cpu_ms", mean_sum("cpu_ms"), "ms")
    put("executor.gc_ms", mean_sum("gc_ms"), "ms")
    put("executor.deser_ms", mean_sum("deser_ms"), "ms")
    put("executor.busy_frac", statistics.mean(
        layer_sums(p, "run_ms") / (p["wall_ms"] * cpus) for p in traced),
        "fraction")
    put("io.scan_bytes", mean_sum("scan_bytes"), "bytes")
    put("io.scan_rows", mean_sum("scan_rows"), "count")
    put("io.output_bytes", mean_sum("output_bytes"), "bytes")
    put("shuffle.write_bytes", mean_sum("shuffle_write_bytes"), "bytes")
    put("shuffle.read_bytes", mean_sum("shuffle_read_bytes"), "bytes")
    put("shuffle.fetch_wait_ms", mean_sum("fetch_wait_ms"), "ms")
    put("spill.memory_bytes", mean_sum("spill_memory_bytes"), "bytes")
    put("spill.disk_bytes", mean_sum("spill_disk_bytes"), "bytes")
    put("memory.peak_execution_bytes", max(
        q["peak_execution_bytes"] for p in traced for q in p["queries"]),
        "bytes")

    # mr: the paper's MapReduce API against the DataFrame form of each job
    pairs = [("q_mr_wordcount", "q_wordcount"),
             ("q_mr_substr_agg", "q2_substr_agg"),
             ("q_mr_q3", "q3_join_top1")]
    times = per_query(untraced, "total_ms")
    shuffle = per_query(traced, "shuffle_write_bytes")
    have = [(a, b) for a, b in pairs if a in times and b in times]
    put("mr.slowdown", geomean(
        [median(times[a]) / median(times[b]) for a, b in have]), "ratio")
    put("mr.shuffle_bytes_ratio", geomean(
        [median(shuffle[a]) / median(shuffle[b]) for a, b in have
         if median(shuffle[b]) > 0]), "ratio")

    rounds = mean_sum("observed_actions")
    put("operators.rounds", rounds, "count")
    # jobs of the queries that ran rounds, per round
    put("operators.jobs_per_round", statistics.mean(
        sum(q["jobs"] for q in p["queries"] if q["observed_actions"])
        for p in traced) / rounds if rounds else 0.0, "ratio")

    put("artifact.cold_fits", res["cold_fits"], "count")
    warm_total = per_query(untraced, "total_ms")
    put("artifact.fit_ms", sum(
        q["total_ms"] - median(warm_total.get(q["name"], [q["total_ms"]]))
        for q in cold["queries"] if q["cold_fits"] > 0), "ms")

    stream = wl["family"] == "stream"
    batches = stream_batches(traced) if stream else []
    data = [b for b in batches if b["rows"] > 0]
    n = len(traced)
    put("streaming.batches", len(data) / n, "count")
    put("streaming.no_data_batches", (len(batches) - len(data)) / n, "count")
    for key in ["query_planning_ms", "get_batch_ms", "add_batch_ms",
                "wal_commit_ms", "state_commit_ms"]:
        put("streaming." + key, sum(b[key] for b in batches) / n, "ms")
    put("streaming.state_bytes", max(
        [q["batches"][-1]["state_bytes"] for p in traced for q in p["queries"]
         if q.get("batches")] or [0]), "bytes")
    put("streaming.checkpoint_bytes_per_input_byte", (
        sum(q["checkpoint_bytes"] for p in traced for q in p["queries"])
        / sum(q["input_bytes"] for p in traced for q in p["queries"]))
        if stream else 0.0, "ratio")

    put("kv.writes", mean_sum("kv_writes"), "count")
    put("kv.reads", mean_sum("kv_reads"), "count")

    # tracing overhead: traced against untraced warm passes of this run
    if stream:
        def rate(ps):
            d = [b for b in stream_batches(ps) if b["rows"] > 0]
            return sum(b["rows"] for b in d) / sum(b["trigger_ms"] for b in d)
        overhead = (rate(untraced) - rate(traced)) / rate(untraced)
    else:
        u = median([p["wall_ms"] for p in untraced])
        overhead = (median([p["wall_ms"] for p in traced]) - u) / u
    put("trace.overhead_frac", overhead, "fraction")
    return m


def self_check(res):
    """Traced-run reconciliation; returns a list of violations."""
    bad = []
    tol_ms = 2.0  # listener times are whole milliseconds
    for p in res["passes"]:
        if not p["traced"]:
            continue
        total = sum(q["total_ms"] for q in p["queries"])
        if total > p["wall_ms"] + tol_ms:
            bad.append("pass %d: query times %.1f ms exceed pass %.1f ms"
                       % (p["index"], total, p["wall_ms"]))
        if p["wall_ms"] - total > max(0.02 * p["wall_ms"], 50.0):
            bad.append("pass %d: query times %.1f ms miss pass %.1f ms"
                       % (p["index"], total, p["wall_ms"]))
        for q in p["queries"]:
            if q["job_union_ms"] > q["total_ms"] + tol_ms:
                bad.append("pass %d %s: job spans %.1f ms exceed wall %.1f ms"
                           % (p["index"], q["name"], q["job_union_ms"],
                              q["total_ms"]))
            if not q["drained"]:
                bad.append("pass %d %s: listener bus not drained"
                           % (p["index"], q["name"]))
    return bad


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    spec = json.load(open(path))
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def reconcile(res):
    """Per traced query: wall time, job-span union and driver gap."""
    return [{"pass": p["index"], "query": q["name"], "wall_ms": q["total_ms"],
             "job_union_ms": q["job_union_ms"],
             "driver_gap_ms": q["total_ms"] - q["job_union_ms"],
             "jobs": q["jobs"]}
            for p in res["passes"] if p["traced"] for q in p["queries"]]


def cpu_ticks():
    """(steal, total) CPU ticks of the machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of the engine's source tree")
    wl = WORKLOADS[a.workload]
    cpus = len(os.sched_getaffinity(0))
    digest = build()
    fixture_dir, manifest = fixture(wl["sf"], cpus)

    t_start = time.monotonic()
    run_dir = os.path.join(WORK, "%s-s%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    common = ["--family", wl["family"], "--fixture", fixture_dir,
              "--cpus", cpus]
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = None
    try:
        d = os.path.join(run_dir, "main")
        steal0, total0 = cpu_ticks()
        p, setup = timed_setup(d, [
            "--mode", "run", "--run-dir", d, "--seed", a.seed,
            "--seconds", a.seconds, "--trace", a.trace,
            # traced runs alternate untraced and traced passes ABBA, which
            # takes two of each to balance the warm-up between them
            "--min-warm", max(wl["min_warm"], 2) if a.trace else wl["min_warm"],
            ] + common)
        try:
            p.stdout.read()
            rc = p.wait(timeout=max(5, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded its time limit")
        if rc != 0:
            with open(os.path.join(d, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail("run JVM exited with %d" % rc)
        steal1, total1 = cpu_ticks()
        res = json.load(open(os.path.join(d, "result.json")))
        misses = oracle_check(fixture_dir, os.path.join(d, "results"))

        threw = [(p_["index"], q["name"], q["error"]) for p_ in res["passes"]
                 for q in p_["queries"] if not q["ok"]]
        attempted = sum(len(p_["queries"]) for p_ in res["passes"])
        # a query that threw in the cold pass has no result to check: count
        # it once
        cold_threw = {q["name"] for q in res["passes"][0]["queries"]
                      if not q["ok"]}
        failed = len(threw) + sum(1 for k, v in misses.items()
                                  if v and k not in cold_threw)
        problems = ["%s: oracle miss: %s" % (k, v) for k, v in misses.items() if v]
        problems += ["pass %d %s threw %s" % t for t in threw]
        if res["q1_scan_columns"] is not None and res["q1_scan_columns"] != [
                "l_linenumber", "l_orderkey", "l_quantity"]:
            problems.append("q1_filter_project scanned %s, not all three "
                            "columns" % res["q1_scan_columns"])
        e2e, info = end_to_end(wl, res, setup["total_s"], manifest)
        metrics = e2e
        if a.trace:
            metrics = per_layer(wl, res)
            problems += self_check(res)
        declared = declared_metrics(a.trace)
        if declared is not None:
            for name, unit in declared.items():
                if name not in metrics or metrics[name][1] != unit:
                    problems.append("metric %s not emitted with unit %s"
                                    % (name, unit))
        health = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cpus": cpus, "jvm_processors": res["available_processors"],
            "fixture": os.path.relpath(fixture_dir, ROOT),
            "fixture_fingerprint": manifest["fingerprint"],
            "fixture_rows": sum(manifest["rows"].values()),
            "cold_fits": res["cold_fits"],
            "listeners_drained": res["listeners_drained"],
            "heap_limit_mb": res["heap_limit_mb"],
            "peak_heap_mb": res["peak_heap_mb"],
            "git_commit": git_commit(), "source_digest": digest[:16],
            "spark_version": res["spark_version"],
            "java_version": res["java_version"],
            "setup": setup, "window_s": res["window_s"],
            # CPU time the hypervisor gave to other guests while the JVM ran
            "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "attempted": attempted, "failed": failed,
            "failed_frac": failed / attempted, "problems": problems}
        health.update(info)
        if a.trace:
            last = os.path.join(WORK, "last-" + a.workload)
            shutil.rmtree(last, ignore_errors=True)
            os.makedirs(last)
            with open(os.path.join(last, "reconcile.json"), "w") as f:
                json.dump({"health": health, "queries": reconcile(res),
                           "per_layer": {k: v[0] for k, v in metrics.items()}},
                          f, indent=1)
            shutil.copy(os.path.join(d, "trace.json"), last)
        print(json.dumps({"health": health}))
        print(json.dumps({
            "correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
