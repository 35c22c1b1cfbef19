#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 flowbench/run.py --workload etl_batch --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft with the
repository's own build and the harness with flowbench/build.sbt, which
depends on it (sbt, offline; the harness's outputs go to
.bench_build/flowbench); later runs reuse the build while sources and
build files are unchanged. Each run generates its inputs from --seed,
starts fresh JVMs, checks every output against DuckDB and prints, as its
last line, {"correct", "attempted", "failed", "metrics"}. The line before
it holds the run's details: load context, thread counts, sample counts
and steadiness flags. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer metrics of a traced run. Workloads and metrics are
explained in flowbench/NOTES.md.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build", "flowbench")

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import steadiness  # noqa: E402

# Why each workload and size: flowbench/NOTES.md. Sizes are set so that a
# run takes 55–85 s on a 4-core box, JVM starts included. "graph" names
# the pipelines that run a graph loop of the functions layer
# (build.graph_share).
WORKLOADS = {
    "etl_batch": {"kind": "batch", "sf": 0.02, "docs_sf": 0.01, "warmup": 3, "pass_s": 4.5,
                  "pipelines": ["q_textrank", "q_count_distinct", "q_join", "q_session",
                                "q_tpch9"],
                  "graph": ["q_textrank"]},
    "event_stream": {"kind": "stream", "rows_per_file": 250, "file_span_s": 10,
                     "backlog": 64, "max_files": 64, "warmup": 3, "warm": 4,
                     "rate": 20.0, "late_rows": 12},
}
# set-up is timed this many times a run (the harness JVM's own start and
# set-up-only JVMs); the run reports the median
SETUP_SAMPLES = 3
# heap of the harness JVM, passed to the repository's build, whose JVM
# options read it from SPARK_DRIVER_MEM
HEAP = "2g"


def fail(msg):
    print(f"flowbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    """Spark's local[N]: one core fewer than this process may use, at most
    3 (the workloads are sized for a 4-core box), so that JIT compiler and
    GC threads do not queue behind Spark tasks."""
    return max(1, min(4, len(os.sched_getaffinity(0))) - 1)


def batch_passes(spec, a):
    """Untimed warm-up passes and timed warm passes of a batch run. Timed:
    --seconds over the workload's nominal warm pass time on a 4-core box,
    at least three, after the workload's warm-up passes. A traced run makes
    one warm-up pass and four timed ones (ABBA), one pass fewer than an
    untraced run at the usual --seconds. Fixed by the arguments, so that
    the number of samples does not change with the speed of the program."""
    if a.trace:
        return 1, 4
    return spec["warmup"], max(3, round(a.seconds / spec["pass_s"]))


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


# ---------------------------------------------------------------- build
def build():
    """Compile graft with the repository's own build and the harness with
    flowbench/build.sbt, which depends on it; returns the harness's runtime
    classpath and graft's JVM options, as that build reports them."""
    if not glob.glob(f"{ROOT}/src/main/scala/graft/*.scala"):
        fail("graft sources not found under src/main/scala; run from the repository root")
    sources = sorted(glob.glob(f"{ROOT}/src/main/**/*", recursive=True) +
                     glob.glob(f"{ROOT}/*.sbt") + glob.glob(f"{ROOT}/project/*.*") +
                     glob.glob(f"{HERE}/src/**/*", recursive=True) +
                     [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    h = hashlib.sha256(HEAP.encode())
    for p in sources:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    target = os.path.join(BUILD, "target")
    stamp = os.path.join(target, "stamp")

    def launch():
        with open(os.path.join(target, "classpath.txt")) as f:
            classpath = f.read().split()
        with open(os.path.join(target, "java_options.txt")) as f:
            options = [o for o in f.read().split("\n") if o]
        return {"classpath": ":".join(classpath), "options": options,
                "complete": all(os.path.exists(c) for c in classpath)}

    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and
            launch()["complete"]):
        repos = os.path.expanduser("~/.sbt/repositories")
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP, COURSIER_MODE="offline", SBT_OPTS=" ".join(
            ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"] + (
                ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
                if os.path.exists(repos) else [])))
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"], cwd=HERE,
                           env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("build failed")
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return launch()


def jvm(launch, args, work, deadline):
    cmd = ["java"] + launch["options"] + [f"-Djava.io.tmpdir={work}/tmp", "-cp",
                                          launch["classpath"], "flowbench.Harness"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    with open(f"{work}/jvm.log", "ab") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log)
        try:
            code = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out; see {work}/jvm.log")
    if code != 0:
        with open(f"{work}/jvm.log", errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")


# ---------------------------------------------------------------- stats
def median(xs):
    return statistics.median(xs)


def pct(xs, q):
    """q-th percentile, linear between closest ranks."""
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


TASK_KEYS = ("sched.jobs", "sched.stages", "sched.tasks", "task.run_s", "task.cpu_s",
             "task.gc_s", "task.peak_exec_mem_mb", "materialized.bytes_peak", "scan.rows",
             "scan.bytes", "scan.time_s", "sink.rows", "sink.bytes", "sink.commit_s",
             "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
             "spill.disk_bytes")
COLD_KEYS = ("plan.analysis_s", "plan.optimization_s", "plan.planning_s", "plan.exchanges",
             "plan.broadcasts", "codegen.compile_s", "codegen.compiles")
STREAM_KEYS = ("stream.batches", "stream.batch_s", "stream.offsets_s", "stream.planning_s",
               "stream.add_batch_s", "stream.wal_commit_s", "stream.trigger_wait_s",
               "stream.state_rows", "stream.state_mem_bytes", "stream.late_rows_dropped",
               "stream.backlog_end", "gen.lag_max_s")


def per_layer(res, spec):
    """Per-layer metrics of a traced run: medians over the traced warm
    passes (drains), planning and codegen from the cold one."""
    cold = res["passes"][0]
    tr = [p for p in res["passes"] if p["kind"] == "warm" and p["traced"]]

    def med(f):
        return median([f(p) for p in tr])

    def stat(p, k):
        return p["stats"].get(k, 0.0)

    m = {k: med(lambda p, k=k: stat(p, k)) for k in TASK_KEYS}
    m.update({k: stat(cold, k) for k in COLD_KEYS})
    m["executor.busy_ratio"] = med(lambda p: stat(p, "task.run_s") / (p["wall_s"] * res["cpus"]))
    m.update(per_layer_batch(spec, med) if spec["kind"] == "batch" else
             per_layer_stream(res, tr, med))
    return m


def per_layer_batch(spec, med):
    def phase(p, k, names=None):
        return sum(x[k] for x in p["pipelines"] if names is None or x["name"] in names)

    graph = spec["graph"]

    def graph_share(p):
        b, e = phase(p, "build_s", graph), phase(p, "exec_s", graph)
        return b / (b + e) if graph else 0.0

    m = {k: 0.0 for k in STREAM_KEYS}
    m.update({
        "build.wall_s": med(lambda p: phase(p, "build_s")),
        "build.self_s": med(lambda p: p["self"]["build.self_s"]),
        "build.jobs": med(lambda p: p["self"]["build.jobs"]),
        "build.graph_share": med(graph_share),
        "exec.wall_s": med(lambda p: phase(p, "exec_s")),
        "exec.self_s": med(lambda p: p["self"]["exec.self_s"]),
        "pass.self_s": med(lambda p: p["self"]["pass.self_s"]),
    })
    return m


def per_layer_stream(res, drains, med):
    batches = res["batches"]

    def in_drains(k):
        return [b[k] for d in drains
                for b in batches[d["first_batch"]:d["first_batch"] + d["batches"]]]

    offsets = [a + b for a, b in zip(in_drains("latest_offset_s"), in_drains("get_batch_s"))]
    wal = [a + b for a, b in zip(in_drains("wal_commit_s"), in_drains("commit_offsets_s"))]
    return {
        "build.wall_s": 0.0, "build.self_s": 0.0, "build.jobs": 0.0, "build.graph_share": 0.0,
        "exec.wall_s": med(lambda p: p["wall_s"]), "exec.self_s": 0.0, "pass.self_s": 0.0,
        "stream.batches": med(lambda p: p["batches"]),
        "stream.batch_s": median(in_drains("trigger_s")),
        "stream.offsets_s": median(offsets),
        "stream.planning_s": median(in_drains("planning_s")),
        "stream.add_batch_s": median(in_drains("add_batch_s")),
        "stream.wal_commit_s": median(wal),
        "stream.state_rows": max(b["state_rows"] for b in batches),
        "stream.state_mem_bytes": max(b["state_mem_bytes"] for b in batches),
        "stream.late_rows_dropped": res["late_rows_dropped"],
        "stream.backlog_end": res["open"]["backlog_at_due"][-1],
        "stream.trigger_wait_s": median(res["open"]["waits_s"]),
        "gen.lag_max_s": res["open"]["lag_max_s"],
    }


# --------------------------------------------------------------- checks
def check_batch(work, data, out, names):
    """Oracle SQL in DuckDB over the same tables, compared the way
    tools/compare.py compares: columns by name, rows as a multiset of
    canonical values. Returns the names that do not match."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare import canon, norm
    con = duckdb.connect()
    for p in glob.glob(f"{data}/*.parquet"):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{work}/oracle_sql.json"))
    bad = []
    for n in names:
        files = glob.glob(f"{out}/{n}/*.parquet")
        try:
            got = norm(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
            exp = norm(con.execute(oracles[n]).df())
            ok = (list(got.columns) == list(exp.columns) and len(got) == len(exp) and
                  sorted(repr(tuple(canon(x) for x in r)) for r in got.itertuples(index=False)) ==
                  sorted(repr(tuple(canon(x) for x in r)) for r in exp.itertuples(index=False)))
        except Exception as e:  # missing output or oracle error
            print(f"flowbench: {n}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(n)
    return bad


def check_stream(watch, out, fed):
    """The sink's final state must equal the batch aggregation over the
    same in-order events. Returns (groups expected, groups wrong)."""
    import duckdb
    con = duckdb.connect()
    files = [p for p in glob.glob(f"{watch}/*/*.parquet") if os.path.basename(p) in fed]
    exp = con.execute(f"""
        SELECT strftime(make_timestamp(CAST(epoch_us(ts) // 60000000 * 60000000 AS BIGINT)),
                        '%Y-%m-%d_%H-%M-%S') AS window_start,
               event_type, count(*) AS cnt, sum(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM read_parquet({files!r}) GROUP BY ALL""").fetchall()
    got = con.execute(f"""
        SELECT window_start, event_type, cnt, cents
        FROM read_parquet('{out}/window_start=*/*.parquet', hive_partitioning = true,
                          hive_types_autocast = false)""").fetchall()
    e, g = {tuple(r) for r in exp}, {tuple(r) for r in got}
    return len(e), len(e ^ g) + abs(len(got) - len(g))


# ----------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    spec = WORKLOADS[a.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    bounds = {m["name"]: m["bound"] for m in declared["end_to_end"]}
    launch = build()
    deadline = time.time() + 170 - min(time.time() - started, 5)

    import gen
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = f"{work}/data", f"{work}/out"
    os.makedirs(out)
    n = cpus()
    phases = {"build_s": time.time() - started}
    t = time.time()
    if spec["kind"] == "batch":
        gen.tables(data, a.seed, spec["sf"], spec["docs_sf"])
        warmup, warm = batch_passes(spec, a)
        args = ["--mode", "batch", "--pipelines", ",".join(spec["pipelines"]),
                "--warmup", str(warmup), "--warm", str(warm)]
    else:
        n = max(1, n - 1)  # one core for the generator thread
        n_open = int(spec["rate"] * a.seconds)
        n_files = spec["backlog"] * (1 + spec["warmup"] + spec["warm"]) + n_open
        names = gen.stream_files(data, a.seed, n_files, spec["rows_per_file"],
                                 spec["file_span_s"], spec["late_rows"],
                                 2 * spec["backlog"] * spec["file_span_s"])
        args = ["--mode", "stream"] + [x for k in ("rows_per_file", "backlog", "max_files",
                                                   "warmup", "warm", "rate", "late_rows")
                                       for x in (f"--{k}", str(spec[k]))] + [
            "--open_files", str(n_open)]
    common = ["--cpus", str(n), "--work", work, "--data", data, "--out", out,
              "--trace", str(a.trace)]

    phases["gen_s"] = time.time() - t
    total0, steal0 = cpu_times()
    t = time.time()
    setups = []
    for i in range(SETUP_SAMPLES - 1):
        jvm(launch, ["--mode", "setup", "--result", f"{work}/setup{i}.json"] + common,
            work, deadline)
        setups.append(json.load(open(f"{work}/setup{i}.json"))["setup_s"])
    jvm(launch, args + common + ["--result", f"{work}/result.json"], work, deadline)
    res = json.load(open(f"{work}/result.json"))
    total1, steal1 = cpu_times()
    phases["jvm_s"] = time.time() - t
    t = time.time()
    setups.append(res["setup_s"])

    passes = res["passes"]
    warm = [p["wall_s"] for p in passes if p["kind"] == "warm" and not p["traced"]]
    traced = [p["wall_s"] for p in passes if p["kind"] == "warm" and p["traced"]]
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": res["cpus"],
              "nproc": len(os.sched_getaffinity(0)), "load_start": res["load_start"],
              "load_end": res["load_end"],
              "steal_share": (steal1 - steal0) / max(1, total1 - total0),
              "setup_samples": setups, "peak_rss_mb": res["peak_rss_mb"],
              "live_samples_mb": [[round(x, 1) for x in s] for s in res["live_samples_mb"]],
              "walls_s": [(p["kind"], p["wall_s"]) for p in passes]}
    flags = []
    if steadiness.trending(warm, bounds["warm_wall_s"]):
        flags.append("warm passes trend")

    if spec["kind"] == "batch":
        errors = [(p["pass"], x["name"]) for p in passes for x in p["pipelines"] if x["error"]]
        bad = check_batch(work, data, out, spec["pipelines"])
        attempted = sum(len(p["pipelines"]) for p in passes)
        failed = len(errors) + len(bad)
        # latency of a pipeline: its median over the warm passes; the
        # workload's p50 is the median of these, its p90 the slowest
        lat = {n: median([x["build_s"] + x["exec_s"] for p in passes
                          if p["kind"] == "warm" and not p["traced"]
                          for x in p["pipelines"] if x["name"] == n])
               for n in spec["pipelines"]}
        lat50, lat90 = median(lat.values()), max(lat.values())
        detail.update({"pipelines_failed": errors, "outputs_wrong": bad, "pipeline_latency_s": lat,
                       "latency_samples": f"{len(warm)} warm passes x {len(lat)} pipelines"})
    else:
        fed = names[:spec["backlog"] * len(passes) + n_open]
        groups, wrong = check_stream(f"{work}/watch", out, set(fed))
        late_ok = res["late_rows_dropped"] == res["late_rows"]
        attempted, failed = groups + 1, wrong + (0 if late_ok else 1)
        lat = res["open"]["latencies_s"]
        lat50, lat90 = pct(lat, 50), pct(lat, 90)
        backlog = res["open"]["backlog_at_due"]
        if steadiness.backlog_grew(backlog):
            flags.append("open-loop backlog grew")
        detail.update({"groups": groups, "groups_wrong": wrong,
                       "late_rows": res["late_rows"], "late_rows_dropped": res["late_rows_dropped"],
                       "latency_samples": len(lat), "backlog_end": backlog[-1],
                       "gen_lag_max_s": res["open"]["lag_max_s"],
                       "trigger_wait_p50_s": pct(res["open"]["waits_s"], 50),
                       "trigger_wait_share_p50": pct(res["open"]["waits_s"], 50) / lat50})
    detail["flags"] = flags
    phases["check_s"] = time.time() - t
    detail["phases"] = phases

    if a.trace == 0:
        metrics = {
            "setup_s": (median(setups), "s"),
            "cold_wall_s": (passes[0]["wall_s"], "s"),
            "warm_wall_s": (median(warm), "s"),
            "latency_p50_s": (lat50, "s"),
            "latency_p90_s": (lat90, "s"),
            "peak_live_mb": (res["peak_live_mb"], "MB"),
        }
    else:
        layer = per_layer(res, spec)
        layer["session.build_s"] = res["session_build_s"]
        layer["trace.overhead_ratio"] = median(traced) / median(warm)
        metrics = {m["name"]: (layer[m["name"]], m["unit"]) for m in declared["per_layer"]}
    os.makedirs(f"{BUILD}/runs", exist_ok=True)
    with open(f"{BUILD}/runs/{a.workload}-{a.seed}-{a.trace}.json", "w") as f:
        json.dump({"detail": detail, "result": res}, f)
    if a.trace:
        shutil.copy(f"{work}/spans.jsonl", f"{BUILD}/runs/{a.workload}-{a.seed}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
