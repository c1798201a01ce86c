#!/usr/bin/env python3
"""graft benchmark: closed-loop, fixed-work runs of the streaming Calvin
engine and the sf0.1 analytics path.

    python3 calvinbench/run.py --workload <txn_stream|txn_skew|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark runner with sbt (offline); later runs reuse the build while the sources
are unchanged. Every run checks its outputs. The last stdout line is one
JSON object: correct, attempted, failed and metrics (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1). See
README.md for what each workload and metric means.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("txn_stream", "txn_skew", "analytics")
BUILD = os.path.join(ROOT, ".bench_build")
# graft's sf0.1 test tables that the analytics queries read, copied byte for
# byte; SHA256SUMS lists their hashes
DATA = os.path.join(HERE, "data", "sf0.1")
# local[N] leaves one CPU to the JVM's own threads (JIT, GC, the driver);
# in pilots this gave a lower run-to-run spread than N = all CPUs
CORES = max(1, min(4, len(os.sched_getaffinity(0))) - 1)
# a fixed heap (-Xms = -Xmx): a growing one made peak_rss_mb follow G1's
# timing-dependent heap sizing (README.md, "Limits")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 165
# the measured phase stops at this budget, so checks and shutdown fit
MEASURE_BUDGET_S = 100


def die(msg):
    print(f"calvinbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def build_inputs():
    """Files the build depends on: the program's sources and build, and
    the runner's."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def build():
    """Build with sbt unless the last build saw the same sources; return
    (classpath, JVM options) of the runner."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    digest = hashlib.sha256()
    for path in build_inputs():
        digest.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    fresh = (os.path.exists(stamp) and os.path.exists(launch)
             and open(stamp).read() == digest.hexdigest())
    if not fresh:
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if rc != 0 or not os.path.exists(launch):
            die(f"build failed, see {os.path.join(BUILD, 'build.log')}")
        with open(stamp, "w") as f:
            f.write(digest.hexdigest())
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


# ---------------------------------------------------------------- run

def analytics_data():
    """Check the sf0.1 tables against SHA256SUMS; return the sha256 of
    that list, which names every input file by its hash."""
    sums = os.path.join(DATA, "SHA256SUMS")
    if not os.path.exists(sums):
        die(f"{sums} not found")
    with open(sums, "rb") as f:
        listing = f.read()
    for line in listing.decode().splitlines():
        want, name = line.split()
        with open(os.path.join(DATA, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                die(f"{name} does not match SHA256SUMS")
    return hashlib.sha256(listing).hexdigest()


def run_jvm(classpath, jvm_opts, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "raw.json")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS",
                                "GRAFT_BUCKETED_CACHE", "_JAVA_OPTIONS",
                                "JAVA_TOOL_OPTIONS"))}
    cmd = (["java"] + jvm_opts +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "calvinbench.Main"] + args +
           ["--cores", str(CORES), "--work", work, "--out", out,
            "--budget-s", str(MEASURE_BUDGET_S)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"runner timed out, see {log.name}")
    if rc != 0 or not os.path.exists(out):
        die(f"runner exited with {rc}, see {log.name}")
    with open(out) as f:
        return json.load(f)


def files_sha256(src_dir):
    digest = hashlib.sha256()
    for name in sorted(os.listdir(src_dir)):
        if name.endswith(".json"):
            with open(os.path.join(src_dir, name), "rb") as f:
                digest.update(name.encode() + b"\0" + f.read())
    return digest.hexdigest()


# ---------------------------------------------------------------- checks

def verify_module():
    """The row-multiset compare of scripts/verify_local.py."""
    path = os.path.join(ROOT, "scripts", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(recs, oracles, data_dir):
    """Compare each query result with its DuckDB oracle; return the
    number of executions that failed or mismatched."""
    import duckdb
    verify = verify_module()
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, name)}')")

    def rows(sql):
        got = con.execute(sql).fetchall()
        cols = [d[0] for d in con.description]
        order = [cols.index(c) for c in sorted(cols)]
        return sorted(cols), verify.norm_rows([[r[i] for i in order] for r in got])

    expected, failed = {}, 0
    for rec in recs:
        if "error" in rec:
            print(f"FAIL {rec['name']} pass {rec['pass']}: {rec['error']}")
            failed += 1
            continue
        if rec["name"] not in expected:
            expected[rec["name"]] = rows(oracles[rec["name"]])
        got = rows(f"SELECT * FROM read_parquet('{rec['output']}/*.parquet')")
        if got != expected[rec["name"]]:
            print(f"FAIL {rec['name']} pass {rec['pass']}: result differs "
                  f"from the DuckDB oracle")
            failed += 1
    return failed


# ---------------------------------------------------------------- metrics

def latency_metrics(samples, units_done, wall_s):
    value, pct, n = stats.tail(samples)
    return {"throughput_per_s": units_done / wall_s,
            "latency_p50_s": stats.median(samples),
            "latency_tail_s": value}, pct, n


def txn_phase(phase, k=None):
    """Latencies, processBatch walls and the wall of the first k batches
    (all by default)."""
    b = phase["batches"][:k]
    lat = [(x["endMs"] - x["createMs"]) / 1000 for x in b]
    walls = [(x["endMs"] - x["startMs"]) / 1000 for x in b]
    wall = (b[-1]["endMs"] - b[0]["createMs"]) / 1000
    return lat, walls, wall


def txn_e2e(phase, k=None):
    lat, _, wall = txn_phase(phase, k)
    txns = sum(x["txns"] for x in phase["batches"][:k])
    return latency_metrics(lat, txns, wall)


def query_e2e(recs):
    ok = [r for r in recs if "error" not in r]
    lat = [(r["endMs"] - r["startMs"]) / 1000 for r in recs]
    wall = (recs[-1]["endMs"] - recs[0]["startMs"]) / 1000
    return latency_metrics(lat, len(ok), wall)


def per_group(listeners, prefix):
    """Stages and jobs of the job groups starting with prefix."""
    stages = [s for s in listeners["stages"] if s["group"].startswith(prefix)]
    jobs = [j for j in listeners["jobs"] if j["group"].startswith(prefix)]
    return stages, jobs


def task_skew(stages):
    """Per batch, max ÷ median task time in its worst stage; the median
    over batches."""
    worst = {}
    for s in stages:
        t = s["task_ms"]
        if len(t) >= 2:
            ratio = max(t) / max(stats.median(t), 1)
            worst[s["group"]] = max(worst.get(s["group"], 1.0), ratio)
    return stats.median(list(worst.values())) if worst else 1.0


def layer_metrics(workload, raw):
    """Per-layer metrics from the traced run; 0 where a layer does not run
    in this workload (README.md lists which)."""
    m = {}
    lst = raw["listeners"]
    m["jvm.gc_s"] = raw["gc_s"]
    m["jvm.session_setup_s"] = raw["session_setup_s"]
    m["jvm.warmup_s"] = raw["warmup_s"]
    spans = raw["spans"]
    for layer, s in stats.self_times(spans).items():
        m[f"trace.self_{layer}_s"] = s
    m["trace.spans"] = len(spans)
    if workload == "analytics":
        before, _, _ = query_e2e(raw["timed"])
        traced, _, _ = query_e2e(raw["traced"])
        after, _, _ = query_e2e(raw["after"])
        passes = raw["passes"]
        stages, _ = per_group(lst, "q")
        for q in raw["queries"]:
            m[f"operators.{q}_s"] = stats.median(
                [(r["endMs"] - r["startMs"]) / 1000
                 for r in raw["timed"] if r["name"] == q])
        m["operators.exec_cpu_s_per_pass"] = sum(s["cpu_ns"] for s in stages) / 1e9 / passes
        m["operators.shuffle_bytes_per_pass"] = sum(s["shuffle_write_bytes"] for s in stages) / passes
        m["operators.spill_bytes_per_pass"] = sum(s["disk_spill_bytes"] for s in stages) / passes
        m["sources.input_bytes_per_pass"] = sum(s["input_bytes"] for s in stages) / passes
        m["plans.planning_s_per_pass"] = lst["planning_ms"] / 1000 / passes
        m["plans.exchanges_per_pass"] = lst["exchanges"] / passes
    else:
        timed, tr = raw["timed"], raw["traced"]
        # the untraced loop after the traced one runs the first batches
        # only; the overhead compares all three phases over those
        k = len(raw["after"]["batches"])
        before, _, _ = txn_e2e(timed, k)
        traced, _, _ = txn_e2e(tr, k)
        after, _, _ = txn_e2e(raw["after"])
        _, walls, _ = txn_phase(timed)
        nb = len(tr["batches"])
        stages, jobs = per_group(lst, "batch-")
        m["txn.batch_wall_p50_s"] = stats.median(walls)
        m["txn.batch_wall_drift"] = stats.drift(walls)
        m["txn.state_plan_nodes"] = timed["state_plan_nodes"]
        m["txn.state_rows"] = timed["state_rows"]
        m["txn.commit_ratio"] = stats.commit_ratio(timed["committed"], timed["processed"])
        m["txn.jobs_per_batch"] = len(jobs) / nb
        m["txn.stages_per_batch"] = len(stages) / nb
        m["txn.tasks_per_batch"] = sum(len(s["task_ms"]) for s in stages) / nb
        m["txn.exec_cpu_s_per_ktxn"] = sum(s["cpu_ns"] for s in stages) / 1e9 / (tr["processed"] / 1000)
        m["txn.shuffle_bytes_per_txn"] = sum(s["shuffle_write_bytes"] for s in stages) / tr["processed"]
        m["txn.task_skew"] = task_skew(stages)
        m["txn.cached_blocks_mb"] = raw["cached_blocks_mb"]
        m["sources.txnlog_decode_s_per_ktxn"] = stats.median(raw["decode_s"]) / (tr["processed"] / 1000)
        prog = [p["durations"] for p in lst["progress"] if "addBatch" in p["durations"]]
        for name, f in (("trigger_overhead", lambda d: d["triggerExecution"] - d["addBatch"]),
                        ("query_planning", lambda d: d.get("queryPlanning", 0)),
                        ("wal_commit", lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
                        ("latest_offset", lambda d: d.get("latestOffset", 0))):
            m[f"streaming.{name}_p50_s"] = stats.median([f(d) for d in prog]) / 1000
        if "single_core" in raw:
            one = raw["single_core"]
            m["txn.tps_1core"] = txn_e2e(one)[0]["throughput_per_s"]
            m["txn.tps_1core_ratio"] = m["txn.tps_1core"] / txn_e2e(
                timed, len(one["batches"]))[0]["throughput_per_s"]
    # the traced phase runs between two untraced ones; their mean is the
    # untraced reference, so a steady warming trend over the run cancels
    for name in ("throughput_per_s", "latency_p50_s", "latency_tail_s"):
        m[f"trace.overhead_{name}"] = traced[name] - (before[name] + after[name]) / 2
    return m


def metric_names(kind):
    """(name, unit) of the "end_to_end" or "per_layer" metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(x["name"], x["unit"]) for x in json.load(f)[kind]]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classpath, jvm_opts = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.workload == "analytics":
        inputs_sha = analytics_data()
        args += ["--data", DATA]
    raw = run_jvm(classpath, jvm_opts, args, work)

    if a.workload == "analytics":
        recs = raw["warmup"]["queries"] + raw["timed"] + raw.get("traced", []) + raw.get("after", [])
        expected = len(raw["queries"]) * (1 + raw["passes"] * (1 + 2 * a.trace))
        attempted = max(expected, len(recs))
        failed = check_queries(recs, raw["oracles"], DATA) + attempted - len(recs)
        correct = failed == 0
        e2e, pct, n = query_e2e(raw["timed"])
    else:
        loops = [raw["warmup"], raw["timed"]] + [raw[k] for k in ("traced", "after", "single_core") if k in raw]
        attempted = sum(x["attempted"] for x in loops)
        failed = sum(x["failed"] for x in loops)
        correct = failed == 0 and all(x["state_ok"] and "failure" not in x for x in loops)
        for x in loops:
            if "failure" in x or not x["state_ok"] or x["failed"]:
                print(f"FAIL txn loop: failure={x.get('failure')} state_ok={x['state_ok']} "
                      f"failed_txns={x['failed']}")
        inputs_sha = files_sha256(raw["input_files"])
        e2e, pct, n = txn_e2e(raw["timed"])
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    e2e["setup_s"] = raw["setup_s"]

    if a.trace:
        layers = layer_metrics(a.workload, raw)
        layers["e2e.latency_tail_percentile"] = pct
        layers["e2e.latency_samples"] = n
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                   for name, unit in metric_names("per_layer")}
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump(raw["spans"], f)
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit in metric_names("end_to_end")}

    print(f"workload {a.workload}  seed {a.seed}  local[{CORES}]  "
          f"inputs sha256 {inputs_sha}")
    print(f"latency tail: p{pct:.1f} of {n} samples")
    if a.workload == "analytics":
        print("query s: " + " ".join(f"{r['name']}={(r['endMs'] - r['startMs']) / 1000:.3f}"
                                     for r in raw["timed"]))
    else:
        print("batch wall s: " + " ".join(f"{w:.3f}" for w in txn_phase(raw["timed"])[1]))
    for name, v in metrics.items():
        print(f"  {name:40s} {v['value']:.6g} {v['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
