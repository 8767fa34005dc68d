#!/usr/bin/env python3
"""Layered workload benchmark for the graft Spark engine.

One run = one fresh JVM, one client, closed loop: set up a warmed session,
run the workload's queries once cold (empty fixture cache), then a fixed
number of warm passes (--seconds divided by the workload's nominal warm
pass time), check every output fingerprint, and print one JSON result as
the last line of stdout. It exits non-zero if any output is wrong.

Usage:
  python3 perfbench/run.py --workload NAME [--seed N] [--seconds S]
                           [--trace 0|1]

--trace 0 reports the end-to-end metrics (setup_s, cold_pass_s,
warm_pass_s); --trace 1 reports the per-layer metrics of a traced run.
The first run in a checkout builds the program (sbt) and the harness
(javac) into .bench_build/. Each run gets its own temp root under
.bench_run/ (java.io.tmpdir and SPARK_LOCAL_DIRS point there) that is
deleted when the run ends; the run's full record is kept in
.bench_run/records/. Tables are read from SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_DIR = os.path.join(ROOT, ".bench_run")
EXPECTED = os.path.join(HERE, "expected.json")

# name -> (nominal warm-pass seconds on a 4-core host, queries). A run
# makes one cold pass and then max(1, seconds // nominal) warm passes, so
# every run of a workload measures the same work on every commit.
# BENCHMARK.json lists driver_bound and compute_bound; reference_pipeline
# (about 80 s a run) is for runs by hand.
WORKLOADS = {
    "driver_bound": (7.0, ["s24_nsw_beam", "s27_hnsw_descent",
                           "k2_tfrecord_roundtrip"]),
    "compute_bound": (12.0, ["t26_bm25_topk", "s18_hybrid_rrf"]),
    "reference_pipeline": (25.0, [
        "q01_pricing_summary", "q02_scan_prune", "q03_class_dictionary",
        "q04_shuffle_split", "q05_epoch_batch", "q06_class_histogram",
        "q07_accuracy", "q08_epoch_metrics", "q09_shard_assign",
        "q10_step_counts", "p1_training_data_pipeline", "k1_image_pipeline",
        "k2_tfrecord_roundtrip", "k8_tfrecord_gzip", "k11_tfrecord_zstd",
    ]),
}
# the image pipeline's oracle is rows-only by design, so its output is
# checked by row count alone
ROWS_ONLY = {"k1_image_pipeline"}
DEFAULT_SEED = 20210620
MAX_CORES = 4
XMX = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.join(os.path.expanduser("~"),
                                       "testdata", "sf0.1"))


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout, or when this process
    is told to stop, kill the whole group (sbt forks a JVM) and wait for
    it. Returns the exit code."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Content hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "Harness.java")]
    for base in ("project", "src/main"):
        for d, dirs, names in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt",
                                     ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile the program with sbt and the harness with javac, once per
    source content. Returns (classpath, jvm options from build.sbt)."""
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} in {ROOT}: run from a checkout of the program")
    stamp = source_stamp()
    meta_path = os.path.join(BUILD_DIR, "build.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("stamp") == stamp:
            return meta["classpath"], meta["java_options"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        code = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "-Dsbt.supershell=false", "export Runtime/fullClasspath",
             "show javaOptions"],
            BUILD_TIMEOUT_S, cwd=ROOT, env=sbt_env(), stdout=log,
            stderr=subprocess.STDOUT)
    with open(log_path) as log:
        lines = [ln.strip() for ln in log]
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    item = "[info] * "
    java_options = [ln[len(item):] for ln in lines if ln.startswith(item)]
    if code != 0 or not cp or not java_options:
        die(f"sbt build failed (exit {code}); see {log_path}")
    classpath = cp[-1]
    harness_dir = os.path.join(BUILD_DIR, "harness")
    shutil.rmtree(harness_dir, ignore_errors=True)
    with open(log_path, "a") as log:
        code = run_bounded(["javac", "-nowarn", "-cp", classpath, "-d",
                            harness_dir, os.path.join(HERE, "Harness.java")],
                           BUILD_TIMEOUT_S, stdout=log,
                           stderr=subprocess.STDOUT)
    if code != 0:
        die(f"javac failed; see {log_path}")
    classpath = harness_dir + os.pathsep + classpath
    with open(meta_path, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath,
                   "java_options": java_options}, fh)
    return classpath, java_options


# ------------------------------------------------------------------ run

def cores_to_use():
    """local[4], capped at nproc so a run never uses more cores than the
    host has."""
    nproc = len(os.sched_getaffinity(0))
    return nproc, min(MAX_CORES, nproc)


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classpath, java_options, queries, cores, seed, warm, trace):
    """One fresh JVM in its own temp root; returns its record."""
    tmp = os.path.join(RUN_DIR, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark-local"))
    out = os.path.join(tmp, "record.json")
    # a fixed heap (-Xms = -Xmx) keeps G1's early resizing out of the
    # timings: it halved the warm-pass spread between runs
    cmd = (["java"]
           + [o for o in java_options if not o.startswith("-Xm")]
           + [f"-Xmx{XMX}", f"-Xms{XMX}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "Harness",
              sf_dir(), str(cores), str(seed), str(warm), str(trace), out,
              ",".join(queries)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    log_path = os.path.join(RUN_DIR, f"jvm-{os.getpid()}.log")
    try:
        with open(log_path, "w") as log:
            spawn_ms = time.time() * 1000
            code = run_bounded(cmd, JVM_TIMEOUT_S, cwd=tmp, env=env,
                               stdout=log, stderr=subprocess.STDOUT)
        if code != 0 or not os.path.exists(out):
            die(f"JVM exited with {code}; see {log_path}")
        with open(out) as fh:
            rec = json.load(fh)
        rec["spawn_ms"] = spawn_ms
        os.remove(log_path)
        return rec
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------------------ evaluate

def check_outputs(rec, expected):
    """Mark every query execution ok or failed against the committed
    fingerprints; returns (attempted, failed)."""
    attempted = failed = 0
    for q in rec["queries"]:
        attempted += 1
        exp = expected.get(q["query"])
        if q["error"] is not None:
            q["ok"] = False
        elif exp is None:
            q["ok"] = False
            q["error"] = "no expected fingerprint"
        else:
            q["ok"] = (q["rows"] == exp["rows"] and
                       (q["query"] in ROWS_ONLY or q["hash"] == exp["hash"]))
            if not q["ok"]:
                q["error"] = (f"fingerprint {q['rows']}/{q['hash']} != "
                              f"expected {exp['rows']}/{exp['hash']}")
        failed += not q["ok"]
    return attempted, failed


def union_s(intervals, lo, hi):
    """Length in seconds of the union of [a, b] ms intervals clipped to
    [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total / 1000.0


def layer_metrics(rec):
    """Per-query layer figures from a traced record, attached to each
    traced query execution under "layers"."""
    spans = {s["id"]: s for s in rec["spans"]}
    children = {}
    for s in rec["spans"]:
        children.setdefault(s["parent"], []).append(s)
    for s in rec["spans"]:
        s["self_s"] = s["dur_s"] - sum(c["dur_s"]
                                       for c in children.get(s["id"], []))
    by_span = {}
    for kind in ("jobs", "stages"):
        for e in rec[kind]:
            if e["span"]:
                by_span.setdefault((kind, int(e["span"])), []).append(e)
    for q in rec["queries"]:
        if not q["traced"]:
            continue
        qs = spans[q["span"]]
        phases = {c["name"]: c["id"] for c in children.get(qs["id"], [])}
        jobs, stages = [], []
        for sid in phases.values():
            jobs += by_span.get(("jobs", sid), [])
            stages += by_span.get(("stages", sid), [])
        build = by_span.get(("stages", phases["build"]), [])
        iv = lambda ss: [(s["submit_ms"], s["complete_ms"]) for s in ss
                         if s["submit_ms"] >= 0 and s["complete_ms"] >= 0]
        lo, hi = qs["start_ms"], qs["end_ms"]
        busy = union_s(iv(stages), lo, hi)
        mb = lambda k: sum(s[k] for s in stages) / 1048576.0
        q["layers"] = {
            "SparkEntry.build_s": q.get("build_s", 0.0),
            "SparkEntry.build_jobs": len(
                by_span.get(("jobs", phases["build"]), [])),
            "SparkEntry.build_busy_s": union_s(iv(build), lo, hi),
            "fixtures.builds": q["fixture_builds"],
            "InternalCaches.tracked": q["released_rdds"],
            "InternalCaches.persisted_rdds": q["persisted_rdds"],
            "InternalCaches.storage_peak_mb": q["storage_peak_mb"],
            "InternalCaches.release_s": q["release_s"],
            "planner.plan_s": q.get("plan_s", 0.0),
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": sum(s["tasks"] for s in stages),
            "scheduler.stage_busy_s": busy,
            "scheduler.idle_s": max(0.0, q["total_s"] - busy),
            "scheduler.tasks_failed": sum(s["tasks_failed"] for s in stages),
            "operators.task_run_s": sum(s["run_ms"] for s in stages) / 1e3,
            "operators.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "operators.task_gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "exchange.shuffle_read_mb": mb("shuffle_read_b"),
            "exchange.shuffle_write_mb": mb("shuffle_write_b"),
            "exchange.spill_mb": mb("spill_b"),
            "sources.input_mb": mb("input_b"),
            "sources.output_mb": q["file_bytes_written"] / 1048576.0,
            "sources.output_files": q["files_written"],
            "pass.wall_s": q["total_s"],
        }


def pass_layers(rec, pass_no, cores):
    """Sum one pass's per-query layers; peak storage is a maximum."""
    tot = {}
    for q in rec["queries"]:
        if q["pass"] != pass_no or "layers" not in q:
            continue
        for k, v in q["layers"].items():
            tot[k] = (max(tot.get(k, 0), v) if k.endswith("peak_mb")
                      else tot.get(k, 0) + v)
    busy = tot.get("scheduler.stage_busy_s", 0)
    tot["operators.cpu_util"] = (tot.get("operators.task_cpu_s", 0)
                                 / (busy * cores) if busy else 0.0)
    return tot


def summarize(rec, cores, trace):
    passes = rec["passes"]
    setup_s = (rec["ready_ms"] - rec["spawn_ms"]) / 1000.0
    cold = passes[0]["wall_s"]
    warm = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    if not trace:
        return {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold, "s"),
            "warm_pass_s": (statistics.median(warm), "s"),
        }
    layer_metrics(rec)
    units = {"_s": "s", "_mb": "MB", "_util": "ratio"}
    cold_l = pass_layers(rec, 0, cores)
    warm_ls = [pass_layers(rec, p["pass"], cores) for p in passes[1:]
               if p["traced"]]
    out = {"GraftSession.session_s": (setup_s, "s")}
    for prefix, vals in (("", {k: statistics.median(w[k] for w in warm_ls)
                               for k in warm_ls[0]}),
                         ("cold.", cold_l)):
        for k, v in sorted(vals.items()):
            unit = next((u for sfx, u in units.items() if k.endswith(sfx)),
                        "count")
            out[prefix + k] = (v, unit)
    traced_warm = [p["wall_s"] for p in passes[1:] if p["traced"]]
    out["trace.overhead_s"] = (statistics.median(traced_warm)
                               - statistics.median(warm), "s")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(sf_dir()):
        die(f"no table directory {sf_dir()} (set SPARK_GRAFT_SF_DIR)")
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    nproc, cores = cores_to_use()
    classpath, java_options = build()
    nominal, queries = WORKLOADS[args.workload]
    warm = max(1, int(args.seconds // nominal))
    load_start = os.getloadavg()
    rec = run_jvm(classpath, java_options, queries, cores, args.seed, warm,
                  args.trace)
    attempted, failed = check_outputs(rec, expected)
    metrics = summarize(rec, cores, args.trace)
    rec["header"] = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
        "cores": cores, "xmx": XMX, "spark": rec["spark_version"],
        "jdk": rec["jdk"], "commit": git_commit(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "sf_dir": sf_dir(), "warm_passes": len(rec["passes"]) - 1,
    }
    rec["failed_frac"] = failed / attempted
    rec["metrics"] = {k: v for k, (v, _) in metrics.items()}
    os.makedirs(os.path.join(RUN_DIR, "records"), exist_ok=True)
    rec_path = os.path.join(
        RUN_DIR, "records",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(rec, fh, indent=1)

    print("header " + json.dumps(rec["header"]))
    for q in rec["queries"]:
        if not q["ok"]:
            print(f"FAILED {q['query']} pass {q['pass']}: {q['error']}")
    for k, (v, unit) in metrics.items():
        print(f"{args.workload} {k} {v:.6g} {unit}")
    print(f"{args.workload} failed_frac {failed / attempted:.6g} ratio "
          f"({failed}/{attempted})")
    print(f"record {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
