#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, two workloads.

    python3 perfbench/run.py --workload point --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the engine and the benchmark's
JVM harness from source (into $CARGO_TARGET_DIR, default .bench_build),
computes the expected result of every query once per data directory
through DuckDB, then runs the workload in a JVM whose /tmp is a private
directory of the run. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md for why each workload exists.

Environment: SPARK_HOME (Spark install whose jars/ compile and run the
engine), PERFBENCH_DATA_ROOT (holds the sf* data directories, default
~/testdata), PERFBENCH_SF (use this sf directory for every workload,
as the self-test does with sf0.001).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

# name -> (data directory, nominal seconds per pass on a 4-core host,
#          untimed warm-up passes after the first calls, queries)
WORKLOADS = {
    # potpot's own surface: get(id), range scan, insert(row). Fixed
    # per-query overhead (construct, planning, 3-4 jobs) dominates.
    # Its latencies keep falling for the first ~40 operations while the JIT
    # settles, hence the warm-up passes.
    "point": ("sf0.1", 1.1, 10, [
        "q_point_get", "q_point_get_indexed", "q_key_range", "q_insert_append"]),
    # scan, join, aggregate, window and kernel-heavy queries, where
    # execution dominates each call, plus the checkpoint loop of PageRank,
    # one streaming aggregation and one file append, so the block store,
    # streaming and output layers are exercised too.
    "analytics": ("sf0.01", 8.0, 1, [
        "q1_pricing_summary", "q_join_sortmerge", "q_window_range", "q_rollup",
        "q_dedup_minhash", "q_sim_topk", "q_graph_pagerank", "q_stream_tumbling",
        "q_append_sink"]),
}

END_TO_END_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
                    "throughput_ops_s": "1/s", "cpu_ms_per_op": "ms",
                    "scratch_mb": "MB"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_OPTS = ["-Xss8m", "-Xmx4g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
START = time.time()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala; run from the repository root")
    return engine + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def build(jars):
    """Compile engine + harness once per source tree; returns the classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = os.path.join(root, f"classes-{key}")
    if not os.path.isdir(classes):
        log(f"compiling {len(srcs)} sources into {classes}")
        tmp = classes + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-classpath", cp, "-d", tmp] + srcs)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit("perfbench: compilation failed")
        os.replace(tmp, classes)
    return root, key, classes + os.pathsep + os.path.join(jars, "*")


def java(cp, args, **kw):
    return subprocess.run(["java"] + JVM_OPTS + ["-cp", cp, "perfbench.Harness"] + args, **kw)


def expected(root, key, cp, workload, data, names):
    """Fingerprint of each query's DuckDB oracle output, cached per
    source tree and data directory."""
    tag = hashlib.sha256(os.path.abspath(data).encode()).hexdigest()[:12]
    path = os.path.join(root, f"expected-{key}-{workload}-{tag}.json")
    if os.path.exists(path):
        return path
    work = path + f".d{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    logf = open(os.path.join(work, "jvm.log"), "w")
    try:
        oracle_json = os.path.join(work, "oracle.json")
        if java(cp, ["oracle", ",".join(names), oracle_json], stdout=logf, stderr=logf).returncode:
            sys.exit("perfbench: oracle dump failed")
        oracle = json.load(open(oracle_json))
        missing = [n for n in names if n not in oracle]
        if missing:
            sys.exit(f"perfbench: no oracle SQL for {missing}")
        con = duckdb.connect()
        con.sql("SET threads=4")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for n in names:
            con.sql(f"COPY ({oracle[n]}) TO '{work}/{n}.parquet' (FORMAT parquet)")
        con.close()
        out = os.path.join(work, "expected.json")
        if java(cp, ["expect", work, ",".join(names), out], stdout=logf, stderr=logf).returncode:
            sys.exit("perfbench: fingerprinting the oracle outputs failed")
        os.replace(out, path)
    finally:
        logf.close()
        shutil.rmtree(work, ignore_errors=True)
    return path


def du_mb(dirs):
    total = 0
    for p in dirs:
        for d, _, files in os.walk(p):
            for f in files:
                fp = os.path.join(d, f)
                if not os.path.islink(fp):
                    total += os.path.getsize(fp)
    return total / 1e6


def graft_entries(root):
    """The engine's scratch directories under `root`."""
    return {p for p in glob.glob(os.path.join(root, "graft_*")) if os.path.isdir(p)}


def private_tmp_works(tmp):
    """True when a mount namespace can give the JVM its own /tmp."""
    if not shutil.which("unshare"):
        return False
    r = subprocess.run(["unshare", "-m", "sh", "-c", f"mount --bind '{tmp}' /tmp"],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return r.returncode == 0


def run_jvm(cmd, logpath, limit):
    """Runs the JVM in its own process group; on timeout or when this
    process is terminated, kills the group and waits for it."""
    def stop(signum, frame):
        raise KeyboardInterrupt
    signal.signal(signal.SIGTERM, stop)
    with open(logpath, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(limit, 1))
        except (subprocess.TimeoutExpired, KeyboardInterrupt):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jars = spark_jars()
    sf, pass_s, warm_passes, names = WORKLOADS[a.workload]
    sf = os.environ.get("PERFBENCH_SF", sf)
    # A fixed number of whole passes: about --seconds of work on a 4-core
    # host, the same sample count on every run. A traced run needs an even
    # number (untraced and traced passes alternate).
    passes = max(1, round(a.seconds / pass_s))
    if a.trace:
        passes = max(2, passes + passes % 2)
    data = os.path.join(os.environ.get("PERFBENCH_DATA_ROOT", os.path.expanduser("~/testdata")), sf)
    if not os.path.exists(os.path.join(data, "lineitem.parquet")):
        sys.exit(f"perfbench: no data in {data}")
    root, key, cp = build(jars)
    first_run = not glob.glob(os.path.join(root, f"expected-{key}-*.json"))
    exp = expected(root, key, cp, a.workload, data, names)

    run_dir = os.path.abspath(os.path.join(".perfbench_run", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, shm_report = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "shm_kb")
    os.makedirs(tmp)
    out, trace_out = os.path.join(run_dir, "out.json"), os.path.join(run_dir, "trace.json")
    harness = ["java"] + JVM_OPTS + ["-cp", cp, "perfbench.Harness", "run",
               f"queries={','.join(names)}", f"data={data}", f"seed={a.seed}",
               f"passes={passes}", f"warmPasses={warm_passes}", f"trace={a.trace}", f"work={run_dir}",
               f"expected={exp}", f"out={out}",
               f"traceOut={trace_out}"]
    private = private_tmp_works(tmp)
    if private:
        # /tmp becomes the run's own directory and /dev/shm a fresh tmpfs,
        # so the engine's fixed scratch paths neither see earlier runs nor
        # outlive this one; what is left in /dev/shm is reported first.
        cmd = ["unshare", "-m", "sh", "-c",
               'mount --bind "$0" /tmp && mount -t tmpfs -o size=2g tmpfs /dev/shm || exit 97; '
               'rep="$1"; shift; "$@"; rc=$?; du -sk /dev/shm | cut -f1 > "$rep"; exit $rc',
               tmp, shm_report] + harness
        tmp_root, shm_root = tmp, None
        before = set()
    else:
        log("no private mount namespace; measuring new /tmp/graft_* entries instead")
        cmd = harness
        tmp_root, shm_root = "/tmp", "/dev/shm"
        before = graft_entries(tmp_root) | graft_entries(shm_root)

    limit = (FIRST_RUN_LIMIT_S if first_run else RUN_LIMIT_S) - (time.time() - START)
    rc = run_jvm(cmd, os.path.join(run_dir, "jvm.log"), limit)
    try:
        if rc != 0 or not os.path.exists(out):
            log(f"JVM exited with {rc}; log tail:")
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.exit(1)
        res = json.load(open(out))
        new = sorted((graft_entries(tmp_root) | (graft_entries(shm_root) if shm_root else set())) - before)
        scratch = du_mb([os.path.join(run_dir, "warehouse")] + new)
        if private and os.path.exists(shm_report):
            scratch += int(open(shm_report).read().strip() or 0) / 1e3
        for p in new:
            shutil.rmtree(p, ignore_errors=True)
        os.makedirs(".perfbench_out", exist_ok=True)
        kept = [(os.path.join(run_dir, "ops.log"), f"ops-{a.workload}-{a.seed}.log")]
        if a.trace:
            kept.append((trace_out, f"trace-{a.workload}-{a.seed}.json"))
        for src, name in kept:
            if os.path.exists(src):
                os.replace(src, os.path.join(".perfbench_out", name))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in res["failures"]:
        print(f"[perfbench] failed: {f}")
    n = res["ops"]
    print(f"[perfbench] workload={a.workload} data={sf} seed={a.seed} passes={res['passes']} "
          f"ops={n} failed_frac={res['failed'] / res['attempted']} "
          f"latency_tail=p{res['latency_tail_pct']:.1f} of {n} samples "
          f"setup_parts_ms={res['setup_parts_ms']} canary_start_s={res['canary_start_s']:.3f} "
          f"canary_end_s={res['canary_end_s']:.3f}")
    print(f"[perfbench] per-query p50 ms: {json.dumps(res['per_query_p50_ms'])}")
    res["scratch_mb"] = scratch
    metrics = res["layers"] if a.trace else {
        k: {"value": res[k], "unit": unit} for k, unit in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
