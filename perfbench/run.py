#!/usr/bin/env python3
"""End-to-end benchmark of the ETL + dashboard engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  dashboard_session  two concurrent sessions of selection changes over the
                     cached clean table (filters, insights, every chart);
                     set-up runs the ETL from seeded workbooks
  curation_batch     x_dedup_minhash, x_bm25_topk and x_ann_ivf_topk built
                     afresh and fully collected over a seeded corpus

The first run builds the program from source with sbt (perfbench/build.sbt
depends on the repository's own build) and caches the build under
.bench_build/perfbench, keyed by a hash of the sources. Each run starts one
JVM for one workload, generates its inputs from the seed inside a temporary
directory under .bench_build/perfbench, measures, checks every answer and
removes the directory. curation_batch answers are also compared here with
DuckDB running the program's oracle SQL on the same tables.

With --trace 0 the last line reports the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics (spans and Spark listener counters from
the traced half of the run; see perfbench/src/main/scala/perfbench/Main.scala).
Earlier lines give the full report.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORKLOADS = ("dashboard_session", "curation_batch")
JVM_LIMIT_S = 150  # a run must end within 180 s once built
HEAP = "2g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            paths += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames.sort()
            paths += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(LAUNCH) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log_path = os.path.join(BUILD, "build.log")
        with open(log_path, "w") as log:
            rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                             cwd=HERE, env=env, stdout=log, timeout=800)
        if rc != 0 or not os.path.exists(LAUNCH):
            tail = open(log_path).read()[-3000:]
            fail(f"build failed (exit {rc}):\n{tail}", 3)
        with open(stamp_file, "w") as f:
            f.write(stamp)


def run_process(cmd, cwd, env, stdout, timeout):
    """Run in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        # interrupted (SIGINT/SIGTERM): take the child's group down with us
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def load_avg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def java_processes():
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


def hygiene():
    return {"load_avg": load_avg(), "java_processes": java_processes()}


def launch_spec():
    cp, opts = None, []
    for line in open(LAUNCH).read().splitlines():
        key, _, val = line.partition("=")
        if key == "cp":
            cp = val
        elif key == "opt":
            opts.append(val)
    # the benchmark sets its own heap; the GC flag and module opens come
    # from the program's build.sbt forked javaOptions
    opts = [o for o in opts if not o.startswith("-Xmx")]
    return cp, opts


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          na_position="first", kind="mergesort")


def frames_differ(spark_df, duck_df):
    import pandas as pd
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e)[:300]
    return None


def oracle_check(work):
    """Compare the curation answers the JVM pinned with DuckDB running the
    program's oracle SQL on the same generated tables. Returns (errors,
    self_test_caught)."""
    import duckdb
    import pandas as pd
    meta = json.load(open(os.path.join(work, "oracle", "oracle.json")))
    con = duckdb.connect()
    for name, path in meta["tables"].items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    errors, caught = [], True
    for q, e in sorted(meta["queries"].items()):
        spark_df = pd.read_parquet(e["result"])
        duck_df = con.sql(e["sql"]).df()
        err = frames_differ(spark_df, duck_df)
        if err:
            errors.append(f"{q}: {err}")
        elif len(spark_df):
            bad = spark_df.copy()
            col = bad.columns[-1]
            bad.loc[0, col] = bad.loc[0, col] + 1
            caught = caught and frames_differ(bad, duck_df) is not None
    return errors, caught


def metric_table(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[section]


def main():
    # SIGTERM unwinds like SIGINT, so children are killed and the run
    # directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to the benchmark (expected {ROOT}/build.sbt and src/)")
    start_hygiene = hygiene()
    build()
    cp, opts = launch_spec()

    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        out = os.path.join(work, "result.json")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = ["java", *opts, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
               "-cp", cp,
               "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--work", work, "--out", out]
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as log:
            rc = run_process(cmd, cwd=work, env=dict(os.environ), stdout=log,
                             timeout=JVM_LIMIT_S)
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM failed (exit {rc}):\n" + open(jvm_log).read()[-4000:], 4)
        res = json.load(open(out))

        info = res["info"]
        correct, failed = res["correct"], res["failed"]
        if a.workload == "curation_batch":
            errs, caught = oracle_check(work)
            info["oracle_errors"] = errs
            info["oracle_self_test_caught"] = caught
            if errs:
                failed = res["attempted"]
            correct = correct and not errs and caught
        info["hygiene"] = {
            "start": start_hygiene, "end": hygiene(),
            "gc_flag": [o for o in opts if o.startswith("-XX:+Use")],
            "driver_memory": HEAP, "jvm_options": " ".join(opts)}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if a.trace else "end_to_end"
    values = res[section]
    metrics = {}
    for m in metric_table(section):
        v = values.get(m["name"])
        metrics[m["name"]] = {"value": float(v) if v is not None else 0.0, "unit": m["unit"]}

    verdict = "PASS" if correct else "FAIL"
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: correctness {verdict}, "
          f"attempted={res['attempted']} failed={failed}")
    n = info["ops"]
    for name, m in metrics.items():
        extra = ""
        if name == "op_p50_s":
            extra = f" (n={n})"
        elif name == "setup_s":
            extra = (f" (session {info['session_start_s']:.2f} s + median of set-ups "
                     f"{[round(x, 2) for x in info['setup_reps_s']]})")
        elif name == "cold_start_s":
            extra = " (session + first set-up with its warm-up ops)"
        print(f"  {name:36s} {m['value']:.6g} {m['unit']}{extra}")
    if not a.trace:
        print(f"  {'op_tail_s':36s} {info['op_tail_s']:.6g} s "
              f"(p{info['op_tail_percentile']:.1f}, n={n})")
        print(f"  {'ops_per_s':36s} {info['ops_per_s']:.6g} 1/s (n={n}, clients / mean latency)")
    print(f"  {'failed_frac':36s} {failed / max(1, res['attempted']):.6g}")
    print("perfbench-detail " + json.dumps(res))
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
