#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload segment|dedup|store --seed N \
        --seconds S --trace 0|1

What one run does:
  1. builds the engine from this checkout's sources together with the
     harness in perfbench/src (sbt, offline; skipped when the sources have
     not changed since the last build);
  2. generates the workload's input tables from the seed (perfbench/gen.py,
     cached per seed and size; not timed);
  3. starts one driver JVM at local[4] with a fresh java.io.tmpdir,
     SPARK_LOCAL_DIRS and IterState scratch root inside the run's own
     directory, so no fixture from an earlier run can make the cold pass
     warm. The JVM sets the session up several times, then runs closed loop
     (one client, each step starts when the previous one returns) one cold
     pass, one unmeasured warm-up pass, and measured passes while the next
     one should end within S seconds (at least one);
  4. gates correctness, untimed: the SparkEntry queries the steps mirror
     are compared with their oracle SQL in DuckDB (tools/check_oracle.py),
     and workload checks (K-means MapReduce vs RDD parity, pass-to-pass
     result equality, verdict bits) run in the JVM;
  5. prints the input manifest and every metric with its unit; the last
     line of stdout is the JSON record.

With --trace 0 the record holds the end-to-end metrics; with --trace 1 it
holds the per-layer metrics of a traced run, whose spans are written to
perfbench/.results/. The run directory is deleted at the end.
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
BUILD_DIR = os.path.join(HERE, ".build")
DATA_DIR = os.path.join(HERE, ".data")
RESULTS_DIR = os.path.join(HERE, ".results")
RUNS_DIR = os.path.join(HERE, ".runs")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
ORACLE_TOOL = os.path.join(ROOT, "tools", "check_oracle.py")

# generated tables and their row counts; every workload's data dir holds
# all of them, because traced runs probe every layer after the passes
# (3000 documents put the corpus above IterState's 250 KB staging gate, so
# the dedup operators take their staged path, as at sf0.1)
SIZES = {"events": 20000, "documents": 3000, "customer": 2000, "embeddings": 2000}
# the tables each workload's passes read (Workloads.scala names the same);
# rows_per_s counts their rows
PASS_TABLES = {"segment": ["events"], "dedup": ["documents", "customer"]}
SETUPS = 5          # session set-ups per run; setup_s is their median
MODULE_LAYERS = {"segmentation", "kernel", "dedup", "store", "ann", "stream"}
JVM_TIMEOUT_S = 160
ORACLE_TIMEOUT_S = 60

# JDK 17 module opens Spark needs outside spark-submit (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg, code=1):
    log(f"perfbench: {msg}")
    sys.exit(code)


def source_fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; returns the
    runtime classpath. perfbench/build.sbt depends on the engine's own build
    one directory up, so the engine compiles with its own settings."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    fp = source_fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
           "--sbt-dir", os.path.join(BUILD_DIR, "sbt-global"),
           "--ivy", os.path.join(BUILD_DIR, "ivy"),
           f"-J-Djava.io.tmpdir={os.path.join(BUILD_DIR, 'tmp')}", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    # no hsperfdata files in the system tmp dir, also for the launcher
    # script's own `java -version` probes
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env.pop("SBT_OPTS", None)
    log("perfbench: building engine and harness (sbt) ...")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as out:
        rc = run_child(cmd, cwd=HERE, env=env, stdout=out, timeout=800)
    with open(os.path.join(BUILD_DIR, "sbt.log")) as f:
        lines = f.read().splitlines()
    if rc != 0:
        log("\n".join(lines[-40:]))
        die(f"build failed (exit {rc})")
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if not cp:
        die("build produced no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(fp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp[-1].strip()


_children = []


def run_child(cmd, timeout, **kw):
    """Run a child process to completion; kill it on timeout or signal."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill(p)
        return -9
    finally:
        kill(p)
        _children.remove(p)


def kill(p):
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def on_signal(signum, _frame):
    # no wait here: the main thread may be inside Popen.wait; run_child's
    # `finally` reaps the children once SystemExit unwinds it
    for p in list(_children):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)


def manifest(data_dir, tables):
    """Seed-derived input description: rows, bytes and content hash per table."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for t in sorted(tables):
        p = os.path.join(data_dir, f"{t}.parquet")
        with open(p, "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
        out[t] = {"rows": rows, "bytes": os.path.getsize(p), "sha256": sha[:16]}
    con.close()
    return out


def oracle_gate(data_dir, gate_dir):
    """Compare the dumped query results with DuckDB; returns {query: status}."""
    env = dict(os.environ, ORACLE_TIMEOUT_S=str(ORACLE_TIMEOUT_S))
    out_path = os.path.join(gate_dir, "_oracle.txt")
    with open(out_path, "w") as out:
        run_child([sys.executable, ORACLE_TOOL, data_dir, gate_dir], cwd=gate_dir, env=env,
                  stdout=out, stderr=subprocess.STDOUT, timeout=ORACLE_TIMEOUT_S)
    # every dumped query needs a verdict; one the compare never printed
    # (crash, timeout of the compare itself) counts as failed
    with open(os.path.join(gate_dir, "oracle_sql.json")) as f:
        status = {q: "NO-VERDICT" for q in json.load(f)}
    with open(out_path) as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 2 and parts[0].startswith("q"):
                status[parts[0]] = parts[1]
    return status


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PASS_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die(f"no engine sources under {ENGINE_SRC}; run from the root of a full checkout", 2)
    if not os.path.isfile(ORACLE_TOOL) or not os.path.isfile(spec_path):
        die("tools/check_oracle.py or BENCHMARK.json missing", 2)
    with open(spec_path) as f:
        spec = json.load(f)

    classpath = build()
    sys.path.insert(0, HERE)
    import gen
    tag = "-".join(f"{t}{n}" for t, n in sorted(SIZES.items()))
    data_dir = gen.generate(os.path.join(DATA_DIR, f"seed{a.seed}-{tag}-{gen.fingerprint()}"),
                            a.seed, SIZES)
    inputs = manifest(data_dir, SIZES)

    run_dir = os.path.join(RUNS_DIR, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "scratch", "gate"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(RESULTS_DIR, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(RESULTS_DIR, f"spans-{a.workload}-seed{a.seed}.jsonl")
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
                   SPARK_SCALA_VERSION="2.13", SPARK_GRAFT_CPUS="4")
        # fixed heap and young generation, so the peak RSS does not depend
        # on when the heap happened to grow
        cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn600m", "-XX:+UseG1GC", "-XX:-UsePerfData",
               *ADD_OPENS,
               f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--data", data_dir, "--run", run_dir,
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--setups", str(SETUPS), "--result", result_path, "--spans", spans_path]
        jvm_log = os.path.join(run_dir, "jvm.log")
        with open(jvm_log, "w") as out:
            cmd += ["--spawn-ms", repr(time.time() * 1000.0)]
            rc = run_child(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
        shutil.copy(jvm_log, os.path.join(RESULTS_DIR, f"jvm-{a.workload}-seed{a.seed}.log"))
        if rc != 0 or not os.path.isfile(result_path):
            with open(jvm_log) as f:
                log("".join(f.readlines()[-40:]))
            die(f"benchmark JVM failed (exit {rc})")
        with open(result_path) as f:
            res = json.load(f)
        oracle = oracle_gate(data_dir, os.path.join(run_dir, "gate"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    input_rows = sum(inputs[t]["rows"] for t in PASS_TABLES[a.workload])
    gated_bad = sorted(q for q, s in oracle.items() if s != "PASS")
    attempted = res["attempted"] + len(oracle) + len(res["gate_errors"])
    failed = res["failed"] + len(gated_bad) + len(res["gate_errors"])
    warm = [p["s"] for p in res["passes"] if p["measured"] and not p["traced"]]

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  master local[4]")
    for t, m in inputs.items():
        print(f"input {t}: rows {m['rows']}  bytes {m['bytes']}  sha256 {m['sha256']}")
    for q, s in sorted(oracle.items()):
        print(f"oracle {q}: {s}")
    for msg in res["failures"] + res["gate_errors"]:
        print(f"failed: {msg}")
    print(f"steps attempted {attempted}  failed {failed}  "
          f"fail_ratio {failed / max(attempted, 1):.4f}")

    if a.trace == 0:
        q1, med, q3 = quartiles(warm)
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "cold_pass_s": res["passes"][0]["s"],
            "pass_s": med,
            "rows_per_s": input_rows / med,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        print(f"setup_s samples {['%.3f' % x for x in res['setup_s']]}")
        print(f"pass_s quartiles {q1:.4f} / {med:.4f} / {q3:.4f}  n={len(warm)}  "
              f"input_rows {input_rows}")
        wanted = spec["end_to_end"]
    else:
        per_pass = res["per_pass"]
        traced = [p["s"] for p in res["passes"] if p["measured"] and p["traced"]]
        values = {}
        # medians over the traced passes; a module layer the passes do not
        # call is taken from the probe window (engine layers never are)
        for m in spec["per_layer"]:
            n = m["name"]
            if any(n in p for p in per_pass) or n.split(".")[0] not in MODULE_LAYERS:
                values[n] = statistics.median(p.get(n, 0.0) for p in per_pass)
            elif n in res["probe_pass"]:
                values[n] = res["probe_pass"][n]
        values.update(res["probes"])
        if traced and warm:
            values["trace.overhead_s"] = statistics.median(traced) - statistics.median(warm)
        print(f"traced passes {len(traced)}  untraced passes {len(warm)}  "
              f"spans {spans_path}")
        wanted = spec["per_layer"]

    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<32} {v:>16.6g} {m['unit']}")
    record = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(RESULTS_DIR, f"run-{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump({"record": record, "inputs": inputs, "oracle": oracle, "jvm": res}, f)
    print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
