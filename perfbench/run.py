#!/usr/bin/env python3
"""Repository benchmark: CDC ingest (copy-on-write and merge-on-read under
reads) and corpus near-duplicate/similarity queries, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_cow --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload ingest_mor_read --seed 1 --seconds 10 --trace 1

The first run builds the engine and the benchmark's JVM code with sbt (offline)
and caches the classpath under perfbench/.work/build; later runs reuse it
until a source file changes. Each run starts one JVM at local[4] with a heap
derived from /proc/meminfo, checks every output (the JVM checks the ingest
tables, lookups and kernel counts; this script checks the corpus query
results against the DuckDB oracle and the kernel counts against earlier runs
of the same seed and sources), prints every metric with its unit, and ends
with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is 0 only when every check passed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing scripts/check_oracle.py leaves no cache behind

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ["ingest_cow", "ingest_mor_read", "corpus_dedup"]
DEADLINE_S = 170  # a run must end within 180 s once built

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# root build's javaOptions / Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, engine and benchmark."""
    out = []
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]:
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(src_digest):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == src_digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           stdin=subprocess.DEVNULL, text=True, timeout=850)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines or any(l.startswith("[error]") for l in p.stdout.splitlines()):
        die(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(src_digest)
    return lines[-1]


def mem_total_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GiB (the tier-1 test sizing)."""
    return min(8, max(2, mem_total_kb() // 2097152))


def fingerprint(src_digest):
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
        jdk = java.splitlines()[0] if java else "unknown"
    except OSError:
        jdk = "unknown"
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        sha = p.stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_total_kb(),
            "jdk": jdk, "git_sha": sha, "source_sha256": src_digest}


def run_jvm(cp, workload, seed, seconds, trace, budget_s):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--work", run_dir, "--out", out])
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(run_dir, "scratch"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{workload}: run exceeded {budget_s:.0f} s; see {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        die(f"{workload}: benchmark process failed (exit {rc}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def oracle_check(res):
    """Hash every corpus query result against DuckDB running the query's
    oracle SQL, hashed and normalised by scripts/check_oracle.py."""
    if not res["oracle_sql"]:
        return
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import duckdb
    from check_oracle import table_hash
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{res['corpus_dir']}/{t}.parquet/*.parquet')")
    want = {}
    for q, sql in res["oracle_sql"].items():
        r = con.execute(sql)
        want[q] = table_hash(r.fetchall(), [d[0].lower() for d in r.description])
    for q, cycle, out in res["outputs"]:
        rel = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        got = table_hash(rel.fetchall(), [c.lower() for c in rel.columns])
        if got != want[q]:
            res["failed"] += 1
            res["failures"].append(f"{q} (cycle {cycle}): result differs from the DuckDB oracle")


def kernel_check(res, src_digest):
    """Kernel counts are exact: every run of one workload and seed on the same
    sources repeats them. (The benchmark process has already checked them
    against counts derived from the raw log.)"""
    if not res["kernel"]:
        return
    d = os.path.join(WORK, "kernel")
    os.makedirs(d, exist_ok=True)
    f = os.path.join(d, f"{res['workload']}-{res['seed']}-{src_digest[:16]}.json")
    if os.path.exists(f):
        with open(f) as fh:
            before = json.load(fh)
        if before != res["kernel"]:
            res["failures"].append(f"kernel counts {res['kernel']} differ from an earlier run {before}")
    else:
        with open(f, "w") as fh:
            json.dump(res["kernel"], fh)


def declared_per_layer():
    """Per-layer metric names BENCHMARK.json declares. Metrics that only
    ingest_mor_read reaches stay in the result file but not in the line."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["per_layer"]]


def report(res, host):
    w = res["workload"]
    print(f"== {w} seed={res['seed']} trace={int(res['trace'])} host={json.dumps(host)}")
    for section in ["metrics", "detail"]:
        for k, m in sorted(res[section].items()):
            print(f"{w}  {k:<44} {m['value']:.6g} {m['unit']}")
    for f in res["failures"]:
        print(f"{w}  FAILED {f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found; run from a full checkout of the repository")
    src = digest(source_files())
    cp = build(src)
    host = fingerprint(src)
    built = time.time()
    results = []
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        budget = DEADLINE_S * (len(results) + 1) - (time.time() - built) - 15
        t_jvm = time.time()
        res = run_jvm(cp, w, a.seed, a.seconds, a.trace == 1, budget)
        t_check = time.time()
        oracle_check(res)
        kernel_check(res, src)
        print(f"perfbench: {w}: benchmark process {t_check - t_jvm:.1f} s, "
              f"checks {time.time() - t_check:.1f} s", file=sys.stderr)
        res["host"] = dict(host, spark_version=res["spark_version"])
        res["correct"] = not res["failures"]
        if a.trace == 1:
            res["contract_metrics"] = {k: res["metrics"][k] for k in declared_per_layer()}
        with open(os.path.join(WORK, f"result-{w}-{a.seed}-{a.trace}.json"), "w") as fh:
            json.dump(res, fh, indent=1)
        report(res, res["host"])
        results.append(res)
    chosen = [r.get("contract_metrics", r["metrics"]) for r in results]
    if len(results) == 1:
        metrics = chosen[0]
    else:
        metrics = {f"{r['workload']}.{k}": m for r, ms in zip(results, chosen) for k, m in ms.items()}
    line = {"correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": metrics}
    print(json.dumps(line))
    print(f"perfbench: done in {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
