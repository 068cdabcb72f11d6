#!/usr/bin/env python3
"""Crawl loop benchmark, with the catalogue leaves in a traced run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source into .bench_build/ (sbt, offline); later runs reuse
the build. The catalogue leaves (traced crawl_loop_cuckoo) read the tables
under perfbench/data/sf0.01.
One JVM runs one workload with local[N], N = the number of cores. The
last line of standard output is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones. The line before it is the run's record:
environment stamp, figures per workload and every failure. See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
TABLES = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170

WORKLOADS = ["crawl_loop_bloom", "crawl_loop_cuckoo"]

END_TO_END = {
    "setup_s": "s",
    "gen_wall_p50_s": "s",
    "gen_wall_max_s": "s",
    "fetched_per_s": "urls/s",
    "heap_retained_mb": "MB",
}

ACTIONS = ["frontier_write", "seen_write", "outcomes_write", "sketch_build",
           "seen_compaction", "retraction"]
FAMILIES = ["sql", "rowfn", "dedup", "similarity", "crawlops"]
PER_LAYER = {
    "politeness.wall_s": "s", "politeness.rows_in": "rows", "politeness.selected": "rows",
    "fetch_extract.ns_per_page": "ns", "fetch_extract.links_per_page": "links",
    "frontier.links": "rows", "frontier.candidates": "rows", "frontier.allowed": "rows",
    "frontier.dedup_shuffle_bytes": "bytes",
    "robots.ns_per_check": "ns",
    "seen_probe.wall_s": "s", "seen_probe.maybe_seen": "rows",
    "seen_probe.maybe_ratio": "ratio", "seen_probe.fp_rate": "ratio",
    "seen_probe.bloom_wall_s": "s", "seen_probe.sharded_wall_s": "s",
    "anti_join.wall_s": "s", "anti_join.rows_in": "rows", "anti_join.seen_rows": "rows",
    "retraction_cuckoo.wall_s": "s", "retraction_cuckoo.deleted": "rows",
    **{f"{a}.{m}": u for a in ACTIONS
       for m, u in (("wall_ms", "ms"), ("task_ms", "ms"), ("shuffle_bytes", "bytes"))},
    "sketch.fill": "ratio", "sketch.bytes": "bytes",
    "driver_gap_ms": "ms",
    "trace.labelled_share": "ratio", "trace.unaccounted_ms": "ms", "trace.overhead_s": "s",
    **{f"q.q{i:02d}.warm_s": "s" for i in range(1, 45)},
    **{f"q.{f}.{m}": "s" for f in FAMILIES for m in ("cold_s", "warm_s")},
    "q.cached_left": "count",
    "jvm.gc_ms": "ms", "load.start": "load", "load.end": "load",
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), ENGINE_SRC):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source fingerprint; returns the classpath."""
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               PERFBENCH_TARGET=os.path.join(BUILD, "target"))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=850)
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines()
             if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1].strip()


def norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def normed(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, sorted(tuple(norm_cell(r[i]) for i in idx) for r in rel.fetchall())


def oracle_check(data_dir, results_dir):
    """Compare each leaf's Spark result with DuckDB running the leaf's oracle
    SQL, under the same normalization as tools/check_oracle.py (columns
    sorted by name, cells stringified, rows sorted). Returns failures."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def check(name):
        if name not in oracle:
            return f"{name}: no oracle SQL"
        cur = con.cursor()  # one connection per thread; the views are shared
        try:
            oc, orows = normed(cur.sql(oracle[name]))
            files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
            sc, srows = normed(cur.sql(f"SELECT * FROM read_parquet({files!r})"))
            if oc != sc:
                return f"{name}: oracle columns {oc} != spark columns {sc}"
            if orows != srows:
                return f"{name}: oracle {len(orows)} rows != spark {len(srows)} rows or values differ"
        except Exception as e:  # an oracle error fails the leaf, never passes it
            return f"{name}: oracle check error: {e}"
        finally:
            cur.close()
        return None

    names = sorted(n for n in os.listdir(results_dir)
                   if os.path.isdir(os.path.join(results_dir, n)))
    with ThreadPoolExecutor(max_workers=4) as pool:
        return [f for f in pool.map(check, names) if f]


def source_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def run_jvm(cp, args, work, data_dir, result):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--data", data_dir, "--result", result]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"workload JVM exited with {proc.returncode}")


def main():
    ap = argparse.ArgumentParser(description="Crawl loop benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(work)
    try:
        result = os.path.join(work, "result.json")
        run_jvm(cp, args, work, TABLES, result)
        with open(result) as f:
            rec = json.load(f)
        failures = list(rec["failures"])
        failed = rec["failed"]
        leaves = os.path.join(work, "leaf-results")
        if os.path.isdir(leaves):  # the catalogue ran (traced crawl_loop_cuckoo)
            leaf_failures = oracle_check(TABLES, leaves)
            failures += leaf_failures
            failed += len(leaf_failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = PER_LAYER if args.trace else END_TO_END
    got = rec["layer"] if args.trace else rec["e2e"]
    missing = [k for k in wanted if got.get(k) is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    record = {"stamp": dict(rec["stamp"], commit=source_commit(),
                            source_sha256=source_fingerprint()),
              "info": rec["info"], "failures": failures}
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": rec["attempted"],
        "failed": failed,
        "metrics": {k: {"value": got[k], "unit": u} for k, u in wanted.items()},
    }))


if __name__ == "__main__":
    main()
