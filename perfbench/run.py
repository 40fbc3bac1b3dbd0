#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt, an sbt build over the unmodified sources);
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from --seed, starts one JVM on local[N] (N = at
most 4 cores), sets up, runs an untimed warm-up pass whose outputs are
checked, then loops passes for --seconds: one client, closed loop.

The last stdout line is the result:
    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
with the end-to-end metrics for --trace 0 and the per-layer metrics of a
traced run for --trace 1. The line before it is the run's full artifact
(per-kind latencies, host-noise record, lake storage, errors).
"""
import argparse
import hashlib
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

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# name -> JVM workload kind, queries, generated row counts, and the row
# counts of the smaller input the checked warm-up pass runs on where the
# DuckDB oracle is too slow at full size (see NOTES.md).
WORKLOADS = {
    "llm_sf0.1": dict(kind="queries",
                      queries=["q_triangle_count", "q_ann_ivfpq"],
                      rows=dict(documents=5000, embeddings=2000),
                      check_rows=dict(documents=500, embeddings=200)),
    "lake_txn": dict(kind="lake", queries=[], rows=dict(orders=100000)),
}

OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def work_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(work):
    """Builds the engine and harness once per source state; returns the
    runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} beside perfbench/: run from a graft checkout")
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(work, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    with open(os.path.join(work, "build.log"), "w") as log:
        try:
            p = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True)
        except OSError as e:
            die(f"build failed: {e}")
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)  # sbt's launcher and its JVM
            p.wait()
            die("build timed out")
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (rc={rc}); see {log.name}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_jvm(cp, args, work, log_path):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap: VmHWM then moves with the JVM's memory
    # beyond the heap, not with when GC happened to grow the heap.
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_IP="127.0.0.1")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, cwd=work,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(3)
        # The JVM runs in its own process group: take it down with us.
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def oracle_check(data_dir, out_dir):
    """Compares each warm-up output with its DuckDB oracle on the same
    input, as multisets of rows over the sorted column names; returns
    {query: None if equal, else the reason}."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads = {CORES}")
    con.execute("SET TimeZone = 'UTC'")
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    verdict = {}
    for q, sql in sorted(oracle.items()):
        try:
            # Materialized CTEs: the same rows, without DuckDB 1.0
            # re-evaluating the oracles' deep CTE chains per reference.
            sql = re.sub(r"\b(\w+) AS \((SELECT|WITH)\b", r"\1 AS MATERIALIZED (\2", sql)
            con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {sql}")
            con.execute("CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM "
                        f"read_parquet('{out_dir}/warm/{q}/*.parquet')")
            gtypes = {r[0]: r[1] for r in con.execute("DESCRIBE got").fetchall()}
            ecols = [r[0] for r in con.execute("DESCRIBE exp").fetchall()]
            if sorted(gtypes) != sorted(ecols):
                verdict[q] = f"columns {sorted(gtypes)} != oracle {sorted(ecols)}"
                continue
            cols = sorted(ecols)
            gsel = ", ".join(
                f'CAST(timezone(\'UTC\', "{c}") AS TIMESTAMP)'
                if "WITH TIME ZONE" in gtypes[c] else f'"{c}"' for c in cols)
            esel = ", ".join(f'"{c}"' for c in cols)
            n_got, n_exp = con.execute(
                "SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM exp)").fetchone()
            diff = con.execute(
                f"SELECT count(*) FROM ((SELECT {gsel} FROM got EXCEPT ALL SELECT {esel} FROM exp)"
                f" UNION ALL (SELECT {esel} FROM exp EXCEPT ALL SELECT {gsel} FROM got))"
            ).fetchone()[0]
            verdict[q] = None if (n_got == n_exp and diff == 0) else (
                f"rows {n_got} vs oracle {n_exp}; {diff} rows differ")
        except Exception as e:  # a broken output is a wrong output
            verdict[q] = f"check error: {e}"[:300]
    con.close()
    return verdict


def quantile(xs, p):
    """Linear-interpolated p-th percentile."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def latency(xs):
    """Median plus the highest whole percentile with at least ten samples
    beyond it (None below eleven samples), with the sample count."""
    out = {"p50_s": statistics.median(xs), "n": len(xs), "tail_pct": None,
           "tail_s": None}
    if len(xs) > 10:
        pct = math.floor(100.0 * (len(xs) - 10) / len(xs))
        out.update(tail_pct=pct, tail_s=quantile(xs, pct))
    return out


def summarize(res, trace):
    passes = res["passes"]  # [pass, traced, wall, calib_ms, steal, other]
    ops = res["ops"]        # [pass, traced, kind, class, seconds, ok]
    timed = [o for o in ops if o[1] == 0 and o[5]]
    by_kind = {}
    for o in timed:
        by_kind.setdefault(o[2], []).append(o[4])
    untraced = [p[2] for p in passes if p[1] == 0]
    art = {
        "setup_s": res["setup_s"],
        "mix_s": statistics.median(untraced),
        "geomean_s": math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in by_kind.values())),
        "rss_peak_mb": res["rss_peak_mb"],
        "heap_live_mb": res["heap_live_mb"],
        # JVM start to the first timed operation, warm-up pass included
        # (one sample a run); setup_s leaves the warm-up out.
        "first_op_s": res["boot_s"] + sum(
            res["phase_s"][k] for k in ("context", "setup", "warmup")),
        "passes": len(untraced),
        "latency": latency([o[4] for o in timed]),
        "kind_median_s": {k: statistics.median(v) for k, v in sorted(by_kind.items())},
        "host.calib_ms": statistics.median(p[3] for p in passes),
        "host.steal_pct": statistics.median(p[4] for p in passes),
        "host.other_cpu_pct": statistics.median(p[5] for p in passes),
        "setup_reps_s": res["setup_reps"],
    }
    for cls in ("write", "read"):
        xs = [o[4] for o in timed if o[3] == cls]
        if xs:
            art[f"{cls}_latency"] = latency(xs)
    if res["lake"]:
        art["lake"] = res["lake"]
    if trace:
        traced = [p[2] for p in passes if p[1] == 1]
        layers = dict(res["layers"])
        layers["trace.overhead"] = statistics.mean(traced) / statistics.mean(untraced)
        for k in ("host.calib_ms", "host.steal_pct", "host.other_cpu_pct"):
            layers[k] = art[k]
        art["layers"] = layers
    return art


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = work_dir()
    cp = build(work)

    import gen
    data = os.path.join(work, "data", a.workload)
    check = os.path.join(work, "data", a.workload + ".check")
    out = os.path.join(work, "out", a.workload)
    run_scratch = os.path.join(work, "run")
    for d in (data, check, out, run_scratch):
        shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    gen.generate(a.seed, cfg["rows"], data)
    if "check_rows" in cfg:
        gen.generate(a.seed, cfg["check_rows"], check)
    else:
        check = data
    t_gen = time.time() - t0

    args = ["--workload", cfg["kind"], "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--check", check, "--work", run_scratch, "--out", out,
            "--queries", ",".join(cfg["queries"]) or "-", "--cores", str(CORES)]
    log = os.path.join(work, f"jvm-{a.workload}.log")
    t0 = time.time()
    rc = run_jvm(cp, args, work, log)
    t_jvm = time.time() - t0
    result = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result):
        die(f"benchmark JVM exited with {rc}; see {log}")
    with open(result) as f:
        res = json.load(f)

    failed = res["failed"]
    t_check = 0.0
    errors = list(res["errors"])
    if cfg["kind"] != "lake":
        t0 = time.time()
        verdict = oracle_check(check, out)
        t_check = time.time() - t0
        for q in cfg["queries"]:
            # A query whose warm-up threw is already counted by the JVM.
            if not os.path.isdir(os.path.join(out, "warm", q)):
                continue
            v = verdict.get(q, "no oracle SQL")
            if v is not None:
                failed += 1
                errors.append(f"{q}: {v}")
    art = summarize(res, a.trace == 1)
    art.update(workload=a.workload, seed=a.seed, errors=errors,
               wall_s=dict(res["phase_s"], gen=t_gen, jvm=t_jvm, check=t_check,
                           total=time.time() - T_START))
    print(json.dumps(art, sort_keys=True))

    group, values = ((bench["per_layer"], art["layers"]) if a.trace
                     else (bench["end_to_end"], art))
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in group}
    shutil.rmtree(run_scratch, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
