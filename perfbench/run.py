#!/usr/bin/env python3
"""Benchmark of the graft KG pipeline and its query operators.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload kg_incremental|ops_suite \\
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.sbt, once
per source state), starts one fresh JVM for the run, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Everything the run writes stays under perfbench/.work/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
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
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
PROGRAM = [os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline", "Pipeline.scala"),
           os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]

# Every size of every workload is set here, and only here: the harness
# requires each argument. The KG workload: a 20,000-entity SyntheticKb and
# disjoint batches of 200 files.
KG_ARGS = ["--kb", "20000", "--batch-files", "200"]
# ops_suite reads a copy of the repository's sf0.01 test tables (seed 42,
# TESTDATA.md), so the benchmark's --seed does not apply to it.
OPS_TABLES = os.path.join(HERE, "tables", "sf0.01")
# one query per operator family of SparkEntry, q_join_star included; a
# sweep over all 48 does not fit the run budget, nor does q_similarity_expr,
# whose DuckDB oracle alone takes about 4 s per run (see README.md)
OPS_QUERIES = [
    "q_agg_pricing", "q_join_explode_topk", "q_join_star", "q_window_argmax",
    "q_distinct_degree", "q_lang_id", "q_dedup_exact", "q_ann_topk",
    "q_mention_count", "q_sessionize", "q_asof_join",
]
WORKLOADS = {  # name: (size label of the run record, harness arguments)
    "kg_incremental": ("kb20000-b200", KG_ARGS),
    "ops_suite": (f"sf0.01-q{len(OPS_QUERIES)}",
                  ["--data", OPS_TABLES, "--queries", ",".join(OPS_QUERIES)]),
}
RUN_LIMIT_S = 170  # the whole run, build excepted, ends within this
BUILD_LIMIT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt once per source state; returns the
    runtime classpath and the program's JVM options, as perfbench/build.sbt
    writes them, or None when the build fails."""
    os.makedirs(TARGET, exist_ok=True)
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "jvm_options.txt")
    want = source_hash()
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        have = open(stamp_file).read() if os.path.exists(stamp_file) else None
        if have != want or not (os.path.exists(cp_file) and os.path.exists(opts_file)):
            log("building program and harness with sbt")
            env = dict(os.environ, COURSIER_MODE="offline")
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
            t0 = time.time()
            try:
                proc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeRunConfig"],
                    cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                    timeout=BUILD_LIMIT_S)
            except subprocess.TimeoutExpired:
                log("build exceeded its time limit")
                return None
            if proc.returncode != 0:
                sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
                log("build failed")
                return None
            with open(stamp_file, "w") as f:
                f.write(want)
            log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        jvm_opts = [o for o in f.read().splitlines() if o]
    return cp, jvm_opts


# ---- host noise -----------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals  # user nice system idle iowait irq softirq steal ...


def burn_seconds():
    """A fixed single-core burn (sha256 over 64 KiB, 4000 rounds), pinned to
    the last core this process may use."""
    core = max(os.sched_getaffinity(0))
    saved = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {core})
    try:
        buf = b"\x5a" * 65536
        t0 = time.perf_counter()
        for _ in range(4000):
            buf = hashlib.sha256(buf).digest() * 2048
        return time.perf_counter() - t0, core
    finally:
        os.sched_setaffinity(0, saved)


def host_noise(before, after, burns):
    d = [a - b for a, b in zip(after, before)]
    total = max(1, sum(d[:8]))
    return {"steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / total,
            "idle_pct": 100.0 * (d[3] + d[4]) / total,
            "burn_s_before": burns[0][0], "burn_s_after": burns[1][0],
            "burn_core": burns[0][1]}


# ---- the run ----------------------------------------------------------------

def run_jvm(cp, jvm_opts, args, work, deadline):
    """Runs the harness; returns its record, or None when the JVM failed or
    overran (the tail of its log goes to stderr)."""
    cmd = [shutil.which("java") or "java", *jvm_opts,
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Harness", *args]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_file = os.path.join(work, "jvm.log")
    with open(log_file, "ab") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "killed: the run exceeded its time limit"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result = os.path.join(work, "result.json")
    if rc == 0 and os.path.exists(result):
        with open(result) as f:
            return json.load(f)
    with open(log_file, "rb") as f:
        sys.stderr.write(f.read()[-4000:].decode(errors="replace"))
    log(f"harness JVM failed ({rc})")
    return None


def ops_failed_passes(work, passes):
    """Those of the given passes whose query outputs are missing or differ
    from SparkEntry.oracleSql run by DuckDB over the same tables: column
    names and the full ordered value matrix, floats to 9 decimals. The
    harness writes the collected outputs of every checked pass under
    verify/pass-NNNN/."""
    import duckdb
    import math

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 9)
        return v

    def rows(sql):
        rel = con.execute(sql)
        return [d[0] for d in con.description], [tuple(norm(v) for v in r) for r in rel.fetchall()]

    verify = os.path.join(work, "verify")
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{OPS_TABLES}/{t}.parquet'")
    want = {}
    failed = set()
    for i in passes:
        d = f"pass-{i:04d}"
        out = os.path.join(verify, d)
        if not os.path.isdir(out) or sorted(os.listdir(out)) != sorted(OPS_QUERIES):
            log(f"{d}: outputs missing")
            failed.add(i)
            continue
        for q in OPS_QUERIES:
            try:
                got = rows(f"SELECT * FROM '{verify}/{d}/{q}/*.parquet'")
                if q not in want:
                    want[q] = rows(oracle[q])
                ok = got == want[q]
            except Exception as e:  # unreadable output counts as wrong output
                log(f"oracle compare {d}/{q}: {e}")
                ok = False
            if not ok:
                log(f"{d}: {q} differs from its DuckDB oracle")
                failed.add(i)
    return failed


def median(xs):
    return statistics.median(xs) if xs else None


def metrics_of(res, trace, spec):
    """The benchmark's metrics from the harness record: every pass that ran
    to the end is timed, whether or not its output check passed, so a wrong
    program still gets its figures. A metric with no pass to compute it
    from is None."""
    passes = [p for p in (res or {}).get("passes", []) if "seconds" in p]
    first = next((p for p in passes if p["pass"] == 0), None)
    warm = [p for p in passes if p["pass"] != 0 and not p["traced"] and not p["warmup"]]
    out = {}
    if not trace:
        setup = (res or {}).get("setup_s")
        vals = {
            "setup_s": setup,
            "first_output_s": setup + first["seconds"] if setup and first else None,
            "pass_s_p50": median([p["seconds"] for p in warm]),
            "throughput_per_s": (res["units"] * len(warm) / sum(p["seconds"] for p in warm)
                                 if warm else None),
            "peak_heap_mb": max((p["live_heap_mb"] for p in passes if "live_heap_mb" in p),
                                default=None),
        }
        for m in spec["end_to_end"]:
            out[m["name"]] = {"value": vals.get(m["name"]), "unit": m["unit"]}
    elif res:
        traced = [p for p in passes if p["traced"] and "layers" in p]
        layer = {}
        for k in {k for p in traced for k in p["layers"]}:
            layer[k] = median([p["layers"][k] for p in traced if k in p["layers"]])
        layer.update(res.get("setup_layers", {}))
        layer["first_pass_s"] = first["seconds"] if first else None
        layer["pass_cpu_s"] = median([p["cpu_s"] for p in warm])
        tmed = median([p["seconds"] for p in traced])
        wmed = median([p["seconds"] for p in warm])
        layer["trace.overhead_frac"] = tmed / wmed - 1.0 if tmed and wmed else None
        for m in spec["per_layer"]:
            # a layer this workload does not run reports zero
            out[m["name"]] = {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
    else:
        out = {m["name"]: {"value": None, "unit": m["unit"]} for m in spec["per_layer"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.exists(p)]
    if missing:
        log(f"program sources not found ({', '.join(missing)}); run from a checkout root")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    built = build()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    size, harness_args = WORKLOADS[a.workload]
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-{size}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    before = cpu_times()
    burns = [burn_seconds()]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, *harness_args]
    try:
        # a program that does not build fails its run
        res = run_jvm(*built, args, work, deadline) if built else None
        # a harness that died before it recorded a pass still attempted one
        attempted, failed = (res["attempted"], res["failed"]) if res else (1, 1)
        if res and a.workload == "ops_suite":
            ok = [p["pass"] for p in res["passes"] if p.get("ok")]
            failed += len(ops_failed_passes(work, ok))
    finally:
        # the run record (result, spans, host noise, log) stays; inputs and
        # outputs go
        for d in ("corpus", "out", "verify", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    burns.append(burn_seconds())
    host = host_noise(before, cpu_times(), burns)
    host["run_s"] = time.time() - started
    with open(os.path.join(work, "host.json"), "w") as f:
        json.dump(host, f)

    metrics = metrics_of(res, a.trace == 1, spec)
    print(json.dumps({"host": host, "record": os.path.relpath(work, ROOT)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    # the result line always comes first; a run with a metric it could not
    # compute is not a measurement
    missing = [k for k, m in metrics.items() if m["value"] is None]
    if missing:
        log(f"no passes to compute {', '.join(missing)} from")
        sys.exit(1)


if __name__ == "__main__":
    main()
