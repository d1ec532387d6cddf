#!/usr/bin/env python3
"""One benchmark run of the graft engine on one workload.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source into .bench_build/ (sbt, offline); later runs reuse
the build while the sources are unchanged. Each run generates its inputs
from the seed (gen.py), runs the engine in one JVM (Harness.scala), checks
every output against DuckDB, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ORACLE_CHECK = os.path.join(ROOT, "scripts", "check_oracle.py")
DEADLINE_S = 175  # the run must end by then: the engine CHECK_S earlier
CHECK_S = 10

# The batch rows, fixed by name. Tail rows are where fixed per-query cost
# (construction, planning, scheduling) dominates; the heavy rows are where
# pinning, shuffle, sequential stage rounds and graft.functions kernels do.
BATCH_SUITE = [
    # tail: every 40th, by name from offset 5, of the rows whose sf0.1 warm
    # median in the round-19 close ledger is at most 1 s
    "q129_top_supplier", "q1_clicked_display", "q261_burstiness",
    "q309_ansari_bradley", "q3_time_shift", "q84_change_history",
    # heavy: the n-gram near-dup join on the graft.functions hash-set
    # kernels, over pinned frames
    "q12_dedup_ngram",
]

WORKLOADS = {
    "attribution_uniform": dict(stream=True),
    "batch_suite": dict(stream=False, sf=0.01, queries=BATCH_SUITE),
}

KERNELS = ["ngram_xxhash_sorted_set", "sorted_long_jaccard"]
# Per-layer metrics of a traced run, with units. Counts, bytes and seconds
# are per pass; streaming phase times are per micro-batch.
PER_LAYER = [
    ("entry.build_s", "s"), ("entry.eager_jobs", "count"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("plan.aqe_updates", "count"), ("streaming.query_planning_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.slot_idle_s", "s"), ("exec.straggler_ratio", "ratio"),
    ("exec.scaling_vs_1core", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_s", "s"),
    ("spill.mb", "MB"),
    ("pinning.rdds", "count"), ("pinning.peak_mb", "MB"), ("pinning.live_after", "count"),
] + [(f"functions.{k}_s", "s") for k in KERNELS] + [
    ("sources.input_rows", "count"), ("sources.input_mb", "MB"),
    ("sources.latest_offset_ms", "ms"), ("sources.get_batch_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("state.rows_total_peak", "count"), ("state.rows_updated", "count"),
    ("state.rows_removed", "count"), ("state.memory_mb", "MB"), ("state.commit_ms", "ms"),
    ("state.instances", "count"), ("state.get_ms", "ms"), ("state.put_ms", "ms"),
    ("sink.rows", "count"), ("sink.mb", "MB"),
    ("trace.overhead_pct", "%"),
]

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    # a fixed, pre-touched heap: the peak RSS then moves with native memory
    # (RocksDB, code cache, metaspace, direct buffers), not with how far
    # the collector happened to grow the heap
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


_running = set()


def _stop_children(signum, _frame):
    """On SIGTERM/SIGINT, kill and reap every child process group first."""
    for p in list(_running):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    sys.exit(128 + signum)


def run_bounded(cmd, timeout, **kw):
    """subprocess.run in its own process group; on timeout or when this
    process is told to stop, the whole group (sbt's launcher and its JVM,
    say) is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    _running.add(p)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        _running.discard(p)
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def fingerprint():
    h = hashlib.sha1()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for d in (ENGINE_SRC, os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(env):
    """Compile engine + harness once per source state; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness (sbt, offline)")
    env = dict(env, COURSIER_MODE=env.get("COURSIER_MODE", "offline"))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}").strip()
    try:
        p = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], 850, cwd=BENCH, env=env,
                        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail("build exceeded its time limit")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1].strip()


def run_harness(cp, env, workload, data, out, seconds, trace, cores, queries, deadline):
    # keep Spark's scratch space and the JVM's temp files inside the checkout
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    env = dict(env, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-cp", cp, "perfbench.Harness", "--workload", workload,
           "--data", data, "--out", out, "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores)]
    if queries:
        cmd += ["--queries", ",".join(queries)]
    else:
        cmd += ["--window-ms", str(round(gen.STREAM["window_s"] * 1000)),
                "--watermark-ms", str(round(gen.STREAM["watermark_s"] * 1000))]
    with open(os.path.join(out, "harness.log"), "w") as logf:
        try:
            p = run_bounded(cmd, max(deadline - time.time(), 1), cwd=out, env=env,
                            stdout=logf, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail("engine run exceeded the deadline")
    if p.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.stderr.write(open(os.path.join(out, "harness.log")).read()[-4000:])
        fail(f"engine run failed (exit {p.returncode})")
    return json.load(open(os.path.join(out, "result.json")))


# ------------------------------------------------------------------ checks

def check_stream(data, passes_dirs):
    """Each replay's Q1/Q2 output must equal, as a multiset, a DuckDB
    interval join / anti-join over the same generated files. Returns the
    number of wrong outputs."""
    con = duckdb.connect()
    for s in ("displays", "clicks"):
        con.execute(f"""CREATE VIEW {s} AS SELECT key, value, epoch_us(ts) AS ts
            FROM read_parquet('{data}/{s}/*.parquet') WHERE key NOT LIKE '~sentinel%'""")
    w = int(gen.STREAM["window_s"] * 1e6)
    expected = {
        "q1": f"""SELECT c.key, '{{"display":' || d.value || ',"click":' || c.value || '}}' AS value,
                  c.ts FROM clicks c JOIN displays d
                  ON d.key = c.key AND d.ts >= c.ts - {w} AND d.ts <= c.ts""",
        "q2": f"""SELECT d.key, d.value, d.ts FROM displays d WHERE NOT EXISTS (
                  SELECT 1 FROM clicks c WHERE c.key = d.key
                  AND c.ts >= d.ts AND c.ts <= d.ts + {w})""",
    }
    wrong = 0
    for pdir in passes_dirs:
        for q, sql in expected.items():
            files = glob.glob(f"{pdir}/{q}/out/*.parquet")
            actual = (f"SELECT key, value, epoch_us(ts) AS ts FROM read_parquet({files!r})"
                      if files else "SELECT NULL::VARCHAR AS key, NULL::VARCHAR AS value, "
                                    "NULL::BIGINT AS ts WHERE false")
            diff = con.execute(f"""SELECT (SELECT count(*) FROM (({sql}) EXCEPT ALL ({actual})))
                                        + (SELECT count(*) FROM (({actual}) EXCEPT ALL ({sql})))""").fetchone()[0]
            if diff:
                log(f"WRONG {os.path.basename(pdir)} {q}: {diff} rows differ from the DuckDB reference")
                wrong += 1
    return wrong


def check_batch(check_dir, data, rows, deadline):
    """Rows of the checked pass against SparkEntry.oracleSql in DuckDB,
    compared by scripts/check_oracle.py. Returns the names of wrong rows."""
    try:
        p = run_bounded([sys.executable, ORACLE_CHECK, check_dir, data],
                        max(deadline - time.time(), 1),
                        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail("the oracle check exceeded the deadline")
    ok = set()
    for line in p.stdout.splitlines():
        if line.startswith("OK"):
            ok.add(line.split()[1].rstrip(":"))
        else:
            log(line)
    return set(rows) - ok


# --------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark, one run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.exists(ORACLE_CHECK):
        fail(f"oracle comparer not found at {ORACLE_CHECK}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(env)
    deadline = max(deadline, time.time() + DEADLINE_S)  # a fresh build does not eat the run's time

    wl = WORKLOADS[a.workload]
    cores = os.cpu_count() or 1
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out)
    t0 = time.time()
    if wl["stream"]:
        summary = gen.gen_stream(data, a.seed)
    else:
        summary = gen.gen_tables(data, a.seed, wl["sf"])
    gen_s = time.time() - t0
    log(f"inputs: {json.dumps(summary)}")

    res = run_harness(cp, env, a.workload, data, out, a.seconds, a.trace, cores,
                      wl.get("queries"), deadline - CHECK_S)
    passes = res["passes"]
    all_passes = res["warmup"] + passes
    if a.trace:
        all_passes += res["traced_passes"] + [res["scaling_pass"]]
    if wl["stream"]:
        dirs = sorted(glob.glob(os.path.join(out, "pass*")))
        attempted = 2 * len(dirs)  # each replay runs Q1 and Q2
        wrong = check_stream(data, dirs)
        dropped = sum(p["dropped_by_watermark"] for p in all_passes)
        if dropped:
            log(f"WRONG: {dropped} rows dropped by the watermark")
        failed = wrong + (attempted if dropped else 0)
        events_per_s = statistics.median(p["events"] / p["wall_s"] for p in passes)
        log(f"events_per_s={events_per_s:.1f} events_per_pass={passes[0]['events']}")
    else:
        attempted = len(wl["queries"]) * len(all_passes)
        wrong = check_batch(os.path.join(out, "check"), data, wl["queries"], deadline)
        failed = sum(len(wrong | set(p["failed"])) for p in all_passes)
    failed = min(failed, attempted)

    ops = [x for p in passes for x in p["ops_ms"]]
    log("pass wall s: warm-up " + " ".join(f"{p['wall_s']:.2f}" for p in res["warmup"]) +
        ", timed " + " ".join(f"{p['wall_s']:.2f}" for p in passes) +
        "; timed ops ms: " + " ".join(f"{x:.0f}" for x in ops))
    if a.trace:
        missing = [k for k, _ in PER_LAYER if k not in res["layers"]]
        if missing:
            fail(f"traced run did not report {missing}")
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {
            "pass_s": {"value": statistics.median(p["wall_s"] for p in passes), "unit": "s"},
            "op_p50_ms": {"value": statistics.median(ops), "unit": "ms"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
            "setup_s": {"value": gen_s + res["setup_jvm_s"], "unit": "s"},
        }
    log(f"passes={len(passes)} ops={len(ops)} op_max_ms={max(ops):.0f} "
        f"attempted={attempted} failed={failed}")
    if a.trace:  # keep the traced record: results/ holds committed copies
        keep = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.json", "spans.jsonl"):
            shutil.copy(os.path.join(out, f), keep)
        log(f"traced record: {keep}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
