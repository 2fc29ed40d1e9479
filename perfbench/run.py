#!/usr/bin/env python3
"""The engine's benchmark: one command per workload run.

    python3 perfbench/run.py --workload clinical|battery|writes \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program from source with
the repository's own sbt build (once per checkout), builds the harness
in perfbench/harness against it, generates the seeded inputs (cached),
starts one JVM with `java -cp` to run the workload, checks every op's
output with DuckDB, and prints one JSON line last: the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). See
perfbench/README.md for the workloads and every metric.

One more option serves reports: --save DIR keeps the run's result,
metrics and spans in DIR (perfbench/results holds such runs).
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")

CLINICAL_USERS = 1000
TABLES_SEED = 42
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Warm passes per run: the window lasts --seconds, and at least this many.
MIN_WARM = {"clinical": 4, "battery": 7, "writes": 4}

# The committed clinical goldens; each run checks one, chosen by seed,
# because each costs two seconds of first-call planning.
GOLDENS = ["default_week", "male_u18_week", "female_month", "clinic_cohort"]

# Per-module metric names are fixed by BENCHMARK.json: one pair per
# SparkEntry.modules entry.
MODULES = ["Relational", "Joins", "Shapes", "WindowsQ", "Clinical", "EventsQ", "TextQ",
           "CurationQ", "RetrievalQ", "EvalQ", "VectorQ", "MediaQ", "AdvancedQ",
           "SummaryQ", "SketchQ", "StreamQ", "SinkQ"]

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("op_p50_s", "s"),
              ("op_p90_s", "s"), ("rows_per_s", "rows/s"), ("cpu_s", "s"),
              ("peak_rss_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def run_proc(cmd, timeout, env=None, cwd=None, stdout=None, stderr=None):
    """Run a command in its own process group; kill the group on timeout
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


# ---------------------------------------------------------------- build

def _tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(base)
                           for f in fs if "target" not in d.split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _sbt_classpath(cwd, env, log_path):
    with open(log_path, "w") as lf:
        code, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                             BUILD_TIMEOUT_S, env=env, cwd=cwd, stdout=subprocess.PIPE,
                             stderr=lf)
    text = out.decode(errors="replace")
    with open(log_path, "a") as lf:
        lf.write(text)
    lines = [ln for ln in text.splitlines() if ln.startswith("/")]
    if code != 0 or not lines:
        fail(f"sbt build in {cwd} failed (exit {code}); see {log_path}")
    return lines[-1].strip()


def build():
    """Compile the program and the harness once per source state; return
    the harness's runtime classpath."""
    stamp = _tree_hash([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                        os.path.join(ROOT, "src", "main"), HARNESS])
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.insert(1, f"-Dsbt.repository.config={repos}")
    env.setdefault("SBT_OPTS", " ".join(opts))
    t0 = time.time()
    log("building the program (sbt, repository build) ...")
    program_cp = _sbt_classpath(ROOT, env, os.path.join(WORK, "build-program.log"))
    env["PERFBENCH_PROGRAM_CP"] = program_cp
    log("building the harness ...")
    cp = _sbt_classpath(HARNESS, env, os.path.join(WORK, "build-harness.log"))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ----------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generate (or reuse) the workload's inputs; return (dir, input rows,
    input bytes). Generation is outside every timed window."""
    import gen
    data = os.path.join(WORK, "data")
    os.makedirs(data, exist_ok=True)
    if workload == "clinical":
        d = os.path.join(data, f"clinical-s{seed}-u{CLINICAL_USERS}")
        if not os.path.exists(d):
            log(f"generating clinical CSVs: seed {seed}, {CLINICAL_USERS} users ...")
            gen.clinical(d, seed, CLINICAL_USERS)
        with open(os.path.join(d, "weights.csv")) as f:
            rows = sum(1 for _ in f) - 1
    else:
        d = os.path.join(data, f"tables-s{TABLES_SEED}")
        if not os.path.exists(d):
            log("generating sf0.01-shaped tables ...")
            gen.tables(d, TABLES_SEED)
        rows = gen.TABLE_ROWS
    size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    return d, rows, size


# -------------------------------------------------------------------- run

def jvm(cp, run_dir, args):
    """Start the harness JVM; return (launch epoch s, result dict)."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            # keep every file the JVM writes inside the checkout: no
            # hsperfdata in /tmp, temp files in the run directory
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graft.perfbench.Main", f"out={run_dir}"] + args
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "ab") as lf:
        code, _ = run_proc(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=lf, stderr=lf)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"harness JVM exited with {code}; see {os.path.join(run_dir, 'jvm.log')}")
    with open(result_path) as f:
        result = json.load(f)
    os.remove(result_path)
    return t0, result


def med(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    # inclusive: interpolate inside the samples; the default method
    # extrapolates past the largest one when there are fewer than ten
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) >= 2 \
        else (xs[0] if xs else 0.0)


def end_to_end(res, setup_s, rows, n_ops):
    passes = res["passes"]
    cold, warm = passes[0], passes[1:]
    # one warm pass as the sum of each op's median warm latency: a slow
    # outlier call moves its own op's median, not a whole pass
    by_op = {}
    for p in warm:
        for o in p["ops"]:
            if o["error"] is None:
                by_op.setdefault(o["name"], []).append(o["s"])
    warm_s = sum(med(v) for v in by_op.values())
    lat = [s for v in by_op.values() for s in v]
    return {
        "setup_s": setup_s,
        "cold_s": cold["wall_s"],
        "warm_s": warm_s,
        "op_p50_s": med(lat),
        "op_p90_s": p90(lat),
        "rows_per_s": rows * n_ops / warm_s,
        "cpu_s": med([p["cpu_s"] for p in warm]),
        "peak_rss_mb": res["jvm"]["rss_peak_mb"],
    }, len(lat)


def per_layer(res, setup, cores, input_bytes):
    passes = res["passes"]
    cold, warm = passes[0], passes[1:]

    def wmed(key):
        return med([p.get(key, 0) for p in warm])
    mb = 1024.0 * 1024.0
    m = {}
    for k in ("load_s", "join_s", "sort_s", "metrics_s", "full_s"):
        m[f"clinical.{k}"] = res["stages"].get(k, 0.0)
    last = passes[-1]
    for k in ("sorts", "exchanges", "windows", "filter_below_windows"):
        m[f"plan.{k}"] = last.get(k, 0)
    m["catalyst.build_s"] = cold.get("build_s", 0.0)
    m["catalyst.optimize_s"] = cold.get("optimize_s", 0.0)
    m["catalyst.plan_s"] = cold.get("plan_s", 0.0)
    m["catalyst.warm_build_s"] = wmed("build_s")
    m["catalyst.warm_optimize_s"] = wmed("optimize_s")
    m["catalyst.warm_plan_s"] = wmed("plan_s")
    m["execute.cold_s"] = cold.get("execute_s", 0.0)
    m["execute.warm_s"] = wmed("execute_s")
    m["codegen.compiles"] = cold["codegen_compiles"]
    m["codegen.compile_s"] = cold["codegen_s"]
    m["codegen.warm_compiles"] = wmed("codegen_compiles")
    m["codegen.stages"] = last.get("codegen_stages", 0)
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = wmed(k)
    m["exec.task_s"] = wmed("task_s")
    m["exec.scheduler_delay_s"] = wmed("sched_delay_s")
    m["exec.busy_frac"] = med([p.get("task_s", 0) / (p["wall_s"] * cores) for p in warm])
    m["exec.shuffle_write_mb"] = wmed("shuffle_write_b") / mb
    m["exec.shuffle_read_mb"] = wmed("shuffle_read_b") / mb
    m["exec.spill_mb"] = wmed("spill_b") / mb
    m["io.read_mb"] = wmed("io_read_b") / mb
    m["io.write_mb"] = wmed("io_write_b") / mb
    m["io.write_amp"] = wmed("io_write_b") / input_bytes
    m["io.cold_write_mb"] = cold["io_write_b"] / mb
    m["snapshots.segment_reads"] = wmed("segment_reads")
    m["snapshots.footer_reads"] = wmed("footer_reads")
    batch_ms = [b for p in warm for b in p.get("stream_batch_ms", [])]
    m["stream.batches"] = wmed("stream_batches")
    m["stream.batch_p50_ms"] = med(batch_ms)
    m["stream.add_batch_s"] = wmed("stream_add_batch_s")
    m["stream.wal_commit_s"] = wmed("stream_wal_commit_s")
    m["stream.commit_offsets_s"] = wmed("stream_commit_offsets_s")
    m["stream.state_rows"] = wmed("stream_state_rows")
    for mod in MODULES:
        def total(p):
            return sum(o["s"] for o in p["ops"] if o["module"] == mod)
        m[f"module.{mod}.cold_s"] = total(cold)
        m[f"module.{mod}.warm_s"] = med([total(p) for p in warm])
    m["jvm.gc_s"] = res["jvm"]["gc_s"]
    m["jvm.jit_s"] = res["jvm"]["jit_s"]
    m["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    m["setup.jvm_s"] = setup["jvm_s"]
    m["setup.session_s"] = setup["session_s"]
    m["setup.inputs_s"] = setup["inputs_s"]
    return m


def check(workload, res, run_dir, data_dir):
    import check as chk
    out = os.path.join(run_dir, "check")
    cache = os.path.join(WORK, "expected")
    tmp = os.path.join(run_dir, "tmp")
    bad = dict(res["check"])  # ops whose check pass raised
    todo = {n: e for n, e in res["expected"].items() if n not in bad}
    if workload == "clinical":
        bad.update(chk.clinical(out, data_dir, todo, cache, tmp))
        bad.update({f"golden:{g}": p for g, p in res["goldens"].items() if p})
    else:
        bad.update(chk.registry(out, data_dir, todo, cache, tmp))
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["clinical", "battery", "writes"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", default=None)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source here ({need} is missing): nothing to benchmark")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are needed to build and run the program")

    cp = build()
    sys.path.insert(0, HERE)
    data_dir, rows, input_bytes = inputs(a.workload, a.seed)
    cores = min(4, os.cpu_count() or 1)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        common = [f"workload={a.workload}", f"data={data_dir}", f"cores={cores}",
                  f"seed={a.seed}"]
        common.append(f"ops={os.path.join(HERE, a.workload + '.ops')}")
        if a.workload == "clinical":
            common += [f"fixtures={os.path.join(ROOT, 'fixtures', 'clinical')}",
                       f"goldens={GOLDENS[a.seed % len(GOLDENS)]}"]
        launched, res = jvm(cp, run_dir, common + [
            f"seconds={a.seconds}", f"trace={a.trace}", f"min_warm={MIN_WARM[a.workload]}"])
        setup = dict(res["setup"], jvm_s=res["setup"]["entry_ms"] / 1e3 - launched,
                     total_s=res["setup"]["ready_ms"] / 1e3 - launched)

        t_check = time.time()
        bad = check(a.workload, res, run_dir, data_dir)
        n_ops = len(res["expected"])
        t_check = time.time() - t_check
        calls = [o for p in res["passes"] for o in p["ops"]]
        raised = [o for o in calls if o["error"] is not None]
        for o in raised[:5]:
            log(f"op {o['name']} failed: {o['error']}")
        for n, why in bad.items():
            log(f"wrong output: {n}: {why}")
        attempted = len(calls) + n_ops + len(res["goldens"])
        failed = len(raised) + len(bad)

        e2e, samples = end_to_end(res, setup["total_s"], rows, n_ops)
        log(f"{a.workload}: {len(res['passes'])} passes of {n_ops} ops, "
            f"{samples} warm op samples; pass walls "
            f"{[round(p['wall_s'], 2) for p in res['passes']]} s; untimed "
            f"{ {k: round(v, 1) for k, v in res['untimed_s'].items()} } s in the JVM, "
            f"{t_check:.1f} s checking")
        if a.trace:
            metrics = per_layer(res, setup, cores, input_bytes)
            units = {}
        else:
            metrics = e2e
            units = dict(END_TO_END)
        out = {"correct": not bad and not raised, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": v, "unit": units.get(k, unit_of(k))}
                           for k, v in metrics.items()}}
        if a.save:
            os.makedirs(a.save, exist_ok=True)
            tag = f"{a.workload}{'.trace' if a.trace else ''}"
            with open(os.path.join(a.save, f"{tag}.json"), "w") as f:
                json.dump({"args": vars(a), "cores": cores, "input_rows": rows,
                           "clinical_users": CLINICAL_USERS,
                           "end_to_end": e2e, "warm_op_samples": samples,
                           "result": out, "raw": res}, f, indent=1)
            spans = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(a.save, f"{a.workload}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
