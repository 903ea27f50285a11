#!/usr/bin/env python3
"""The repo's benchmark: seeded, closed-loop workloads over the engine's
public API, each result consumed the way its user consumes it and checked
against a DuckDB oracle (or the batch twin) after timing.

Usage (from the repository root):
  python3 perfbench/run.py --workload dashboard_sql --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs half the time
untraced and half with spans and listeners on, and prints the per-layer
metrics plus the tracing overhead. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the lines before it print the
same figures (and the workload-specific ones) by name with units.

The first run in a checkout compiles the engine and the harness with sbt
(offline) into perfbench/target; later runs reuse that build while the
sources are unchanged. See perfbench/README.md for workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("dashboard_sql", "web_ingest_stream")
GEN_REPS = 3          # set-up is repeated this often; setup_s uses the median
RUN_BUDGET_S = 170    # whole invocation, build excluded
RECONCILE_TOLERANCE = 0.02  # trace.reconcile_err above this makes the run incorrect
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = ("setup_s", "op_p50_ms", "ops_per_s")
UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "rss_peak_mb": "MB",
         "rows_per_s": "1/s", "queries_per_s": "1/s", "failed_ratio": "ratio"}

KERNELS = ("simhash64", "minhash_sig", "word_gram_hashes", "winnow_fingerprint",
           "hyperplane_sig", "dot_product", "sorted_intersect_count", "html_extract")
BUILTIN_KERNELS = ("minhash_sig", "word_gram_hashes", "dot_product", "sorted_intersect_count")
PER_LAYER = (
    [("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
     ("catalyst.planning_ms", "ms"), ("catalyst.actions", "count"),
     ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.job_busy_s", "s"),
     ("spark.driver_gap_s", "s"), ("spark.task_cpu_s", "s"), ("spark.task_gc_s", "s"),
     ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
     ("spark.spill_mb", "MB"), ("tables.frame_ms", "ms"),
     ("sources.csv_read_ms", "ms"), ("sources.sink_ms", "ms"),
     ("sources.files_written", "count"), ("sources.mb_written", "MB"),
     ("sources.write_amp", "ratio"), ("etl.build_ms", "ms"),
     ("analytics.tile_ms", "ms"), ("analytics.sql_ms", "ms"),
     ("analytics.cache_build_ms", "ms"), ("analytics.cached_plan_ratio", "ratio"),
     ("operators.minhash_lsh_ms", "ms"), ("operators.connected_components_ms", "ms"),
     ("operators.decontaminate_ms", "ms"), ("operators.strip_frequent_lines_ms", "ms"),
     ("operators.stratified_select_ms", "ms"), ("operators.lsh_pair_yield", "ratio"),
     ("operators.cap_dropped_rows", "count")]
    + [(f"functions.{k}_rows_per_s", "1/s") for k in KERNELS]
    + [(f"functions.{k}_builtin_rows_per_s", "1/s") for k in BUILTIN_KERNELS]
    + [("streaming.planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
       ("streaming.wal_commit_ms", "ms"), ("streaming.state_rows", "count"),
       ("streaming.state_mb", "MB"),
       ("trace.overhead_ms", "ms"), ("trace.overhead_share", "ratio"),
       ("trace.reconcile_err", "ratio")])


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ stats

def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest of p99/p95/p90 with at least ten samples beyond it, or
    None when n is too small for any (fewer than 100 samples)."""
    for q in (0.99, 0.95, 0.90):
        if n * (1.0 - q) >= 10.0 - 1e-9:
            return q
    return None


def end_to_end(ops, failed_ops, rows_per_op, setup_s, rss_mb):
    """End-to-end figures of one run. `ops` are the timed op records;
    ops in `failed_ops` (exception or oracle mismatch) count as failed
    and are left out of the latency sample."""
    failed = {o["op"] for o in ops if not o["ok"]} | set(failed_ops)
    good = [o["ms"] for o in ops if o["op"] not in failed]
    wall_s = sum(o["ms"] for o in ops) / 1000.0
    n = len(ops)
    fig = {"setup_s": setup_s,
           "op_p50_ms": statistics.median(good) if good else float("nan"),
           "ops_per_s": n / wall_s if wall_s > 0 else float("nan"),
           "rows_per_s": rows_per_op * n / wall_s if wall_s > 0 else float("nan"),
           "rss_peak_mb": rss_mb,
           "failed_ratio": len(failed) / n if n else 1.0,
           "samples": len(good), "attempted": n, "failed": len(failed)}
    q = tail_percentile(len(good))
    if q is not None:
        fig[f"op_p{int(round(q * 100))}_ms"] = percentile(good, q)
    return fig


# ------------------------------------------------------------------ build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return home
    exe = shutil.which("spark-submit")
    if exe:
        return os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    return None


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    cp_file = os.path.join(HERE, "target", "bench-classpath.json")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    cps = [ln.strip() for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln]
    if proc.returncode != 0 or not cps:
        log(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("build failed")
    log(f"built engine + harness in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


# ------------------------------------------------------------------- run

def run_jvm(classpath, workload, data, work, seconds, trace, deadline):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = ([java, f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload, "--data", data,
              "--work", work, "--seconds", str(seconds), "--trace", str(trace),
              "--cpus", str(os.cpu_count() or 4), "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        try:
            subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, check=True,
                           timeout=max(10.0, deadline - time.time()))
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
            with open(os.path.join(work, "jvm.log")) as f:
                log(f.read()[-6000:])
            raise SystemExit(f"benchmark JVM failed: {e}")
    with open(out) as f:
        return json.load(f)


def oracle_pass(workload, data, result):
    """Op ids whose result failed the oracle, and whether a warm-up
    micro-batch (not a timed op) failed it."""
    import oracle
    if workload == "dashboard_sql":
        return oracle.check_dashboard(data, result["manifest"], result["oracle_sql"], log), False
    return oracle.check_web(result["manifest"], log)


def rows_per_op(workload, gen_stats):
    """Input rows one op consumes: pages per micro-batch; a dashboard
    request reads whole tables, so its 'row' is the request itself."""
    return gen_stats["pages"]["pages_per_batch"] if workload == "web_ingest_stream" else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found next to perfbench/")
    if not spark_home():
        raise SystemExit("no Spark installation found (SPARK_HOME or spark-submit)")
    classpath = build()
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S

    import gen
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen_s = []
    for _ in range(GEN_REPS):
        t0 = time.time()
        gen_stats = gen.generate(args.workload, data, args.seed)
        gen_s.append(time.time() - t0)

    rows = rows_per_op(args.workload, gen_stats)
    result = run_jvm(classpath, args.workload, data, work, args.seconds, args.trace,
                     deadline)
    setup_s = (statistics.median(gen_s) + result["session_s"] + result["derived_setup_s"]
               + result["warmup_s"])
    ops = result["ops"]
    bad, warm_bad = oracle_pass(args.workload, data, result)
    errors = [o["err"] for o in ops if not o["ok"]]
    if errors:
        log(f"{len(errors)} ops raised, e.g. {errors[0]}")
    fig = end_to_end(ops, bad, rows, setup_s, result["rss_peak_mb"])
    correct = fig["failed"] == 0 and not warm_bad

    if args.trace == 0:
        metrics = {k: {"value": fig[k], "unit": UNITS[k]} for k in END_TO_END}
        shown = ["setup_s"] + (["queries_per_s"] if args.workload == "dashboard_sql"
                               else ["rows_per_s"]) + ["op_p50_ms"] \
            + [k for k in fig if k.startswith("op_p") and k != "op_p50_ms"] \
            + ["failed_ratio", "rss_peak_mb"]
        fig["queries_per_s"] = fig["ops_per_s"]
        print(f"{args.workload} seed={args.seed} sizes={json.dumps(gen_stats)}")
        for k in shown:
            extra = f" (n={fig['samples']})" if k.startswith("op_p") else ""
            extra += f" ({fig['failed']}/{fig['attempted']})" if k == "failed_ratio" else ""
            print(f"  {k} = {fig[k]:.6g} {UNITS.get(k, 'ms')}{extra}")
    else:
        plain = [o["ms"] for o in ops[:result["plain_ops"]] if o["ok"]]
        traced = [o["ms"] for o in ops[result["plain_ops"]:] if o["ok"]]
        layers = dict(result["layers"])
        if plain and traced:
            over = statistics.median(traced) - statistics.median(plain)
            layers["trace.overhead_ms"] = over
            layers["trace.overhead_share"] = over / statistics.median(plain)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
        if layers["trace.reconcile_err"] > RECONCILE_TOLERANCE:
            correct = False
            log("trace does not reconcile: jobs or phases that no single op holds "
                f"take {layers['trace.reconcile_err']:.3f} of the traced ops' wall")
        print(f"{args.workload} seed={args.seed} traced ops={len(traced)} "
              f"untraced ops={len(plain)} spans={result['spans']}")
        for k, u in PER_LAYER:
            print(f"  {k} = {metrics[k]['value']:.6g} {u}")
    print(json.dumps({"correct": correct, "attempted": fig["attempted"],
                      "failed": fig["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
