#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload sync_tick --seed 1 --seconds 20 --trace 0

Builds the engine (src/main/scala) and the benchmark's Scala workloads
(perfbench/src) from source with the Scala compiler that ships in the
Spark distribution, runs the workload in a fresh per-run work directory
(data, stores, sinks, artifact index, Spark scratch), deletes that
directory, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The exit code is non-zero when a correctness check fails or an
operation fails. `python3 perfbench/run.py --write-benchmark-json`
regenerates BENCHMARK.json from the catalogue below.
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

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_SECONDS = 12
JVM_TIMEOUT_S = 170

WORKLOADS = [
    ("sync_tick", "Daemon.tick over a DSv2 spec and a day-partitioned spec: the paper's "
                  "LWW loop, write-heavy full-snapshot rewrites; dedup/similarity/artifact "
                  "code idle"),
    ("accept_ingest", "exact + near-dup accept batches with 25% re-offers and planted "
                      "near copies: artifact-store and dedup-screen write side; sync path idle"),
    ("query_mix", "9 registered queries over every operator module as warm passes: "
                  "read-only artifact serves; sync and ingest write paths idle"),
]

# (name, unit, better, bound) -- every run with --trace 0 prints all of them.
# What one "op" is depends on the workload; see perfbench/README.md.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("round_s", "s", "lower", 0.25),
    ("geomean_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
]

QUERIES = ["q57_triangle_count", "q44_market_basket", "q48_waiting_supplier",
           "d20_stored_band_probe", "v16_ivfpq", "t13_batch_search", "m7_phash_wide",
           "c10_stored_quantiles", "a1_lww_latest"]
MODULES = ["operators", "plans", "dedup", "similarity", "functions", "multimodal", "sketch",
           "core"]


def _per_layer():
    m = []
    # sync_tick, per traced tick
    for spec in ("dsv2", "daypart"):
        m += [("operators.sync_run_s." + spec, "s"), ("operators.sync_self_s." + spec, "s")]
    m += [("sources.read_s", "s"), ("sources.prepare_s", "s"), ("sources.commit_s", "s"),
          ("core.watermark_s", "s"), ("operators.window_rows", "count"),
          ("operators.jobs", "count"), ("operators.stages", "count"),
          ("operators.tasks", "count"), ("operators.shuffle_bytes", "bytes"),
          ("operators.spill_bytes", "bytes"), ("operators.output_bytes", "bytes"),
          ("operators.driver_gap_s", "s"),
          ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
          ("sources.bytes_written_per_window_row", "bytes/row")]
    # accept_ingest, per traced batch and mode
    for mode in ("exact", "near"):
        m += [("streaming.jobs." + mode, "count"), ("streaming.stages." + mode, "count"),
              ("streaming.tasks." + mode, "count"), ("streaming.spill_bytes." + mode, "bytes"),
              ("streaming.shuffle_bytes." + mode, "bytes"),
              ("streaming.output_bytes." + mode, "bytes"),
              ("streaming.driver_gap_s." + mode, "s")]
    m += [("sources.maint_folds", "count"), ("sources.fold_s", "s"), ("sources.fold_max_s", "s"),
          ("sources.maint_queue_peak", "count"), ("sources.maint_failed", "count"),
          ("sources.artifact_bytes_per_accepted_byte", "ratio"),
          ("dedup.exact_drop_ratio", "ratio"), ("dedup.near_planted_recall", "ratio"),
          ("dedup.near_false_drop_ratio", "ratio"), ("accept.drain_s", "s")]
    # query_mix
    m += [("queries.%s_s" % q, "s") for q in QUERIES]
    m += [("%s.mix_s" % mod, "s") for mod in MODULES]
    for mod in MODULES:
        m += [("%s.mix_jobs" % mod, "count"), ("%s.mix_shuffle_bytes" % mod, "bytes"),
              ("%s.mix_driver_gap_s" % mod, "s")]
    m += [("sources.artifact_build_s", "s")]
    # every traced run
    m += [("trace_overhead_ratio", "ratio"), ("host.loadavg_start", "load"),
          ("host.loadavg_end", "load"), ("host.calibration_s", "s")]
    return m


PER_LAYER = _per_layer()
HIGHER_IS_BETTER = {"dedup.near_planted_recall", "items_per_s"}


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if n in HIGHER_IS_BETTER else "lower"}
                      for n, u in PER_LAYER],
    }


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of a Spark distribution that ships a Scala compiler:
    $SPARK_HOME, else the first `spark-submit` on PATH that belongs to one."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("engine sources not found under %s/src/main/scala" % ROOT)
    return main, bench


def build(jars):
    """Compile engine + benchmark into .bench_build/<source hash>/ once."""
    main, bench = sources()
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(ROOT, ".bench_build", "perfbench-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(tmp, "classes"),
           "-classpath", cp] + main + bench
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 3)
    with open(os.path.join(tmp, "ok"), "w") as fh:
        fh.write("%.1f\n" % (time.time() - t0))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return out


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap():
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return "%dg" % max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(args, out, jars, work):
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    env.pop("SPARK_GRAFT_CPUS", None)
    # a fixed heap and young generation keep the resident set a
    # function of the live data, not of heap-resizing decisions
    cmd = (["java", "-Xms" + heap(), "-Xmx" + heap(), "-Xmn768m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-cp", os.pathsep.join([os.path.join(out, "classes"),
                                    os.path.join(ROOT, "src/main/resources"),
                                    os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--size", args.size])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
                             cwd=work)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stdout = ""
            print("perfbench: JVM timed out after %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    sys.stdout.write(stdout)
    with open(log) as fh:
        text = fh.read()
    if p.returncode != 0:
        sys.stderr.write(text[-6000:])
    else:
        sys.stderr.write("".join(l for l in text.splitlines(True) if l.startswith("[perfbench]")))
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[w for w, _ in WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: smoke-test inputs (seconds, not minutes)")
    ap.add_argument("--spans", help="copy the traced run's spans (JSON lines) here")
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args()
    if args.write_benchmark_json:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(benchmark_json(), fh, indent=2)
            fh.write("\n")
        return 0
    if not args.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    out = build(jars)
    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(args, out, jars, work)
        if res is not None and args.spans and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copyfile(os.path.join(work, "spans.jsonl"), args.spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if res is None:
        fail("the workload produced no result", 1)

    src = res["layer"] if args.trace else res["e2e"]
    wanted = PER_LAYER if args.trace else [(n, u) for n, u, _, _ in END_TO_END]
    # a layer this workload does not exercise did no work: 0
    metrics = {n: src.get(n, {"value": 0, "unit": u}) for n, u in wanted}
    correct = bool(res["correct"])
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
