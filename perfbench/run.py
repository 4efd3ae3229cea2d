#!/usr/bin/env python3
"""Benchmark runner for the search engine.

Builds the engine and the JVM harness from source (scalac from the Spark
distribution; no sbt), generates the workload's inputs from the seed, runs
one workload in a fresh JVM with fresh temporary directories, checks every
output, and prints one JSON result as the last line of standard output.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 15 --trace 0

With --trace 0 the result carries the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full record of a run (context,
samples, every metric, failures) is printed on the line before and kept
under the build directory's results/. Build output and run files go to
$CARGO_TARGET_DIR if set, else .bench_build, inside the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_LIMIT_S = 170   # a run (excluding the build) must end before this
BUILD_LIMIT_S = 700
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else pyspark's."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            import pyspark
        except ImportError:
            raise BenchError("set SPARK_HOME to a Spark 4 distribution")
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")) or \
            not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BenchError("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(out, jars):
    """Compiles the program and the harness once per source digest."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()[:16]
    classes = os.path.join(out, "classes-" + digest)
    if os.path.exists(os.path.join(classes, ".built")):
        return classes, digest
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-classpath", cp] + files,
            stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        raise BenchError(f"build failed (exit {rc}); see {log}")
    open(os.path.join(classes, ".built"), "w").close()
    return classes, digest


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cmd, log, limit_s):
    """Runs the harness JVM and returns the wall-clock time it was launched."""
    with open(log, "w") as fh:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"run exceeded {limit_s:.0f} s; see {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"harness exited {rc}; see {log}")
    return launched


def latest_untraced(results, workload, seed, seconds, digest):
    """The newest untraced record of the workload with the same sources and
    length, same seed preferred."""
    best = None
    for p in glob.glob(os.path.join(results, f"{workload}-s*-t0.json")):
        with open(p) as fh:
            rec = json.load(fh)
        if rec.get("source_digest") != digest or rec.get("seconds") != seconds:
            continue
        key = (rec["seed"] == seed, os.path.getmtime(p))
        if best is None or key > best[0]:
            best = (key, rec)
    return best[1] if best else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    load_start = os.getloadavg()
    jars = spark_jars()
    sources()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classes, digest = build(out, jars)
    started = time.time()

    runs = os.path.join(out, "runs")
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(runs, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))

    try:
        plan = gen.plan(args.workload, args.seed, args.seconds)
    except ValueError as e:
        raise BenchError(str(e))
    if args.workload == "batch_pipeline":
        with open(os.path.join(HERE, "pins.json")) as fh:
            plan["pins"] = json.load(fh)
    with open(os.path.join(run_dir, "plan.json"), "w") as fh:
        fh.write(gen.dumps(plan))

    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(results, tag + ".spans.jsonl")
    cmd = (["java"] + [a for o in ADD_OPENS for a in ("--add-opens", o)] +
           ["-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--plan", os.path.join(run_dir, "plan.json"), "--data", os.path.join(HERE, "data"),
            "--work", work, "--trace", str(args.trace),
            "--out", result_path, "--spans", spans_path])
    try:
        launched = run_jvm(cmd, os.path.join(run_dir, "jvm.log"),
                           RUN_LIMIT_S - (time.time() - started))
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # set-up is the cold path: from the JVM's launch to the end of the
    # workload's set-up, as the harness stamps it on the same wall clock
    res["metrics"]["setup_s"] = res["setup_done_epoch_s"] - launched

    values = dict(res["metrics"])
    values.update(res["layers"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing, not_called = {}, [], []
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            if not args.trace:
                missing.append(m["name"])
                continue
            v = 0.0  # a layer this workload never calls: 0 jobs, 0 s
            not_called.append(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = res["failed"] == 0 and not missing

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sf": "0.1", "nproc": os.cpu_count(),
        "commit": commit(), "source_digest": digest,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "error_ratio": res["failed"] / max(1, res["attempted"]),
        "errors": res["errors"], "missing": missing, "layers_not_called": not_called,
        "metrics": res["metrics"], "layers": res["layers"],
        "samples": res["samples"], "phases": res["phases"], "notes": res["notes"],
    }
    if args.trace:
        base = latest_untraced(results, args.workload, args.seed, args.seconds, digest)
        if base:
            record["tracing_overhead"] = {
                m["name"]: res["metrics"][m["name"]] - base["metrics"][m["name"]]
                for m in spec["end_to_end"]
                if res["metrics"].get(m["name"]) is not None
                and base["metrics"].get(m["name"]) is not None}
            record["tracing_overhead_base_seed"] = base["seed"]
        else:
            record["tracing_overhead"] = None
            record["tracing_overhead_missing"] = (
                f"no untraced {args.workload} run of sources {digest} at "
                f"--seconds {args.seconds} in {results}")
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump(record, fh, sort_keys=True)
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)
