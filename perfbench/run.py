#!/usr/bin/env python3
"""Pipeline benchmark: the `Cli simplify` call chain plus SQL, Cypher and
JSONL exports of its result, one closed-loop client, `local[4]`, a fresh
JVM and SparkSession per pipeline.

    python3 perfbench/run.py --workload simplify_customer --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run compiles the program's
sources and the benchmark's Scala main into `.bench_build/`. Every run
generates its inputs from `--seed`, starts pipelines while the next
should end within `--seconds` (at least one), checks every output,
prints one summary line per metric and then, as the last line, one JSON
object:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
they are per-layer, pipelines alternate between untraced and traced, and
the full trace is written to `.bench_build/trace/<workload>-seed<n>.json`.
See README.md for the workloads and metrics.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

CORES = 4
DEADLINE_S = 170.0  # one run's time limit, build excluded
MIN_SETUPS = 3  # fresh-JVM set-ups per run, for a median
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

WORKLOADS = {
    # load -> rewrite to fixpoint -> schema -> metrics -> SQL + Cypher + JSONL export
    "simplify_customer": dict(db="customerDb", customers=200, orders=False, rewrite=True, metrics=True),
    # load -> nodes -> schema -> SQL + Cypher + JSONL export, no rewrite, no metrics
    "load_export_orders": dict(db="ordersDb", customers=250, orders=True, rewrite=False, metrics=False),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME")
    return os.path.join(home, "jars", "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(jars):
    """Compile the program's sources and `scala/` with the Scala compiler
    that ships with Spark; reuse the classes while the sources are unchanged."""
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not program:
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    sources = program + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    digest = hashlib.sha256()
    for path in sources:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
                             "-d", tmp, "-classpath", jars, "@" + argfile],
                            stdout=out, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"compile failed (exit {rc}); log in {log}")
    os.rename(tmp, classes)
    return classes


# ---------------------------------------------------------------- one pipeline

class Iteration:
    """One fresh JVM: set-up time, and (unless set-up only) the pipeline's
    report and the names of failed output checks."""

    def __init__(self, setup_s=None, report=None, failures=(), seconds=0.0, bytes_out=0):
        self.setup_s, self.report, self.failures = setup_s, report, list(failures)
        self.seconds, self.bytes_out = seconds, bytes_out


def launch(classpath, wl, input_dir, work, trace, setup_only, timeout):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report_path = os.path.join(work, "report.json")
    # no perf-data file in the system temp directory
    cmd = [java(), f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--input", input_dir, "--out", os.path.join(work, "out"),
            "--report", report_path, "--db", wl["db"], "--rewrite", str(int(wl["rewrite"])),
            "--metrics", str(int(wl["metrics"])), "--trace", str(int(trace)), "--cores", str(CORES),
            "--scratch", os.path.join(work, "tmp"), "--setup-only", str(int(setup_only))]
    t0, setup_s = time.perf_counter(), None
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        watchdog = threading.Timer(max(1.0, timeout), proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if setup_s is None and line.strip() == "ready":
                    setup_s = time.perf_counter() - t0
            rc = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            proc.stdout.close()
    seconds = time.perf_counter() - t0
    if rc != 0 or setup_s is None:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(f"perfbench: JVM exit {rc} after {seconds:.1f} s\n{tail}\n")
        return Iteration(setup_s, None, ["jvm_exit"], seconds)
    if setup_only:
        return Iteration(setup_s, None, [], seconds)
    out = os.path.join(work, "out")
    try:
        with open(report_path) as f:
            report = json.load(f)
        failures = checks.check_outputs(wl, report, out, wl["relational"])
    except (OSError, ValueError, KeyError, TypeError) as e:  # a missing or malformed output
        return Iteration(setup_s, None, [f"unreadable_output:{type(e).__name__}"], seconds)
    bytes_out = sum(os.path.getsize(p) for d in ("sql", "jsonl")
                    for p in glob.glob(os.path.join(out, d, "**", "*"), recursive=True) if os.path.isfile(p))
    shutil.rmtree(out, ignore_errors=True)
    return Iteration(setup_s, report, failures, seconds, bytes_out)


# ---------------------------------------------------------------- a run

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(pipelines, setups):
    return {
        "setup_s": (median([it.setup_s for it in setups if it.setup_s is not None]), "s"),
        "pipeline_s": (median([it.report["pipeline_s"] for it in pipelines]), "s"),
        "peak_cached_mb": (median([it.report["peak_cached_bytes"] / spans.MB for it in pipelines]), "MB"),
    }


def per_layer(traced, untraced):
    """Median over traced pipelines of each per-layer metric, plus the
    tracing overhead."""
    rows = [dict(spans.layer_metrics(it.report, CORES), **{
        "sinks.bytes_out_mb": it.bytes_out / spans.MB,
        "trace.overhead_s": it.report["pipeline_s"] - median([u.report["pipeline_s"] for u in untraced]),
    }) for it in traced]
    return {k: (median([r[k] for r in rows]), spans.unit(k)) for k in spans.PER_LAYER}


def write_trace(name, seed, traced, untraced, metrics):
    """The traced run's artifact: every span with its self time, every job,
    and the per-layer metrics."""
    iterations = []
    for i, it in enumerate(traced):
        selfs = spans.self_times(it.report["spans"])
        run_id = f"{name}-seed{seed}-{i}"
        iterations.append({
            "run_id": run_id,
            "pipeline_s": it.report["pipeline_s"],
            "self_sum_s": sum(selfs.values()) / 1e3,
            "spans": [dict(s, run_id=run_id, self_s=selfs[s["id"]] / 1e3) for s in it.report["spans"]],
            "jobs": it.report["jobs"],
            "layers": spans.layer_metrics(it.report, CORES),
        })
    artifact = {
        "workload": name, "seed": seed, "cores": CORES,
        "untraced_pipeline_s": [it.report["pipeline_s"] for it in untraced],
        "traced_pipeline_s": [it.report["pipeline_s"] for it in traced],
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "iterations": iterations,
    }
    path = os.path.join(BUILD, "trace", f"{name}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    return path


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops and reaps its JVM (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classpath = os.pathsep.join([build(jars), jars])
    wl = dict(WORKLOADS[args.workload])
    work = os.path.join(BUILD, "work", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    wl["relational"] = checks.relational_counts(gen.generate(inputs, wl["customers"], wl["orders"], args.seed))

    start = time.perf_counter()
    elapsed = lambda: time.perf_counter() - start
    pipelines, setups, failures = [], [], []
    # closed loop, one client: the next pipeline starts when the last has
    # ended, if it should end within --seconds (at least one pipeline; a
    # traced run alternates untraced and traced pipelines and needs two)
    while True:
        traced = bool(args.trace) and len(pipelines) % 2 == 1
        it = launch(classpath, wl, inputs, os.path.join(work, f"it{len(pipelines)}"), traced, False,
                    DEADLINE_S - elapsed())
        pipelines.append((it, traced))
        setups.append(it)
        failures += it.failures
        if it.failures:
            print(f"perfbench: failed checks: {', '.join(it.failures)}", file=sys.stderr)
        wanted = args.seconds if not args.trace or len(pipelines) >= 2 else DEADLINE_S
        if elapsed() + it.seconds > min(wanted, DEADLINE_S):
            break
    # more fresh-JVM set-ups, so that setup_s is a median too
    while not args.trace and len(setups) < MIN_SETUPS and \
            elapsed() + 2 * (max(s.setup_s or 10.0 for s in setups) + 5.0) < DEADLINE_S:
        it = launch(classpath, wl, inputs, os.path.join(work, f"setup{len(setups)}"), False, True,
                    DEADLINE_S - elapsed())
        setups.append(it)
        failures += it.failures
    ok = [(it, t) for it, t in pipelines if not it.failures]
    if args.trace:
        traced = [it for it, t in ok if t]
        untraced = [it for it, t in ok if not t]
        metrics = per_layer(traced, untraced) if traced and untraced else {}
        if metrics:
            print(f"perfbench: trace written to {write_trace(args.workload, args.seed, traced, untraced, metrics)}",
                  file=sys.stderr)
    else:
        metrics = end_to_end([it for it, _ in ok], setups) if ok else {}
    attempted = len(pipelines)
    failed = sum(1 for it, _ in pipelines if it.failures)
    shutil.rmtree(work, ignore_errors=True)

    print(f"{args.workload} seed={args.seed} setup samples: "
          + " ".join(f"{s.setup_s:.3f}" for s in setups if s.setup_s), file=sys.stderr)
    for k, (v, unit) in metrics.items():
        print(f"{args.workload} seed={args.seed} {k}={v:.6g} {unit}")
    print(f"{args.workload} seed={args.seed} error_rate={failed / attempted:.6g} ({failed}/{attempted} pipelines)"
          + (f" failed checks: {', '.join(sorted(set(failures)))}" if failures else ""))
    print(json.dumps({
        "correct": failed == 0 and not failures and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
