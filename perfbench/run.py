#!/usr/bin/env python3
"""Cold end-to-end benchmark of the engine: reads and the yark write path.

    python3 perfbench/run.py --workload <scan_base50|fixpoint|ingest>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --validate

Run from the repository root. The first run builds the harness (and the
engine, from this checkout's sources) with sbt; later runs reuse the build
while no source changed. Each run starts its own JVM with local[nproc].

--trace 0 measures the end-to-end metrics; --trace 1 adds spans and Spark
listeners and reports per-layer metrics plus the tracing overhead. Every
metric is printed as `metric <name> <value> <unit>`, then the last line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. The exit
code is 1 when any output was wrong.

--validate runs graft.Verify and tools/check.py (the repository's oracle
gate) over the benchmark data for every read query and, if all agree with
their DuckDB oracle SQL, records the result fingerprints that every read
run is checked against (perfbench/fingerprints.json).

See perfbench/NOTES.md for what each workload and metric is for.
"""
import argparse
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
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("scan_base50", "fixpoint", "ingest")
TIMEOUT_S = 165        # one harness JVM, build excluded
HEAP = "3g"

# the end-to-end metrics of every workload (BENCHMARK.json `end_to_end`)
END_TO_END = ["setup_s", "pass_s", "op_ms.p50"]
# the per-layer metrics of every workload (BENCHMARK.json `per_layer`)
PER_LAYER = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures",
             "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
             "spark.spill_bytes", "spark.input_bytes", "spark.gc_s",
             "spark.busy_share", "operators.checkpoints",
             "operators.checkpoints_live_after", "trace.overhead.pass_s"]

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt uses the same)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt (offline) and returns the runtime
    classpath; reuses it while no source changed."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (build.sbt, src/main/scala/graft) not found; "
             "run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = _sources_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- harness

def launch(cp, workload, seed, seconds, trace, work):
    """Runs one harness JVM; returns (its result dict, launch epoch s)."""
    os.makedirs(work, exist_ok=True)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds",
           str(seconds), "--trace", "1" if trace else "0", "--data", DATA,
           "--work", work]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log_path = os.path.join(work, "harness.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload}: harness JVM timed out after {TIMEOUT_S} s")
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    res = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            res = json.loads(line[len("PERFBENCH_RESULT "):])
    if res is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"{workload}: harness JVM exited {p.returncode} without a result")
    return res, t0


# ---------------------------------------------------------------- checks

def _data_digest():
    h = {}
    for t in TABLES:
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as f:
            h[t] = hashlib.sha256(f.read()).hexdigest()
    return h


def check_fingerprints(res):
    """Every execution's fingerprint must equal the validated one.
    Returns (checked executions, wrong executions, messages)."""
    want = json.load(open(FINGERPRINTS))
    msgs = []
    if want.get("data") != _data_digest():
        msgs.append("benchmark data differs from the data fingerprints were "
                    "validated on")
    got = json.loads(res["notes"].get("fingerprints", "{}"))
    checked = wrong = 0
    for q, prints in got.items():
        for fp, n in prints.items():
            checked += n
            if fp != want["queries"].get(q) or msgs:
                wrong += n
                msgs.append(f"{q}: fingerprint {fp} != validated "
                            f"{want['queries'].get(q)} ({n} executions)")
    return checked, wrong, msgs


def validate(cp):
    """Re-derives fingerprints.json with the repository's own oracle gate:
    graft.Verify dumps every read query's result over the benchmark data,
    tools/check.py compares each dump with its DuckDB oracle SQL, and the
    harness fingerprints each query and its verified dump. The prints are
    recorded only if every comparison agrees."""
    work = os.path.join(BUILD, "work", "validate")
    dump = os.path.join(work, "verify")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        names = launch(cp, "names", 0, 0, False, work)[0]["names"]
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names),
                   SPARK_GRAFT_CPUS=str(os.cpu_count()))
        subprocess.run(["java", *ADD_OPENS, f"-Xmx{HEAP}",
                        f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                        "graft.Verify", DATA, dump],
                       cwd=work, env=env, check=True, timeout=600,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        # Verify writes the oracle SQL of the whole registry; check.py is
        # to compare the benchmark's queries, every one of them
        path = os.path.join(dump, "oracle_sql.json")
        oracle = json.load(open(path))
        if any(oracle.get(n) is None for n in names):
            fail(f"no oracle SQL for {[n for n in names if oracle.get(n) is None]}")
        with open(path, "w") as f:
            json.dump({n: oracle[n] for n in names}, f)
        check = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check.py"), DATA,
             dump, "--no-verify"], timeout=600)
        if check.returncode != 0:
            fail("tools/check.py: results differ from the oracle")
        res, _ = launch(cp, "validate", 0, 0, False, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    prints = json.loads(res["notes"]["fingerprints"])
    if res["errors"] or sorted(prints) != sorted(names):
        fail("harness fingerprints disagree with the verified dumps: "
             + "; ".join(res["errors"]))
    with open(FINGERPRINTS, "w") as f:
        json.dump({"data": _data_digest(), "queries": prints}, f, indent=1,
                  sort_keys=True)
        f.write("\n")
    print(f"== {len(prints)} queries agree with the oracle; wrote {FINGERPRINTS}")


# ---------------------------------------------------------------- report

def main():
    # turn SIGTERM into SystemExit so every `finally` stops its child
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--validate", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(DATA) or not all(
            os.path.isfile(os.path.join(DATA, f"{t}.parquet")) for t in TABLES):
        fail(f"benchmark data missing under {DATA}")
    cp = build()
    if a.validate:
        return validate(cp)
    if a.workload is None:
        fail("--workload is required")
    if not os.path.isfile(FINGERPRINTS):
        fail("no validated fingerprints; run --validate first")

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        shares = None
        if a.workload == "ingest":
            sys.path.insert(0, HERE)
            import ingest_inputs
            shares = ingest_inputs.generate(a.seed, os.path.join(work, "inputs"))
        res, t0 = launch(cp, a.workload, a.seed, a.seconds, a.trace == 1, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    if a.workload != "ingest":
        checked, wrong, msgs = check_fingerprints(res)
        failed += wrong
        errors += msgs
        if checked == 0:
            failed += 1
            errors.append("no query output was checked")
    correct = failed == 0

    report = {k: (v["value"], v["unit"]) for k, v in res["report"].items()}
    e2e = {
        "setup_s": (res["ready_epoch_ms"] / 1000.0 - t0, "s"),
        "pass_s": (statistics.median(res["passes"]) if res["passes"] else None, "s"),
        "op_ms.p50": (statistics.median(res["ops"]) * 1000 if res["ops"] else None, "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    report.update(e2e)
    report["fail_ratio"] = (failed / max(attempted, 1), "ratio")

    print(f"workload {a.workload} seed {a.seed} trace {a.trace} "
          f"cores {os.cpu_count()} data {os.path.relpath(DATA, ROOT)}")
    if shares:
        print("inputs " + json.dumps(shares, sort_keys=True))
    for k, v in sorted(res["notes"].items()):
        if k not in ("fingerprints", "span_tree"):
            print(f"note {k}: {v}")
    print("passes_s " + " ".join(f"{s:.3f}" for s in res["passes"]))
    for k, (v, u) in report.items():
        print(f"metric {k} {v} {u}")
    layers = {k: (v["value"], v["unit"]) for k, v in res["layers"].items()}
    for k, (v, u) in layers.items():
        print(f"layer {k} {v} {u}")
    if "span_tree" in res["notes"]:
        print("span tree (path [layer] executions total self):")
        print(res["notes"]["span_tree"])
    for e in errors[:20]:
        print(f"error {e}")

    chosen = {k: layers.get(k, (None, "")) for k in PER_LAYER} if a.trace \
        else {k: e2e[k] for k in END_TO_END}
    missing = [k for k, (v, _) in chosen.items() if v is None]
    if missing:
        correct = False
        errors.append(f"metrics not measured: {missing}")
        print(f"error metrics not measured: {missing}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()
                    if v is not None}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
