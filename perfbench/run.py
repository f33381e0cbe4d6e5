#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
program and the benchmark (`sbt` in this directory, against the parent
build); later runs reuse the build while the sources are unchanged. The run
itself is one JVM (perfbench.Main). Rows with an SQL oracle are compared
with DuckDB after the JVM exits, by the repository's tools/drivercheck.py.
The last line of standard output is one JSON object: {"correct",
"attempted", "failed", "metrics"}; with --trace 0 the metrics are the
end-to-end metrics, with --trace 1 the per-layer ones.
The line before it labels the run (host noise, workload-specific values).
Exit status: 0 when every check passed, 1 when a check failed, 2 when the
benchmark could not run.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")

WORKLOADS = ["iot_ingest", "gold_analytics", "lake_mixed"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_ms_p50": "ms", "op_ms_p90": "ms",
    "cpu_ms_per_op": "ms", "mem_peak_mb": "MB",
}


def per_layer_unit(name):
    if name.endswith("_ms") or name.endswith("_ms_p90"):
        return "ms"
    if name.endswith("_bytes") or name == "lake.bytes_written":
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.cpu_per_run", "stream.useful_frac"):
        return "ratio"
    return "count"


def run_child(cmd, cwd, out, timeout_s):
    """Run `cmd` to completion; kill it on timeout or when this runner is
    terminated, and wait until it has ended. Its stdin is a pipe this
    process holds, so a JVM child also stops if the runner dies outright.
    Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.PIPE)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, to know when to rebuild."""
    pats = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "*.properties"),
            os.path.join(ROOT, "project", "*.sbt"), os.path.join(ROOT, "src", "main", "**", "*"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "*.properties"),
            os.path.join(HERE, "src", "main", "**", "*")]
    h = hashlib.sha256()
    for p in sorted(f for pat in pats for f in glob.glob(pat, recursive=True)
                    if os.path.isfile(f)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    stamp = os.path.join(TARGET, "perfbench.stamp")
    digest = source_digest()
    cp_file = os.path.join(TARGET, "runtime.classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       HERE, out, BUILD_LIMIT_S)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def run_jvm(args, work, out, budget_s):
    cp = open(os.path.join(TARGET, "runtime.classpath")).read().strip()
    opts = [o for o in open(os.path.join(TARGET, "runtime.jvmopts")).read().split("\n") if o]
    cmd = (["java"] + opts + HEAP + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                              "perfbench.Main", "--workload", args.workload,
                              "--seed", str(args.seed), "--seconds", str(args.seconds),
                              "--trace", str(args.trace), "--work", work, "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_child(cmd, work, log, budget_s)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        die("the benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))
    return json.load(open(out))


def oracle_mismatches(results_dir):
    """Compare every result the JVM wrote with its DuckDB oracle through the
    repository's own exact compare (tools/drivercheck.py: sorted columns and
    rows, zero tolerance, zero sign included). Returns one message per row
    that differs."""
    sql_file = os.path.join(results_dir, "oracle_sql.json")
    if not os.path.exists(sql_file):
        return []
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import drivercheck

    tables_dir = open(os.path.join(results_dir, "tables_dir.txt")).read().strip()
    report = io.StringIO()
    try:
        with contextlib.redirect_stdout(report):
            rc = drivercheck.main(tables_dir, results_dir, set())
    except Exception as e:  # a compare that cannot run is a failed check
        return [f"oracle compare: {type(e).__name__}: {e}"]
    bad = []
    for line in report.getvalue().splitlines():
        if line.startswith("FAIL"):
            bad.append(line)
        elif line.startswith("  ") and bad:
            bad[-1] += "; " + line.strip()
    if rc != 0 and not bad:
        bad.append(f"oracle compare exited with {rc}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t0 = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "drivercheck.py"))):
        die(f"no program sources next to {HERE}: run from the root of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")
    build()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, work, os.path.join(work, "result.json"),
                      max(30, RUN_LIMIT_S - (time.time() - t0)))
        errors = list(res["errors"]) + oracle_mismatches(res["results_dir"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    label = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "extras": res["extras"], "host": res["host"], "check_errors": errors}
    print(json.dumps(label))
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
