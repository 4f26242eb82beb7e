#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload c360_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness (perfbench/harness, an sbt build of its own) and caches the
classpath under .perfbench/; later runs reuse it while the sources are
unchanged.

One run:
  1. starts the workload JVM, which sets up (the Spark session is built,
     every table has been read once and one small warm-up aggregation
     has run; `setup_s` is the time from spawning the JVM until then),
     runs one timed pass over the workload's queries in an order permuted
     by --seed, then writes the output of every query of the pass,
     untimed;
  2. checks those outputs: oracled queries against DuckDB with
     tools/check.py, the others for at least one row;
  3. prints one JSON line: correct, attempted, failed and the metrics
     (end-to-end with --trace 0, per-layer with --trace 1).

Each JVM runs in a private mount namespace whose /tmp is a directory of
the run, so the program's fixed /tmp roots (sinks, table stores, staged
stream sources) start empty and are removed with the run.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(ROOT, ".perfbench")
# the corpus root the program's own entry points read (TESTDATA.md)
DEFAULT_DATA = "/root/testdata"
JVM_TIMEOUT_S = 150
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads from the repository."""
    h = hashlib.sha256()
    for base in ("project", os.path.join("src", "main"), HARNESS):
        for d, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(ROOT, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise BenchError("no program sources (build.sbt, src/main) beside perfbench/")
    digest = source_digest()
    stamp = os.path.join(STATE, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError("sbt build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def check_isolation():
    try:
        ok = subprocess.run(["unshare", "-m", "true"], stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        ok = False
    if not ok:
        raise BenchError("`unshare -m` is unavailable: a run needs a private /tmp")


def run_jvm(classpath, work, harness_args, deadline):
    """Runs the harness once in its own /tmp; returns (result, spawn_ms)."""
    tmp = os.path.join(work, "tmp")
    cwd = os.path.join(work, "cwd")
    out = os.path.join(work, "out")
    for d in (tmp, cwd, out):
        os.makedirs(d)
    java = ["java", "-Xmx3g", "-Djava.io.tmpdir=/tmp"]
    for p in JAVA_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "perfbench.Harness", f"out={out}"] + harness_args
    cmd = ["unshare", "-m", "sh", "-c",
           'd=$1; shift; mount --bind "$d" /tmp && exec "$@"', "sh", tmp] + java
    logf = os.path.join(work, "jvm.log")
    spawn_ms = time.time() * 1000
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, min(JVM_TIMEOUT_S, deadline - time.time())))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError("the harness JVM timed out")
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(res_file):
        with open(logf) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        raise BenchError(f"the harness JVM failed with exit code {rc}")
    with open(res_file) as f:
        return json.load(f), spawn_ms


def gate(sf_dir, out_dir, result):
    """Correctness gate over the untimed outputs; returns failed names."""
    failed = {g["name"] for g in result["gate"] if g["error"]}
    gate_dir = os.path.join(out_dir, "gate")
    with open(os.path.join(gate_dir, "oracle_sql.json")) as f:
        oracled = set(json.load(f))
    names = [g["name"] for g in result["gate"] if not g["error"]]
    check = [n for n in names if n in oracled]
    if check:
        # cwd: DuckDB spills beside it
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check.py"), sf_dir,
             gate_dir] + check, cwd=out_dir,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
        ok = {line.split(":", 1)[0] for line in proc.stdout.splitlines()
              if ": OK (" in line}
        for n in check:
            if n not in ok:
                failed.add(n)
                log(f"gate: {n} failed the oracle check")
        if proc.returncode != 0 and not (set(check) - ok):
            raise BenchError("tools/check.py failed:\n" + proc.stdout[-2000:])
    import pyarrow.parquet as pq
    for n in names:
        if n in oracled:
            continue
        files = [os.path.join(gate_dir, n, f)
                 for f in os.listdir(os.path.join(gate_dir, n)) if f.endswith(".parquet")]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if rows < 1:
            failed.add(n)
            log(f"gate: {n} returned no rows")
    return failed


def fmt(m):
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; a run always measures one full pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA,
                    help="corpus root holding sf0.001, sf0.01, sf0.1")
    ap.add_argument("--sf", help="override the workload's scale factor, e.g. sf0.001")
    ap.add_argument("--queries", help="comma-separated query list overriding the workload's")
    ap.add_argument("--save", help="also write the raw harness result and metrics here")
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload}; have {sorted(workloads)}")
    wl = workloads[args.workload]
    queries = args.queries.split(",") if args.queries else wl["queries"]
    sf_dir = os.path.join(args.data, args.sf or wl["sf"])
    if not os.path.isdir(sf_dir):
        raise BenchError(f"corpus {sf_dir} not found")

    classpath = build()
    # a run exits within 180 s of the build
    start = time.time()
    deadline = start + 170
    check_isolation()
    work = os.path.join(STATE, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # the seed permutes the order of the timed pass
        order = list(queries)
        random.Random(args.seed).shuffle(order)
        qfile = os.path.join(work, "queries.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(order) + "\n")
        result, spawn = run_jvm(
            classpath, work,
            [f"sf={sf_dir}", f"queries={qfile}", f"trace={args.trace}"], deadline)
        setup_s = (result["setup_done_ms"] - spawn) / 1000
        t = time.time()
        gate_failed = gate(sf_dir, os.path.join(work, "out"), result)
        log(f"oracle check took {time.time() - t:.1f} s")
        failed = metrics.failed_queries(result, gate_failed)
        for n in sorted(failed):
            errs = [q["error"] for q in result["queries"] if q["name"] == n and q["error"]]
            log(f"failed: {n} {errs[0] if errs else '(output check)'}")
        if args.trace:
            m = metrics.per_layer(result, result["cpus"])
        else:
            m = metrics.end_to_end(result, setup_s)
        line = {"correct": not failed, "attempted": len(queries),
                "failed": len(failed), "metrics": fmt(m)}
        if args.save:
            with open(args.save, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "trace": args.trace, "setup_s": setup_s,
                           "result": result, "line": line}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.time() - start:.1f} s")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
