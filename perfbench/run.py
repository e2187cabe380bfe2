#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine and
the benchmark from source (sbt, offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Inputs are generated from
the seed, the JVM runs the workload with one client thread against
`local[N]` (N = cores), the outputs are checked, and the last line of
standard output is the JSON result. See perfbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import report  # noqa: E402

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of everything the build reads, so an edit forces a rebuild."""
    files = [os.path.join(root, "build.sbt")]
    for base in (root, BENCH):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.scala"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"), recursive=True)
    files.append(os.path.join(BENCH, "build.sbt"))
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compiles graft and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(work, "classpath.json")
    stamp = source_stamp(root)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp and all(os.path.exists(p) for p in cached["cp"]):
            return cached["cp"]
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt keeps its ivy home and temporary files in the checkout and takes
    # no lock in its boot directory; dependencies come from the offline
    # coursier cache
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g"),
        f"-Dsbt.ivy.home={os.path.join(work, 'ivy2')}",
        f"-Djna.tmpdir={os.path.join(work, 'tmp')}",
        "-Dsbt.boot.lock=false"])
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = [ln.strip() for ln in f]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].split(os.pathsep)
    if not all(os.path.exists(p) for p in cp):
        fail(f"build printed no classpath, see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "cp": cp}, f)
    return cp


def run_jvm(cp, work, args, data, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    cmd = [java, "-Xmx2g"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", out]
    with open(os.path.join(work, f"{args.workload}.jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return proc.returncode


def main():
    # a terminated run unwinds, so the JVM or sbt it started is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)

    started = time.time()
    data = os.path.join(work, "runs", f"{args.workload}-{args.seed}")
    shutil.rmtree(data, ignore_errors=True)
    gen.GENERATORS[args.workload](data, args.seed)
    out = os.path.join(data, "result.json")
    code = run_jvm(cp, work, args, data, out, started + RUN_LIMIT_S)
    if not os.path.exists(out):
        fail(f"the workload JVM exited with {code} and wrote no result, "
             f"see {work}/{args.workload}.jvm.log")
    with open(out) as f:
        res = json.load(f)

    checks = list(res["checks"])
    if args.workload == "session":
        checks += report.oracle_checks(data) + report.lake_checks(res, data)
    if "error" in res:
        checks.append({"name": "run.error", "ok": False, "detail": res["error"]})
    failed_ops = sum(1 for o in res["ops"] if not o["ok"])
    failed_checks = [c for c in checks if not c["ok"]]
    for c in failed_checks:
        print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)

    ops = " ".join(f"{o['name']}={o['s']:.2f}" for o in res["ops"])
    tail = report.tail([o["s"] for o in res["ops"]])
    print(f"perfbench: {args.workload} seed {args.seed}: setup {res['setup_s']}, "
          f"stages {res.get('stage_s')}, passes {res['passes_s']}, "
          f"run {time.time() - started:.1f} s\n  ops {ops}\n  tail: "
          + (f"p{100 * tail[0]:g} {tail[1]:.3f} s" if tail else
             "none (fewer than ten samples beyond the median)"), file=sys.stderr)
    if args.trace:
        dump = report.trace_dump(args.workload, res, data)
        traces = os.path.join(work, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(dump, f, indent=1, sort_keys=True)
        print(report.module_table(dump), file=sys.stderr)
        metrics = report.per_layer(dump)
    else:
        metrics = report.end_to_end(res)
    shutil.rmtree(data, ignore_errors=True)

    attempted = len(res["ops"]) + len(checks)
    failed = failed_ops + len(failed_checks)
    print(json.dumps({
        "correct": failed == 0 and code == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics}))


if __name__ == "__main__":
    main()
