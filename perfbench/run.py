#!/usr/bin/env python3
"""Run one graft benchmark workload in a fresh JVM and print its result.

    python3 perfbench/run.py --workload tsdb|battery --seed N \
        --seconds S --trace 0|1

Builds graft and the benchmark from source with sbt when the sources
changed since the last build, launches the JVM directly (not through
sbt) with fixed JVM and Spark settings, checks the outputs, and prints
one JSON line last: correct, attempted, failed, and the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. The full record, JVM log and trace spans stay under
perfbench/out/<workload>-s<seed>-t<trace>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
BUILD_TIMEOUT_S = 850
RUN_LIMIT_S = 170
HEAP = "3g"
# a mismatch on one of these is the known fault it names: counted as a
# failed operation, not as a wrong result
KNOWN_FAULTS = {"ts_ratio"}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: both build definitions and all sources."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def classpath():
    """The runtime classpath, rebuilding only when a source changed."""
    files = source_files()
    missing = [f for f in files[:4] if not os.path.exists(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("graft's sources are not here (missing %s); run from a checkout of the repository"
            % (missing or "src/main/scala"))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        s = json.load(open(stamp))
        if s.get("digest") == digest and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"]
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}", 1)
    cp = lines[-1].strip().split(os.pathsep)
    json.dump({"digest": digest, "classpath": cp}, open(stamp, "w"))
    return cp


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7] if len(xs) > 7 else 0, sum(xs[:8])
    except (OSError, ValueError):
        return None


def launch(args, cp, out):
    cpus = max(1, min(4, os.cpu_count() or 1))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--out", out,
            "--data", os.path.join(HERE, "data", "sf0.001")]
    # setup_s counts from here: the JVM's own start, after any build
    start_ms = int(time.time() * 1000)
    cmd += ["--start-ms", str(start_ms)]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"the JVM ran past {RUN_LIMIT_S} s; see {out}/jvm.log", 1)
    if p.returncode != 0:
        die(f"the JVM exited with {p.returncode}; see {out}/jvm.log", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["tsdb", "battery"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("BENCHMARK.json is missing")
    bench = json.load(open(bench_json))
    cp = classpath()
    out = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    c0 = cpu_times()
    launch(args, cp, out)
    c1 = cpu_times()
    rec = json.load(open(os.path.join(out, "result.json")))
    if c0 and c1 and c1[1] > c0[1]:
        # CPU time taken by other guests of the host: a gauge of contention
        rec["details"]["host_steal_share"] = (c1[0] - c0[0]) / (c1[1] - c0[1])
    measured = rec["metrics"]
    correct, failed = rec["correct"], rec["failed"]

    if args.workload == "battery":
        import compare
        verdicts = compare.check_outputs(os.path.join(out, "outputs"))
        rec["details"]["battery_verdicts"] = verdicts
        for name, why in sorted(verdicts.items()):
            if why is None:
                continue
            failed += 1
            print(f"perfbench: {name} differs from DuckDB: {why}", file=sys.stderr)
            if name not in KNOWN_FAULTS:
                correct = False
    for p in rec.get("problems", [])[:20]:
        print(f"perfbench: wrong: {p}", file=sys.stderr)

    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {}
    for m in names:
        v = measured.get(m["name"], {}).get("value")
        if v is None:
            if args.trace:
                v = 0.0  # the layer does no work in this workload
            else:
                correct = False
                print(f"perfbench: {m['name']} was not measured", file=sys.stderr)
                v = 0.0
        elif args.trace:
            v = float(f"{v:.6g}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    rec.update(correct=correct, failed=failed)
    json.dump(rec, open(os.path.join(out, "record.json"), "w"), indent=1)
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
