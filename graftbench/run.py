#!/usr/bin/env python3
"""Run one graftbench workload and print its metrics.

    python3 graftbench/run.py --workload read_mix --seed 1 --seconds 4 --trace 0

Run from the repository root. The first run builds the harness and the
engine from source with sbt and records a class-data sharing archive
(both cached under .graftbench/build, keyed by a hash of the sources);
every run then starts
one JVM that generates the seeded inputs, builds graft tables in a fresh
directory under .graftbench/runs, runs the closed loop and checks every
answer. With --trace 0 the last stdout line carries the end-to-end
metrics, with --trace 1 the per-layer metrics; BENCHMARK.json names both.
A wrong answer makes the run exit 1; a run that cannot build or start
exits 2 and prints no result.
"""
import argparse
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
STATE = os.path.join(ROOT, ".graftbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 120

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Run cmd in its own process group; kill the whole group on timeout
    or when this script is terminated."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children of a finished run
        except ProcessLookupError:
            pass
    return p.returncode


def sources_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine and harness; return (class path, class-data archive or None).

    The class path lists jars first and directories last, so that a
    class-data sharing archive dumped from the jars alone (a Spark-only
    warm-up run) matches every later run's class path as a prefix.
    Runs that map the archive skip most of the JVM's class loading; a
    missing or stale archive only costs start-up time.
    """
    key = sources_hash()
    bdir = os.path.join(STATE, "build")
    cp_file, jsa = os.path.join(bdir, key + ".cp"), os.path.join(bdir, key + ".jsa")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), (jsa if os.path.exists(jsa) else None)
    shutil.rmtree(bdir, ignore_errors=True)  # builds of other sources
    os.makedirs(bdir)
    log = os.path.join(bdir, key + ".log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, env=env, stdout=out)
    lines = open(log).read().splitlines()
    # sbt's log lines can land on the same line as the exported class
    # path, so the path is taken from its first absolute entry on
    cps = [l[l.index(os.sep):] for l in lines if ".jar" in l and os.pathsep in l and os.sep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    entries = cps[-1].split(os.pathsep)
    jars = [e for e in entries if e.endswith(".jar")]
    cp = os.pathsep.join(jars + [e for e in entries if not e.endswith(".jar")])
    warm = os.path.join(bdir, "warm-" + key)
    with open(log, "a") as out:
        run_group(["java", f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
                   f"-Djava.io.tmpdir={warm}"] + opens() +
                  ["-cp", os.pathsep.join(jars), "graftbench.Warm", warm],
                  ROOT, ARCHIVE_TIMEOUT_S, stdout=out)
    shutil.rmtree(warm, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, (jsa if os.path.exists(jsa) else None)


def opens():
    return [x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to graftbench/")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    cp, jsa = build()
    deadline = time.time() + RUN_TIMEOUT_S
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    work, out = os.path.join(run_dir, "work"), os.path.join(run_dir, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out)
    cpus = min(4, os.cpu_count() or 4)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms1g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp"] + opens()
    if jsa:
        cmd += [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:class+path=off"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out,
            "--cpus", str(cpus)]
    log = os.path.join(out, "run.log")
    with open(log, "w") as fh:
        rc = run_group(cmd, ROOT, max(5, deadline - time.time()), stdout=fh)
    shutil.rmtree(work, ignore_errors=True)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail("run timed out" if rc is None else f"run failed (exit {rc}); log in {log}")
    with open(res_path) as f:
        res = json.load(f)

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        v = res[section].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run's result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    env = res["env"]
    if not a.trace:
        for m in spec["end_to_end"]:
            print(f"{m['name']:<12} {metrics[m['name']]['value']:>12.4f} {m['unit']}")
    print(f"failed_ops_frac {failed / max(1, attempted):.4f} ({failed} of {attempted} ops)")
    print(f"env nproc={env['nproc']} load={env['load_start']:.2f}->{env['load_end']:.2f} "
          f"calib_ms={env['calib_pre_ms']:.1f}->{env['calib_post_ms']:.1f} "
          f"tables_s={env['tables_s']:.2f} steal={env['steal_frac']:.3f} "
          f"jvm_cpu_ms={env['jvm_cpu_ms']:.0f} gc_ms={env['jvm_gc_ms']:.0f} out={os.path.relpath(out, ROOT)}")
    for f in res.get("failures", [])[:10]:
        print(f"WRONG {f}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 and attempted > 0 else 1)


if __name__ == "__main__":
    main()
