#!/usr/bin/env python3
"""graft's benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (offline) and caches the classpath under
`.bench_build/`, keyed on a digest of every source and build file; later
runs start the benchmark JVM directly. Each run gets its own scratch
directory under `.bench_build/runs/` (JVM temp dir, so graft's catalog
warehouse, and SPARK_LOCAL_DIRS), deleted when the run ends.

The last stdout line is the result object of perfbench/README.md. The exit
code is non-zero when the build fails, a dev knob is set (the JVM refuses
to run), or any output check fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("stream_pipeline", "curate_pack", "neardup_ops")
XMX = "2g"
RUN_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: graft's build and main sources, and the
    benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (ROOT, HERE):
        project = os.path.join(d, "project")
        files += [os.path.join(project, n) for n in os.listdir(project)
                  if n.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(src_digest):
    """Compile graft and the benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath." + src_digest)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classpath."):
            os.remove(os.path.join(BUILD, old))
    with open(stamp, "w") as fh:
        fh.write(classpath + "\n")
    return classpath


def cpu_jiffies():
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except OSError:
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src: run from a graft checkout")

    src_digest = digest()
    classpath = build(src_digest)

    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.relpath(local, ROOT)
    env["TMPDIR"] = tmp
    # no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{XMX}", f"-Xmx{XMX}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.callstack.depth=100",
           f"-Dgraftbench.commit={git_commit()}",
           f"-Dgraftbench.source_sha1={src_digest}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--spans-out",
                os.path.join(traces, os.path.basename(run_dir) + ".spans.jsonl")]
    steal0, total0 = cpu_jiffies()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(run_dir, ignore_errors=True)
    # CPU time the hypervisor gave to other guests during the run: timings
    # from runs with a high share are slow for reasons outside graft
    steal1, total1 = cpu_jiffies()
    share = (steal1 - steal0) / max(total1 - total0, 1)
    print(f'{{"host": {{"steal_share": {share:.4f}}}}}')
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
