#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness (perfbench/build.sbt, into .bench_build/); every run then
starts the harness JVM (graft.perfbench.Main) in a private directory
under .bench_build/ that holds its artifacts, warehouse, temp files and
generated inputs, and is removed at the end. The JVM writes every timed
operation with its output; this script checks the outputs (climate
answers against the generator's expected text, corpus query results
against a DuckDB replay of the program's oracle SQL), turns the samples
into metrics, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics (from the harness's own Spark listener).
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
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("climate_qa", "corpus_prep")
BUILD = ".bench_build"
CPUS = max(1, min(4, os.cpu_count() or 1))
DEADLINE_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on a timeout, or
    whatever ends this script, the whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def sources_stamp(root):
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile program + harness with sbt unless the stamp is current;
    returns the harness classpath the build wrote."""
    cp_file = os.path.join(root, BUILD, "classpath")
    stamp_file = os.path.join(root, BUILD, "stamp")
    stamp = sources_stamp(root)
    if not (os.path.exists(cp_file) and os.path.exists(stamp_file) and
            open(stamp_file).read() == stamp):
        log("building program and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        os.makedirs(os.path.join(root, BUILD), exist_ok=True)
        with open(os.path.join(root, BUILD, "build.log"), "w") as out:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"], 840,
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
        if rc != 0:
            raise RuntimeError(f"sbt build failed (rc={rc}); see {BUILD}/build.log")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def jvm_cmd(classpath, main_args, tmp=None):
    """The harness JVM: Spark's module opens, a 3 GB heap, the build's
    classes plus the Spark jars the program builds against."""
    return (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-Xmx3g", "-Dspark.ui.enabled=false"] +
            ([f"-Djava.io.tmpdir={tmp}"] if tmp else []) +
            ["-cp", classpath, "graft.perfbench.Main"] + main_args)


def run_jvm(classpath, work, args, deadline):
    env = dict(os.environ, GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = jvm_cmd(classpath, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", os.path.join(work, "data"), "--cpus", str(CPUS)],
        tmp=os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            rc = run_group(cmd, max(1.0, deadline - time.monotonic()),
                           cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness JVM exceeded the run deadline")
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"harness JVM exited {rc}:\n{tail}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def remove_stale_runs(build_dir):
    """Drop run directories whose process is gone (a killed run)."""
    if not os.path.isdir(build_dir):
        return
    for name in os.listdir(build_dir):
        if name.startswith("run-"):
            try:
                os.kill(int(name[4:]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(build_dir, name), ignore_errors=True)
            except PermissionError:
                pass


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    deadline = started + DEADLINE_S

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no program sources here (build.sbt, src/main/scala/graft); "
            "run from the root of a checkout")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    try:
        classpath = build(root)
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 3
    # a build may take its own time; the run's deadline starts after it
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 10)

    build_dir = os.path.join(root, BUILD)
    remove_stale_runs(build_dir)
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "artifacts", "local", "data"):
        os.makedirs(os.path.join(work, sub))
    try:
        if args.workload != "climate_qa":
            import corpusgen
            corpusgen.generate(os.path.join(work, "data"), args.seed)
        result = run_jvm(classpath, work, args, deadline)
        jvm_done = time.monotonic()
        if args.workload == "climate_qa":
            checked = metrics.check_climate(result)
        else:
            import oracle
            checked = oracle.check_corpus(result, work, os.path.join(build_dir, "oracle"))
        out = metrics.report(args.workload, result, checked, spec, bool(args.trace))
        if args.trace:
            trace_dir = os.path.join(build_dir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.spans.json"), "w") as fh:
                json.dump(result.get("spans", []), fh)
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        log(f"run failed: {e}")
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    by_op = {}
    for smp in result["samples"]:
        by_op.setdefault(f"{smp['op']}/{smp['kind']}", []).append(smp["ns"] / 1e6)
    log(f"{args.workload} seed {args.seed}: {time.monotonic() - started:.1f} s wall "
        f"({time.monotonic() - jvm_done:.1f} s checking), "
        f"{result['rounds']} rounds; median ms per op: " +
        ", ".join(f"{k} {metrics.quantile(v, 0.5):.0f}" for k, v in sorted(by_op.items())))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
