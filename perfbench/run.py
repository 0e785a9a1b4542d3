#!/usr/bin/env python3
"""Seeded, layer-attributed benchmark of the graft sparse-algebra and
training-data pipeline library. Run from the repository root:

    python3 perfbench/run.py --workload sparse_algebra --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test            # the benchmark's own tests
    python3 perfbench/run.py --all --seconds 10     # every workload, both modes

A run builds the library and the benchmark from source if needed
(perfbench/build.py), starts one JVM with local[N] Spark
(N = min(4, cores)), generates its inputs from the seed into a scratch
directory under the build directory, sets up several times, then runs
one workload closed-loop for --seconds and checks every output against
closed forms derived from the generator. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (spans are written under <build dir>/traces).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ["sparse_algebra", "curation_pipeline", "stream_ingest", "ann_search"]
JVM_TIMEOUT_S = 175
ARCHIVE_TIMEOUT_S = 400
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classpath, main, args, work, *flags):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData", "-XX:+UseParallelGC", *flags,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, main] + args + ["--work", str(work)]


def run_java(cmd, timeout, stdout=subprocess.PIPE):
    """Run one JVM to completion in its own process group; return
    (exit code, stdout text), or (124, "") when it outlived `timeout`."""
    proc = subprocess.Popen(cmd, stdout=stdout, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] java exceeded {timeout} s and was stopped", file=sys.stderr)
        return 124, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out or ""


def class_archive(classpath):
    """JVM flags that map a class-data archive of the classes a run
    loads (Spark, the library and the benchmark), recorded once per
    build by a reduced-size self-test. It takes about half of JVM and
    Spark session start and of the cold warm-up's class loading out of
    every run. If it cannot be recorded, runs load from the jars."""
    jar = Path(classpath.split(os.pathsep)[0])
    archive = build.build_dir() / "classes.jsa"
    stamp = build.build_dir() / "classes.jsa.stamp"
    key = f"{jar.stat().st_size}:{jar.stat().st_mtime_ns}"
    if not (stamp.is_file() and stamp.read_text() == key):
        stamp.unlink(missing_ok=True)
        archive.unlink(missing_ok=True)
        part = archive.with_name(f"classes.jsa.tmp.{os.getpid()}")
        work = build.build_dir() / "work" / f"archive-{os.getpid()}"
        print("[build] recording the class-data archive", file=sys.stderr)
        try:
            run_java(java_cmd(classpath, "perfbench.SelfTest", ["--seed", "1", "--scale", "0.05"], work,
                              f"-XX:ArchiveClassesAtExit={part}"),
                     ARCHIVE_TIMEOUT_S, stdout=subprocess.DEVNULL)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if part.is_file() and part.stat().st_size > 0:
            part.replace(archive)
        else:
            part.unlink(missing_ok=True)
            print("[build] no class-data archive; runs load classes from the jars", file=sys.stderr)
        stamp.write_text(key)
    if not archive.is_file():
        return []
    return [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def jvm(main, args, work):
    """Run one JVM to completion; return (exit code, stdout lines)."""
    classpath = build.ensure_built()
    cmd = java_cmd(classpath, main, args, work, *class_archive(classpath))
    code, out = run_java(cmd, JVM_TIMEOUT_S)
    return code, out.splitlines()


def run_one(workload, seed, seconds, trace, scale=1.0):
    work = build.build_dir() / "work" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--trace-dir", str(build.build_dir() / "traces"),
            "--scale", str(scale)]
    try:
        code, lines = jvm("perfbench.Main", args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
        if result is not None:
            lines = lines[:-1]
    for line in lines:
        print(line)
    if code != 0 or not isinstance(result, dict):
        print(f"[perfbench] {workload}: no result (exit code {code})", file=sys.stderr)
        return None
    return result


def self_test(seed, workload):
    work = build.build_dir() / "work" / f"self-test-{os.getpid()}"
    args = ["--seed", str(seed), "--scale", "0.05"] + (["--workload", workload] if workload else [])
    try:
        code, lines = jvm("perfbench.SelfTest", args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor, for sizing studies (measured runs use 1)")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced then traced and print the tracing overhead")
    a = ap.parse_args()
    try:
        if a.self_test:
            return self_test(a.seed, a.workload)
        if a.all:
            return run_all(a.seed, a.seconds)
        if not a.workload:
            ap.error("--workload is required")
        result = run_one(a.workload, a.seed, a.seconds, a.trace, a.scale)
    except build.BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 2
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def run_all(seed, seconds):
    """Every workload untraced then traced; prints each workload's
    end-to-end metrics, per-layer metrics and tracing overhead."""
    ok = True
    overhead = []
    for w in WORKLOADS:
        plain = run_one(w, seed, seconds, 0)
        traced = run_one(w, seed, seconds, 1)
        ok = ok and bool(plain and traced and plain["correct"] and traced["correct"])
        if plain and traced:
            a = plain["metrics"]["rows_per_s"]["value"]
            b = traced["metrics"]["trace.rows_per_s"]["value"]
            overhead.append((w, a, b))
    print("# tracing overhead: rows_per_s untraced vs traced")
    for w, a, b in overhead:
        print(f"#   {w:20s} {a:12.2f} {b:12.2f}  {100.0 * (a - b) / a:+6.1f}%")
    print(json.dumps({"correct": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
