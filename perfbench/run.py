#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result line last.

Usage:
  python3 perfbench/run.py --workload {curation,ingest} --seed N \\
      --seconds S --trace {0,1}

Builds the engine and the driver from source (perfbench/build.py), then
starts one JVM with Spark at local[N], N = nproc, and a heap sized from
MemTotal as the repo's tier-1 verify does. All scratch data lives under
.perfbench_run/ in the checkout, created for this run and removed after it;
nothing is fsynced. A traced run (--trace 1) also writes its spans to
.perfbench_out/trace-<workload>-<seed>.jsonl.

Output: lines starting with "info", "layer" or "failure" describe the run
(nproc, heap, Spark version, seed, tail percentile and sample counts, per
layer self times); the last line is the JSON result
{"correct", "attempted", "failed", "metrics"}. Exit code 0 only when the
run finished and every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("curation", "ingest")
TIMEOUT_S = 170

# Module opens Spark needs on JDK 17 outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_size() -> str:
    """Half of MemTotal in GiB, clamped to [2, 8] (tier-1 verify's rule)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(cp: str, scratch: str, opts: list, cds: str) -> list:
    """The JVM command line. `cds` is an -XX class-data-sharing flag: the
    build's archive is recorded once by a training run and mapped by every
    later run (see STABILITY.md for the start-up time it saves).
    """
    cmd = ["java", f"-Xmx{heap_size()}", "-XX:+UseG1GC", cds]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={scratch}/tmp",
        f"-Dspark.local.dir={scratch}/local",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", cp, "perfbench.Main",
    ]
    return cmd + opts


def run_jvm(cmd: list) -> tuple:
    """Runs the JVM in its own process group; returns (code, stdout lines).
    The group is killed on every way out that leaves the JVM running (a
    timeout, SIGTERM, an exception).
    """
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True, cwd=ROOT)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM killed after {TIMEOUT_S} s", file=sys.stderr)
        return 124, []
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out.splitlines()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--emit", help="write the warm-up pass's digests to this file "
                    "instead of checking them (see oracle_check.py)")
    ap.add_argument("--keep", help="copy the generated inputs to this directory")
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM and the scratch root go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        cp = build.build()
    except RuntimeError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "local", "data", "train"):
        os.makedirs(os.path.join(scratch, d))
    jsa = build.archive()
    opts = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", os.path.join(scratch, "data"),
            "--cores", str(nproc()), "--expected", os.path.join(HERE, "expected")]
    if a.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        opts += ["--trace-out", os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.jsonl")]
    if a.emit:
        opts += ["--emit", os.path.abspath(a.emit)]
    try:
        lines = []
        if not os.path.exists(jsa):
            code, _ = run_jvm(java_cmd(cp, scratch, [
                "--train", "1", "--root", os.path.join(scratch, "train"),
                "--cores", str(nproc())], f"-XX:ArchiveClassesAtExit={jsa}"))
            if code != 0 or not os.path.exists(jsa):
                # every run maps the archive, so that two builds compared
                # always start the same way
                if os.path.exists(jsa):
                    os.remove(jsa)
                print(f"perfbench: class-data-sharing training failed ({code})",
                      file=sys.stderr)
        if os.path.exists(jsa):
            code, lines = run_jvm(java_cmd(cp, scratch, opts, f"-XX:SharedArchiveFile={jsa}"))
        if a.keep and os.path.isdir(os.path.join(scratch, "data", "inputs")):
            shutil.rmtree(a.keep, ignore_errors=True)
            shutil.copytree(os.path.join(scratch, "data", "inputs"), a.keep)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_run"))
        except OSError:
            pass

    result = None
    for line in lines:
        tag, _, body = line.partition(" ")
        if tag == "PERFBENCH_INFO":
            print("info " + body)
        elif tag == "PERFBENCH_LAYERS":
            print("layer " + body)
        elif tag == "PERFBENCH_FAILURE":
            print("failure " + body)
        elif tag == "PERFBENCH_RESULT":
            result = json.loads(body)
    if code != 0 or result is None:
        print(f"perfbench: JVM exited with {code} and no result", file=sys.stderr)
        return code or 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        want = [m["name"] for m in json.load(fh)["per_layer" if a.trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(want):
        print("perfbench: printed metrics differ from BENCHMARK.json", file=sys.stderr)
        return 1
    print(json.dumps(result, separators=(",", ":")))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
