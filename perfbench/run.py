"""Product-level benchmark of the graft pipeline: one command per workload.

    python3 perfbench/run.py --workload refresh_weekly --seed 1 --seconds 60 --trace 0

Builds the program and the benchmark code from source (perfbench/build.py),
then runs the benchmark in one JVM at local[nproc]. It generates the
workload's inputs from --seed, sets up, times the workload's fixed set of ops
(--seconds caps it), checks every output, and prints one JSON result as the
last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1 (the
traced run also writes its spans under .bench_build/trace/). See
perfbench/README.md for the workloads and the metric map.
"""
import argparse
import json
import os
import shutil
import subprocess
import threading
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("refresh_weekly", "curate_train", "index_serve")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help="input size; 'tiny' is the self-test size")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expected answer (self-test of the output checks)")
    return ap.parse_args(argv)


def main(argv):
    args = parse_args(argv)
    classpath = build.build(quiet=True)
    work = os.path.join(build.BUILD_DIR, "work", f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(build.BUILD_DIR, "trace")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(trace_dir, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xms3g", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", args.scale, "--work", work, "--trace-dir", trace_dir] +
           (["--plant-wrong"] if args.plant_wrong else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                last = line[len("RESULT "):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or last is None:
        sys.stderr.write(f"perfbench: benchmark JVM exited with code {code} and no result\n")
        return code or 1
    result = json.loads(last)
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.stderr.write(f"perfbench: malformed result keys {sorted(result)}\n")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
