#!/usr/bin/env python3
"""graft's benchmark: builds graft and the benchmark from source, then runs
one workload in a fresh JVM.

    python3 perfbench/run.py --workload build_heavy --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke      # tiny inputs; proves every check fires
    python3 perfbench/run.py --record-digests 0-63,101-120,9001   # re-record digests.tsv

Run it from the repository root. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Everything the
run writes stays under `.bench_build/` in the repository root. See
perfbench/README.md for the workloads and metrics.
"""
import sys

sys.dont_write_bytecode = True  # keep the benchmark's directory free of caches

import argparse  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("build_heavy", "build_repo_mix")
# a run must end within 180 s, not counting compilation (build.py); this
# leaves room to stop the JVM
RUN_LIMIT_S = 172
# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, default="build_heavy")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-digests", metavar="SEEDS",
                    help="rewrite perfbench/digests.tsv for these seeds, e.g. 1,101-120")
    args = ap.parse_args()

    t0 = time.monotonic()
    root = os.getcwd()
    try:
        classpath, bench_stamp, compile_s = build.ensure_built(root)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("graftbench: build failed: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(root, build.BUILD_DIR, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed young generation puts collections at the same allocation
    # points in every run, which heap_after_gc_mb depends on
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--work", work, "--bench-stamp", bench_stamp,
            "--digests", os.path.join(root, build.DIGESTS)]
    if args.smoke:
        cmd += ["--smoke"]
    elif args.record_digests:
        cmd += ["--record-digests", args.record_digests]
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]

    # own process group, so a timeout or signal stops the JVM and all it started
    proc = subprocess.Popen(cmd, cwd=root, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    limit = None if args.record_digests else RUN_LIMIT_S + compile_s - (time.monotonic() - t0)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        print("graftbench: run exceeded %d s, stopped" % RUN_LIMIT_S, file=sys.stderr)
        stop()


if __name__ == "__main__":
    sys.exit(main())
