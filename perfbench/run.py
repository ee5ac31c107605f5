#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Builds the program from source when needed (perfbench/build.py), runs the
workload in one JVM at local[4] and prints two JSON lines: the run's host
facts and details, then {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, taken with listeners and a counting filesystem installed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("full_build", "daily_upsert", "changelog")
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 880    # the run that builds may take 900 s


class MissingMetric(Exception):
    """A metric has nothing to be taken from, because its operations failed."""


def end_to_end(raw):
    """{metric: (value, unit)} from the JVM's raw results. Raises
    MissingMetric rather than report a stand-in value such as 0, which would
    read as the best possible time."""
    s, f = raw["samples"], raw["facts"]

    def med(key):
        if not s.get(key):
            raise MissingMetric(f"no timed {key} sample: every such operation failed")
        return stats.median(s[key])

    if raw["setup_s"] is None:  # null when set-up failed
        raise MissingMetric("set-up did not finish")
    if not f.get("live_rows") or not f.get("stored_bytes"):
        raise MissingMetric("the run ended before the stored size was taken")
    return {
        "setup_s": (raw["setup_s"], "s"),
        "write_p50_s": (med("write_s"), "s"),
        "read_p50_ms": (med("read_ms"), "ms"),
        "stored_bytes_per_row": (f["stored_bytes"] / f["live_rows"], "bytes"),
        "peak_heap_mb": (raw["peak_heap_mb"], "MB"),
        "ok_ratio": (1 - raw["failed"] / raw["attempted"], "ratio"),
    }


def detail(raw):
    """Sample counts and tails, for the info line."""
    out = {"facts": raw["facts"], "failures": raw["failures"]}
    for key, xs in raw["samples"].items():
        out[key] = {"n": len(xs), "p50": stats.median(xs), "p75": stats.percentile(xs, 75),
                    "p90": stats.percentile(xs, 90), "samples": [round(x, 4) for x in xs]}
    return out


def git_rev():
    try:
        top = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
        return top[1] if top and os.path.samefile(top[0], build.ROOT) else "none"
    except (OSError, subprocess.SubprocessError, IndexError):
        return "none"


def java_cmd(build_dir, main, args, work):
    """The JVM command line. The fixture JVM writes a class-data archive of
    the classes it loaded (AppCDS) and every later JVM of the build starts
    from it: Spark loads some ten thousand classes, and on the 4-vCPU host
    the archive cut session start from ~6.5 s to ~2.5 s and a run from
    ~45 s to ~37 s. The JVM ignores an archive that does not match."""
    cp = os.pathsep.join([build.jar(build_dir), os.path.join(build.spark_jars(), "*")])
    archive = os.path.join(build_dir, "app.jsa")
    if os.path.isfile(archive):
        cds = [f"-XX:SharedArchiveFile={archive}"]
    elif "--prepare" in args:
        cds = [f"-XX:ArchiveClassesAtExit={archive}"]
    else:
        cds = []
    return (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", *OPENS, *cds,
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + args)


def jvm(cmd, log, deadline, work):
    """Exit code of the JVM, or "timeout" once it was killed at the deadline."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        with open(log, "w") as lf:
            return subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                  timeout=max(10, deadline - time.monotonic())).returncode
    except subprocess.TimeoutExpired:
        return "timeout"


def main():
    # on SIGTERM, subprocess.run kills the JVM and waits for it before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the Scala self-test instead of a workload")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    t0 = time.monotonic()
    try:
        build_dir = build.ensure()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    run_dir = os.path.join(build.OUT, "runs", f"{name}-{os.getpid()}")
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")

    def failed(code):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        print(f"perfbench: JVM exited with {code}; log kept at {log}", file=sys.stderr)
        return 1

    # the fixtures are made once per build, in a JVM of their own
    prepared = os.path.join(build_dir, "PREPARED")
    if not a.selftest and not os.path.isfile(prepared):
        code = jvm(java_cmd(build_dir, "perfbench.Main", [
            "--prepare", "1", "--work", work, "--cache", build_dir], work),
            log, t0 + BUILD_LIMIT_S, work)
        if code != 0:
            return failed(code)
        open(prepared, "w").close()
    slow_start = time.monotonic() - t0 > 5
    deadline = t0 + (BUILD_LIMIT_S if slow_start else RUN_LIMIT_S)

    if a.selftest:
        code = jvm(java_cmd(build_dir, "perfbench.SelfTest", [work], work), log, deadline, work)
        with open(log) as lf:
            sys.stdout.write("".join(ln for ln in lf if ln.startswith("selftest")))
        if code != 0:
            return failed(code)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 0

    code = jvm(java_cmd(build_dir, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--cache", build_dir, "--out", out], work),
        log, deadline, work)
    if code != 0 or not os.path.isfile(out):
        return failed(code)
    with open(out) as fh:
        raw = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    host = dict(raw["host"], git_rev=git_rev(), build=os.path.basename(build_dir),
                seed=a.seed, workload=a.workload, trace=a.trace, seconds=a.seconds)
    info = {"host": host, "detail": detail(raw)}
    try:
        e2e = end_to_end(raw)
    except MissingMetric as e:
        print(json.dumps(info), file=sys.stderr)
        print(f"perfbench: {e}; {raw['failed']} of {raw['attempted']} operations failed",
              file=sys.stderr)
        return 1
    if a.trace:
        values = layers.per_layer(raw["spans"])
        metrics = {n: {"value": values[n], "unit": u} for n, u in layers.metrics()}
        # the traced run's own end-to-end figures, for the tracing overhead
        info["end_to_end"] = {n: v for n, (v, _) in e2e.items()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    print(json.dumps(info))
    print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
