#!/usr/bin/env python3
"""Benchmark of record for the marexspark engine.

    python3 perfbench/run.py --workload detect-archive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds the engine and the harness from
source on first use (see build.py), runs one workload as a single
closed-loop client on local[nproc] in a fresh JVM, checks every pass's
outputs, and prints one JSON result line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The full
capture (every pass, host facts) and, for traced runs, the layer table are
kept under perfbench/captures/. Scratch data lives under .bench_build/ and is
removed when the run ends.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["detect-archive", "append-daily", "dedup-corpus"]
RUN_LIMIT_S = 170  # per run, after the build
SELFTEST_LIMIT_S = 900
CAPTURES = build.BENCH / "captures"


def java_cmd(classes, jars, work, args):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in build.ADD_OPENS]
    return (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
             "-XX:+UseParallelGC", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"] + opts +
            ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main"] + args)


def run_java(cmd, work, deadline):
    """Runs the harness in its own process group; kills the group on timeout.
    Its stdout goes to our stderr so our last stdout line is the result.
    SPARK_LOCAL_DIRS would override spark.local.dir, so it is pinned to the
    run's scratch directory too."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a SIGTERM unwinds like an exception, so the harness's process group is
    # killed and the scratch directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the harness's own Scala helpers and output checks")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classes, jars = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    limit = SELFTEST_LIMIT_S if a.selftest else RUN_LIMIT_S
    deadline = time.monotonic() + limit
    work = build.ROOT / ".bench_build" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    capture_file = work / "capture.json"
    if a.selftest:
        args = ["--selftest", "1", "--work", str(work)]
    else:
        load = " ".join(f"{x:.2f}" for x in os.getloadavg())
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--capture", str(capture_file), "--work", str(work),
                "--load", load]
    try:
        code = run_java(java_cmd(classes, jars, work, args), work, deadline)
        if a.selftest or code != 0:
            if code != 0:
                print(f"perfbench: harness exited with code {code}", file=sys.stderr)
            return code
        capture = json.loads(capture_file.read_text())
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    CAPTURES.mkdir(exist_ok=True)
    stem = (f"{a.workload}-seed{a.seed}-trace{a.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{os.getpid()}")
    (CAPTURES / f"{stem}.json").write_text(json.dumps(capture, separators=(",", ":")))
    res, rows = stats.result(capture)
    capture["result"] = res
    if rows is not None:
        capture["layers"] = rows
        (CAPTURES / f"{stem}.layers.md").write_text(
            stats.format_table(capture, {k: v["value"] for k, v in res["metrics"].items()}, rows))
    (CAPTURES / f"{stem}.json").write_text(json.dumps(capture, separators=(",", ":")))
    print(stats.result_line(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
