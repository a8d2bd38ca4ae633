#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload office_batch|office_live|catalog|all
                             --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.py), runs
one workload in a fresh JVM and relays its report. The last stdout line is
the result JSON. `--workload all` runs the three workloads in turn and ends
with a table of every end-to-end metric plus the correctness verdict.
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
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

WORKLOADS = ("office_batch", "office_live", "catalog")
RUN_TIMEOUT_S = 175
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def threads() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit() -> str:
    """The commit under test, or a digest of the sources outside git."""
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + build.source_digest()[:16]


def run_workload(workload: str, seed: int, seconds: int, trace: int, extra=()) -> dict:
    classes = build.build()
    work = BENCH / ".work" / f"{workload}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JAVA_OPENS]
           + ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--threads", str(threads()),
              "--work", str(work / "run"), "--out", str(BENCH / "out"),
              "--catalog", str(BENCH / "catalog_expected.json"), "--commit", commit()]
           + list(extra))
    proc = subprocess.Popen(cmd, cwd=str(work), stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    last = None
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{") and '"metrics"' in line:
                last = line
            else:
                print(line, flush=True)
            if time.monotonic() > deadline:
                raise TimeoutError
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except (TimeoutError, subprocess.TimeoutExpired):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or last is None:
        raise SystemExit(f"perfbench: {workload} exited {proc.returncode} without a result")
    return json.loads(last)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="catalog only: write out/catalog_record.json from this run")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        print(f"perfbench: no program sources under {ROOT / 'src' / 'main' / 'scala'}",
              file=sys.stderr)
        sys.exit(2)
    extra = ["--record"] if a.record else []
    if a.workload != "all":
        res = run_workload(a.workload, a.seed, a.seconds, a.trace, extra)
        print(json.dumps(res), flush=True)
        return
    results = {w: run_workload(w, a.seed, a.seconds, a.trace) for w in WORKLOADS}
    print("\nsummary (seed %d, %s):" % (a.seed, "traced" if a.trace else "untraced"))
    for w, r in results.items():
        for name, m in r["metrics"].items():
            print(f"  {w:13s} {name:34s} {m['value']:>16.4f} {m['unit']}")
        print(f"  {w:13s} {'failed_ratio':34s} {r['failed'] / r['attempted']:>16.4f} ratio"
              f"  correct={r['correct']}")
    combined = {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{n}": m for w, r in results.items() for n, m in r["metrics"].items()},
    }
    print(json.dumps(combined), flush=True)


if __name__ == "__main__":
    main()
