#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result.

    python3 perfbench/run.py --workload jq_scan --seed 1 --seconds 10 --trace 0

Workloads: jq_scan, neardup_clean, jq_interactive (see perfbench/README.md).
The first run in a checkout builds graft and the benchmark (perfbench/build.py).
`--smoke` runs a small input (about 15 s); `--corrupt-expected` perturbs
one expected value so the output check must fail (for the benchmark's tests).
The last stdout line is one JSON object: correct, attempted, failed, metrics.
Inputs, Spark scratch space and traces stay under perfbench/.work.
"""
import argparse
import os
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
WORK = BENCH / ".work"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt-expected", action="store_true")
    args = ap.parse_args()

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1

    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", str(WORK), "--cpus", str(cpus)]
    if args.smoke:
        cmd.append("--smoke")
    if args.corrupt_expected:
        cmd.append("--corrupt-expected")

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"benchmark run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        return 1
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        # no result line on failure, so a partial run is never read as a result
        sys.stdout.write("\n".join(l for l in lines if not l.startswith('{"correct"')) + "\n")
        print(f"benchmark process exited with code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
