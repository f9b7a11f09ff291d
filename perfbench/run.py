#!/usr/bin/env python3
"""Repository benchmark: drain_bulk and corpus_gates.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine (src/main/scala) and the harness (perfbench/src) with the
Scala compiler shipped in the Spark distribution into .bench_build/ (see
perfbench/build.py), then runs one JVM that measures the workload and
checks its outputs. The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
A full artifact (run stamp, every call, spans) lands in .bench_build/out/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("drain_bulk", "corpus_gates")
RUN_TIMEOUT_S = 170


def java_cmd(classes, args, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:CICompilerCount=2"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop'}",
            "-cp", os.pathsep.join([str(classes)] + build.spark_jars()),
            "perfbench.Main"] + args
    return cmd


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a tiny one)")
    ap.add_argument("--perturb", action="store_true",
                    help="corrupt one output before the check (self-test)")
    ap.add_argument("--record", help="corpus_gates: write outputs and fingerprints here")
    a = ap.parse_args()

    root = Path.cwd()
    classes = build.build(root)  # raises SystemExit(2) when sources are missing
    work = root / ".bench_build" / "run" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", str(a.scale), "--work", str(work),
            "--data", str(HERE / "data" / "sf0.01"),
            "--expect", str(HERE / "expected_gates.json"),
            "--out", str(root / ".bench_build" / "out"),
            "--spawn-ms", str(int(time.time() * 1000))]
    if a.perturb:
        args.append("--perturb")
    if a.record:
        args += ["--record", str(Path(a.record).resolve())]
    env = dict(os.environ, PERFBENCH_COMMIT=build.commit(root),
               PERFBENCH_SOURCE_DIGEST=build.digest(root))
    proc = subprocess.Popen(java_cmd(classes, args, work), cwd=root, env=env,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {a.workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        sys.exit(3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(out)  # no result line on stdout for a failed run
        print(f"perfbench: harness exited {proc.returncode} without a result", file=sys.stderr)
        sys.exit(proc.returncode or 4)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
