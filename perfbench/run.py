#!/usr/bin/env python3
"""Run one benchmark workload against the graft library in this checkout.

    python3 perfbench/run.py --workload bulk_write --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (see
build.py), then starts one JVM with a single-process Spark session at
local[N], N = the cores this process may use. The JVM prints PROPERTIES
and SUMMARY lines, which are passed through, and a RESULT line, which is
checked against BENCHMARK.json and printed as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
and writes the spans to <build dir>/perfbench/traces/. Exits non-zero,
without a result line, when anything fails before a result exists.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout but the build dir
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def heap():
    """Half of MemTotal, clamped to 2..8 GiB (the same rule as the test command)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def commit():
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail(f"{spec_path} not found", 2)
    spec = json.loads(spec_path.read_text())
    workloads = [w["name"] for w in spec["workloads"]]

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    base = build.build_dir()
    work = base / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = base / "traces" / f"{a.workload}-seed{a.seed}.json"
    cores = len(os.sched_getaffinity(0))
    cp = os.pathsep.join([str(classes)] + [str(j) for j in build.spark_jars()])
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap()}", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dlog4j2.configurationFile={build.BENCH / 'conf' / 'log4j2.properties'}",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", str(work),
              "--data", str(build.BENCH / "data" / "ops"), "--commit", commit(),
              "--trace-out", str(trace_out)])

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the benchmark JVM did not finish within {JVM_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith(("PROPERTIES ", "SUMMARY ")):
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"the benchmark JVM exited with code {proc.returncode} and no result", 3)

    declared = spec["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    names = {m["name"] for m in declared}
    if set(got) != names:
        fail(f"metrics mismatch: missing {sorted(names - set(got))}, "
             f"undeclared {sorted(set(got) - names)}", 5)
    bad = [n for n, v in got.items() if not isinstance(v, (int, float)) or not math.isfinite(v)]
    if bad:
        fail(f"non-numeric metric values: {bad}", 5)
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
