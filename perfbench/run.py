#!/usr/bin/env python3
"""The repository benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload crawl_e2e --seed 1 --seconds 5 --trace 0

Builds the library and the benchmark (perfbench/build.py) on first use,
runs the JVM side (graft.perfbench.Main) on local[4] with 4 shuffle
partitions, and prints its JSON result as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer ones with --trace 1,
exactly as BENCHMARK.json names them. Exits non-zero, without a result,
when the build, the run or the metric set fails.

Extra flags for the benchmark's own tests: --size tiny (small inputs) and
--corrupt pagerank|wcc (perturb one result before it is checked).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

JVM_DEADLINE_S = 170.0


def fail(msg: str, code: int = 2) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def expected_metrics(trace: bool) -> tuple:
    """(metric name -> unit for this mode, workload names) from BENCHMARK.json."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}, \
        [w["name"] for w in spec["workloads"]]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", choices=["pagerank", "wcc"])
    a = ap.parse_args()
    try:
        want, workloads = expected_metrics(a.trace == "1")
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; BENCHMARK.json has {workloads}")
    try:
        jar = build.build()
        jars = build.spark_jars()
    except (build.BuildError, OSError) as e:
        fail(f"build failed: {e}")

    work = build.build_dir() / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    arch = build.archive()
    cmd = build.jvm(jar, jars, work, f"-XX:SharedArchiveFile={arch}" if arch.is_file() else "-Xshare:auto")
    cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--work-dir", str(work)]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    if a.trace == "1":
        traces = build.build_dir() / "traces"
        traces.mkdir(exist_ok=True)
        cmd += ["--trace-out", str(traces / f"{a.workload}-seed{a.seed}.json")]

    lines = []
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def pump() -> None:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        rc = proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reader.join(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"the run did not finish within {JVM_DEADLINE_S:.0f} s", 3)
    if rc != 0:
        fail(f"the JVM exited with {rc}", 3)
    result = next((json.loads(l) for l in reversed(lines) if l.startswith("{")), None)
    if result is None:
        fail("the JVM printed no result", 3)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metric set differs from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}", 3)
    bad = [k for k, v in result["metrics"].items()
           if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if bad:
        fail(f"non-numeric metric values: {bad}", 3)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
