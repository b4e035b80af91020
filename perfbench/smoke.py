"""Smoke test of the benchmark itself. Run from the repository root:

    python3 perfbench/smoke.py

It runs a miniature of each workload (a tiny store; sf0.001 tables and a
few operators) with and without tracing, and checks that the result line
names exactly the metrics and units of BENCHMARK.json. It then checks
that a deliberately corrupted mirror value and a corrupted result hash
are each counted as a failed op, and that the benchmark refuses to run,
printing no result, from a directory without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def run_cli(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def check_cli(spec: dict, workload: str, trace: int) -> list[str]:
    rc, out = run_cli("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "mini")
    errors = []
    if rc != 0:
        errors.append(f"{workload} trace={trace}: exit code {rc}")
    try:
        result = json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return errors + [f"{workload} trace={trace}: no JSON result line"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{workload} trace={trace}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        errors.append(f"{workload} trace={trace}: correct/attempted/failed = {result}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        errors.append(
            f"{workload} trace={trace}: metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
            f"units {[k for k in want if k in got and got[k] != want[k]]}"
        )
    for name, v in result.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            errors.append(f"{workload} trace={trace}: {name} is not a number")
    return errors


def check_corruption() -> list[str]:
    """In this process: corrupt one mirror cell and one expected hash."""
    import numpy as np

    from analytics import Analytics
    from host import HostProbe
    from run import spark_session
    from serve import Serve
    from spans import NullTracer

    errors = []
    with spark_session("smoke") as (spark, run_dir, _):
        w = Serve(spark, os.path.join(run_dir, "store"), np.random.default_rng(1), NullTracer(), "mini")
        w.build()
        w.read(w.wide, (slice(None), 0, 0), "clean")
        w.mirror[w.wide.id][3, 0, 0] += 1.0
        w.read(w.wide, (slice(None), 0, 0), "corrupted")
        if w.log.failures != {"corrupted": 1}:
            errors.append(f"serve: corrupted mirror value gave failures {w.log.failures}")

        a = Analytics(spark, run_dir, 1, NullTracer(), "mini")
        a.build()
        a.warm_up(HostProbe())
        victim = a.names[0]
        a.expected[victim] = "0" * 64
        for step in a.steps():
            step()
        if a.log.failures != {victim: 1}:
            errors.append(f"analytics: corrupted hash gave failures {a.log.failures}")
    return errors


def check_without_program() -> list[str]:
    """A directory holding only BENCHMARK.json and perfbench/."""
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = run_cli("--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or out.strip():
        return [f"without the program: exit code {rc}, output {out!r}"]
    return []


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--corruption":
        errors = check_corruption()
        print(json.dumps(errors))
        return 1 if errors else 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_without_program()
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            errors += check_cli(spec, workload, trace)
    # the corruption checks need their own process: a stopped Spark
    # session's JVM cannot be restarted in the same interpreter
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--corruption"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    try:
        errors += json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        errors.append(f"corruption checks: exit code {proc.returncode}, no result")
    for e in errors:
        print(f"smoke: FAIL {e}")
    print("smoke: ok" if not errors else f"smoke: {len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
