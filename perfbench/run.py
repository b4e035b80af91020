"""Benchmark of array serving and analytics on deker_server_adapters_spark.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Workloads (README.md says why each was chosen):

- ``serve``: subset reads and lookups on a wide chunk store, updates and
  clears with verifying reads on a narrow one, and create/lookup/read/
  delete of modest arrays;
- ``analytics``: the registry's headline operators over tables generated
  from the seed.

Each is a closed loop with one client in one process on
``local[<cores>]``. Set-up (Spark session, store or table build and an
untimed warm-up) is timed as ``setup_s``; then the loop's steps run
until ``--seconds`` have passed (and at least one whole cycle). Every
timed op's output is checked. End-to-end times are scaled to a nominal
host speed by a reference loop timed in the same run (``host.py``). The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics, from a run whose
first half is untraced and second half traced, with the spans written to
``.perfbench/traces/``). Everything the run writes lives under
``.perfbench/`` in the repository and its working directory is deleted at
exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(1, ROOT)  # the program, from the checkout this file sits in
WORKLOADS = ("serve", "analytics")
SERVE_KINDS = ("read", "write", "create", "lookup")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "mini"), default="full",
        help="mini: a tiny store and sf0.001 tables, for the smoke test",
    )
    return p.parse_args(argv)


def isolate(run_dir: str, cores: int) -> None:
    """Point every temporary file of Python, Spark and the JVM into
    ``run_dir`` and let Python workers import the program."""
    tempfile.tempdir = run_dir
    jvm_opts = f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=run_dir,
        SPARK_LOCAL_DIRS=run_dir,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="4g",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}"),
                "--conf", "spark.ui.showConsoleProgress=false",
                "--driver-java-options", shlex.quote(jvm_opts),
                "pyspark-shell",
            ]
        ),
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it; the
    JVM is stopped even when the session cannot be."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def make_workload(args, spark, run_dir, tracer):
    import numpy as np

    if args.workload == "analytics":
        from analytics import Analytics

        return Analytics(spark, run_dir, args.seed, tracer, args.size)
    from serve import Serve

    return Serve(spark, os.path.join(run_dir, "store"), np.random.default_rng(args.seed), tracer, args.size)


def timed_window(w, seconds: float, probe) -> tuple[float, int, int]:
    """Steps of the closed loop until ``seconds`` have passed, and at
    least one whole cycle; the window ends only between steps, and the
    host-speed ``probe`` samples after each step. Returns the wall time,
    the index of the window's first op in the log and the index just
    past its first whole cycle."""
    first = len(w.log.seconds)
    t0 = time.perf_counter()
    cycle_end = None
    while True:
        for step in w.steps():
            if cycle_end is not None and time.perf_counter() - t0 >= seconds:
                return time.perf_counter() - t0, first, cycle_end
            step()
            probe.sample()
        if cycle_end is None:
            cycle_end = len(w.log.seconds)


def end_to_end(setup_s: float, setup_probe, w, window, probe) -> dict:
    """Both latency figures come from per-group medians over the window
    (a group is one op, or ops of about the same latency): the op mix
    is multimodal, so a plain median over all ops would jump between
    modes from run to run, and a mean over a few ops would follow the
    slowest. ``op_gmean_ms`` is the geometric mean of the group medians;
    ``ops_per_s`` is the ops of one cycle divided by the time they take
    at those medians. All three figures are scaled to the nominal host
    (``host.py``) by the probe samples of their own phase."""
    from common import geomean, label_medians

    log, (wall, first, cycle_end) = w.log, window
    groups = [w.group(label) for label in log.labels[first:]]
    medians = label_medians(groups, log.seconds[first:])
    counts = collections.Counter(groups)
    mix = collections.Counter(groups[: cycle_end - first])
    print(
        f"perfbench: {len(groups)} timed ops in {wall:.2f} s; median ms (samples) by group: "
        + ", ".join(f"{g} {m * 1000:.0f} ({counts[g]})" for g, m in medians.items()),
        file=sys.stderr,
    )
    measured = {
        "setup_s": setup_s,
        "ops_per_s": sum(mix.values()) / sum(n * medians[g] for g, n in mix.items()),
        "op_gmean_ms": geomean(medians.values()) * 1000.0,
    }
    print(
        f"perfbench: measured {measured}; reference loop {setup_probe.loop_ms:.3f} ms "
        f"in set-up, {probe.loop_ms:.3f} ms in the window",
        file=sys.stderr,
    )
    return {
        "setup_s": (setup_s * setup_probe.scale, "s"),
        "ops_per_s": (measured["ops_per_s"] / probe.scale, "1/s"),
        "op_gmean_ms": (measured["op_gmean_ms"] * probe.scale, "ms"),
    }


def per_layer(w, tracer, session_s, window, untraced, probe) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    from analytics import OPS
    from common import median, tail

    log, first = w.log, window[1]
    kinds, secs = log.kinds[first:], log.seconds[first:]

    def lat(*want):
        return [s * 1000.0 for k, s in zip(kinds, secs) if k in want]

    out = {"session.start_s": (session_s, "s"), "host.ref_loop_ms": (probe.loop_ms, "ms")}
    storage = {
        "storage.scan_build_ms": "ms", "storage.read_exec_ms": "ms",
        "storage.scans_per_read": "count", "storage.partitions_listed_per_read": "count",
        "storage.chunks_needed_per_read": "count", "storage.prune_ratio": "1",
        "storage.wide_scan_share": "1",
        "storage.update_ms": "ms", "storage.scans_per_update": "count",
        "storage.overwrite_ms": "ms", "storage.write_array_ms": "ms",
        "storage.write_amplification": "B/B", "storage.files_per_chunk_dir": "count",
        "catalog.lookup_ms": "ms", "catalog.meta_files_per_lookup": "count",
        "tables.load_table_ms": "ms", "tables.load_table_calls": "count",
    }
    for name in OPS:
        for part in ("builder_ms", "catalyst_ms", "action_ms"):
            storage[f"op.{name}.{part}"] = "ms"
    measured = w.layer_metrics()
    for name, unit in storage.items():
        out[name] = (measured.get(name, 0.0), unit)
    for kind in SERVE_KINDS + OPS:
        jobs, stages, tasks = tracer.spark_mean(kind)
        out[f"spark.jobs.{kind}"] = (jobs, "count")
        out[f"spark.stages.{kind}"] = (stages, "count")
        out[f"spark.tasks.{kind}"] = (tasks, "count")
    reads, writes = lat("read"), lat("write")
    read_tail, read_pct, read_n = tail(reads)
    write_tail, write_pct, write_n = tail(writes)
    out.update(
        {
            "read_p50_ms": (median(reads), "ms"),
            "read_tail_ms": (read_tail, "ms"),
            "read_tail_pct": (read_pct, "%"),
            "read_samples": (read_n, "count"),
            "lookup_p50_ms": (median(lat("lookup")), "ms"),
            "write_p50_ms": (median(writes), "ms"),
            "write_tail_ms": (write_tail, "ms"),
            "write_tail_pct": (write_pct, "%"),
            "write_samples": (write_n, "count"),
            "create_p50_ms": (median(lat("create")), "ms"),
        }
    )
    stats = w.stats() if hasattr(w, "stats") else {}
    out["stored_bytes_per_user_byte"] = (stats.get("stored_bytes_per_user_byte", 0.0), "B/B")
    out["store.partitions"] = (stats.get("partitions", 0), "count")
    out["error_rate"] = (log.failed / max(1, log.attempted), "1")
    # the untraced first half against the traced second half
    wall = window[0]
    op_ms = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None) * 1000.0
    child_ms = sum(
        s["end"] - s["start"]
        for s in tracer.spans
        if s["parent"] is not None and tracer.spans[s["parent"]]["parent"] is None
    ) * 1000.0
    out["trace.untraced_ops_per_s"] = (untraced, "1/s")
    out["trace.traced_ops_per_s"] = (len(secs) / wall, "1/s")
    out["trace.unattributed_share"] = (1.0 - op_ms / (wall * 1000.0), "1")
    out["trace.op_self_share"] = (1.0 - child_ms / op_ms if op_ms else 0.0, "1")
    return out


@contextlib.contextmanager
def spark_session(workload: str):
    """A Spark session on ``local[<cores>]`` whose temporary files all go
    to a fresh directory under ``.perfbench/runs``; yields (spark,
    directory, session start seconds). The JVM is stopped and waited for
    and the directory deleted on exit."""
    from deker_server_adapters_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(WORK, "runs"))
    spark = None
    try:
        isolate(run_dir, cores)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
        spark.sparkContext.setLogLevel("ERROR")
        yield spark, run_dir, time.perf_counter() - t0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            stop_children()  # a JVM whose session never finished starting
            shutil.rmtree(run_dir, ignore_errors=True)


def stop_children(timeout: float = 30.0) -> None:
    """Terminate and reap every process this one started that is still
    there, killing any that outlives ``timeout`` seconds."""
    me = os.getpid()
    children = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            children.append(int(entry))
    for pid in children:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + timeout
    for pid in children:
        try:
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.1)
        except ChildProcessError:  # already reaped
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    try:
        import deker_server_adapters_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the repository root", file=sys.stderr)
        return 2

    from host import HostProbe
    from spans import NullTracer, Tracer

    # on SIGTERM, unwind through spark_session so the JVM is stopped and
    # the run directory deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the host's speed through set-up: before and after each phase
    setup_probe = HostProbe(T_START)
    setup_probe.sample()
    with spark_session(args.workload) as (spark, run_dir, session_s):
        setup_probe.sample()
        w = make_workload(args, spark, run_dir, NullTracer())
        t1 = time.perf_counter()
        w.build()
        setup_probe.sample()
        t2 = time.perf_counter()
        w.warm_up(setup_probe)
        before = w.stats() if hasattr(w, "stats") else None
        setup_probe.sample()
        setup_s = time.perf_counter() - T_START
        print(
            f"perfbench: set-up {setup_s:.2f} s: session {session_s:.2f}, "
            f"build {t2 - t1:.2f}, warm-up {time.perf_counter() - t2:.2f}",
            file=sys.stderr,
        )

        if args.trace:
            probe = HostProbe()
            wall, first, _ = timed_window(w, args.seconds / 2, probe)
            untraced = (len(w.log.seconds) - first) / wall
            w.tracer = tracer = Tracer(spark)
            w.instrument()
            w.ops_run = 0
            window = timed_window(w, args.seconds / 2, probe)
            tracer.restore()
            metrics = per_layer(w, tracer, session_s, window, untraced, probe)
        else:
            probe = HostProbe()
            window = timed_window(w, args.seconds, probe)
            metrics = end_to_end(setup_s, setup_probe, w, window, probe)

        correct = w.log.failed == 0
        if before is not None:
            after = w.stats()
            print(f"perfbench: store at start {before}, at end {after}", file=sys.stderr)
            if after["partitions"] != before["partitions"]:
                print("perfbench: chunk-partition count drifted during the run", file=sys.stderr)
                correct = False
        if w.log.failures:
            print(f"perfbench: failures by op: {w.log.failures}", file=sys.stderr)
        result = {
            "correct": correct,
            "attempted": w.log.attempted,
            "failed": w.log.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(path, result)
            print(f"perfbench: spans written to {path}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
