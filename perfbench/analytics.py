"""The analytics workload: the registry's headline operators, in a fixed
order, over tables generated from the run's seed.

Each operator is one timed op: its builder (Python plan construction
plus any eager driver rounds inside it) and then ``toPandas()`` on the
plan it returns, so every output column is computed. The first pass is
a warm-up in set-up: it compiles the generated code and starts the
Python workers, and at sf0.1 it took 69 s against 21.6 and 23.0 s for
the next two passes. Its results are checked once against
each operator's DuckDB oracle SQL; every timed pass is checked against
that result's hash.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import sys
import time

from common import OpLog, run_op

# The headline operators (``Op.headline``), in the order they run, less
# ``deker_datasource_read``: staging its warehouse adds 11.7 s to every
# run's set-up, which the benchmark's run budget cannot carry.
OPS = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_orders",
    "events_sessionization",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_components",
    "docs_dedup_pipeline",
    "ann_cosine_topk",
    "array_slice_agg",
)

# Table sizes relative to sf0.1 (0.1 -> sf0.01: 60k lineitem rows), and
# the operators each size runs; the smoke test's "mini" runs a few.
SCALE = {"full": 0.1, "mini": 0.01}
RUNS = {"full": OPS, "mini": ("q1_pricing_summary", "events_sessionization", "array_slice_agg")}


def _canon(v):
    """A hashable, order-stable form of one result cell. Floats keep
    every digit (repr round-trips); NaN and None are both SQL NULL."""
    import numpy as np

    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def result_hash(pdf) -> str:
    """Order-insensitive value hash of a result, with the normalisation
    the repository's DuckDB parity tests use: columns by name,
    timestamps as microsecond strings, floats as float64, integer-valued
    object columns as int64, rows as a sorted multiset."""
    import pandas as pd

    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]) or df[c].dtype == object and all(
            isinstance(v, int) for v in df[c].dropna().head(5)
        ):
            try:
                df[c] = df[c].astype("int64")
            except (ValueError, TypeError, OverflowError):
                pass
    rows = sorted(repr(tuple(_canon(v) for v in row)) for row in df.itertuples(index=False))
    h = hashlib.sha256(repr(list(df.columns)).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _oracle_hashes(data_dir: str, queries: dict[str, str]) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(p)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        return {name: result_hash(con.execute(sql).fetchdf()) for name, sql in queries.items()}
    finally:
        con.close()


class Analytics:
    """The analytics workload: build, warm_up, then steps() per pass."""

    def __init__(self, spark, root, seed, tracer, size="full"):
        self.spark = spark
        self.tracer = tracer
        self.log = OpLog()
        self.data_dir = os.path.join(root, "tables")
        self.seed = seed
        self.scale = SCALE[size]
        self.names = RUNS[size]
        self.expected: dict[str, str] = {}
        self.ops_run = 0

    def build(self) -> None:
        from deker_server_adapters_spark.operators import all_ops
        from deker_server_adapters_spark.tools.gen_testdata import generate

        generate(self.data_dir, self.scale, seed=self.seed)
        registry = all_ops()
        self.ops = {name: registry[name] for name in self.names}
        missing = [n for n, op in self.ops.items() if not op.headline or op.oracle is None]
        if missing:
            raise SystemExit(f"perfbench: not headline ops with an oracle: {missing}")

    def warm_up(self, probe) -> None:
        """The first pass, with each result checked against its DuckDB
        oracle. The oracle queries run on one DuckDB thread beside the
        Spark pass, since they share no state with it. The host-speed
        ``probe`` samples after the oracle is done and after each op
        that follows."""
        from concurrent.futures import ThreadPoolExecutor

        got = {}
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(_oracle_hashes, self.data_dir, {n: op.oracle for n, op in self.ops.items()})
            for name, op in self.ops.items():
                t0 = time.perf_counter()
                got[name] = result_hash(op.builder(self.spark, self.data_dir).toPandas())
                print(f"perfbench: warm-up {name}: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
                if oracle.done():
                    probe.sample()
            self.expected = oracle.result()
        for name in self.ops:
            self.log.record_untimed(f"oracle {name}", got[name] == self.expected[name])

    def _execute(self, op):
        t = self.tracer
        with t.span("op.builder"):
            df = op.builder(self.spark, self.data_dir)
        with t.span("op.action") as attrs:
            pdf = df.toPandas()
        if t.enabled:
            attrs["catalyst_ms"] = _catalyst_ms(df)
        return pdf

    def step(self, name: str) -> None:
        want = self.expected[name]
        run_op(self.log, self.tracer, name, lambda: self._execute(self.ops[name]), lambda pdf: result_hash(pdf) == want)
        self.ops_run += 1

    def steps(self):
        """One pass: each operator once, in order."""
        for name in self.ops:
            yield lambda name=name: self.step(name)

    @staticmethod
    def group(label: str) -> str:
        return label

    # -- tracing -----------------------------------------------------------

    def instrument(self) -> None:
        """Spans around ``load_table`` wherever an operator module bound it."""
        from deker_server_adapters_spark.sources import tables

        original = tables.load_table
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("deker_server_adapters_spark") and (
                getattr(mod, "load_table", None) is original
            ):
                self.tracer.patch(mod, "load_table", "tables.load_table")

    def layer_metrics(self) -> dict:
        t = self.tracer
        passes = max(1, self.ops_run) / len(self.ops)
        out = {
            "tables.load_table_ms": t.total_ms("tables.load_table") / passes,
            "tables.load_table_calls": len(t.closed("tables.load_table")) / passes,
        }
        ops = {s["id"]: s for s in t.spans if s["name"].startswith("op.") and s["parent"] is None}
        for name in OPS:
            ids = {i for i, s in ops.items() if s["name"] == f"op.{name}"}
            builder = [s for s in t.closed("op.builder") if s["parent"] in ids]
            action = [s for s in t.closed("op.action") if s["parent"] in ids]
            n = max(1, len(ids))
            out[f"op.{name}.builder_ms"] = sum(s["end"] - s["start"] for s in builder) * 1000.0 / n
            out[f"op.{name}.catalyst_ms"] = sum(s["attrs"].get("catalyst_ms", 0.0) for s in action) / n
            out[f"op.{name}.action_ms"] = sum(s["end"] - s["start"] for s in action) * 1000.0 / n
        return out


def _catalyst_ms(df) -> float:
    """Analysis + optimisation + planning time of the plan the action
    ran, from Spark's query-planning tracker (0 where not reachable)."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # not a classic JVM-backed DataFrame
        return 0.0
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            total += phases.apply(phase).durationMs()
    return float(total)
