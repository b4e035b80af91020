"""Chunked-parquet storage for N-d arrays.

Layout (one dataset per collection):

    {collection}/chunks/array_id=<id>/chunk_idx=<k>/*.parquet
        origin: array<long>   -- grid origin of this chunk (per dim)
        shape:  array<long>   -- chunk shape (per dim)
        data:   array<double> -- C-order flattened cells

Spark-first consequences:

- ``array_id`` and ``chunk_idx`` are *directory partition columns*.
  A scan hands Spark only the directories the op needs: the
  overlapped ``array_id=<id>/chunk_idx=<k>`` directories of a slice
  read or update, or the ``array_id=<id>`` directory of a whole-array
  view, with ``basePath`` at the dataset root so both partition
  columns still resolve. Spark lists and reads nothing else — the role
  Deker's per-array HDF5 files + hash-ring routing play for the
  reference. Directory names carry the id escaped the way Spark's
  partitioned writer escapes it (``array_dir_name``), whichever writer
  made them.
- A subset read is: pruned scan → ``mapInPandas`` numpy slice per
  chunk (Arrow-batched) → assemble. Work is proportional to the
  slice, not the array.
- A subset write is copy-on-write at chunk granularity: only the
  overlapped ``chunk_idx`` partitions are rewritten (dynamic
  partition overwrite), mirroring Deker's subset PUT
  (reference base.py:272-303).
- ``cell_df`` exposes any array as a long-format DataFrame
  (dim indices + value) with pure-JVM index arithmetic, so arrays
  join/aggregate with relational tables in one Catalyst plan.
"""

from __future__ import annotations

import math
import os
import re
import threading
from typing import Iterable, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from deker_server_adapters_spark.core.errors import DekerDataPointsLimitError, DekerSubsetError

Bounds = Union[int, slice, tuple]

CHUNK_SCHEMA = StructType(
    [
        StructField("array_id", StringType(), False),
        StructField("chunk_idx", LongType(), False),
        StructField("origin", ArrayType(LongType(), False), False),
        StructField("shape", ArrayType(LongType(), False), False),
        StructField("data", ArrayType(DoubleType(), True), False),
        # placement rank: when runs overlap, the HIGHEST seq wins. Every
        # writer stamps it ((~ms clock) << 20 | within-task counter), so
        # ordering is explicit in the data — not derived from file names,
        # which neither Spark's scan (size-packed splits) nor compaction
        # (merged files) preserves. Nullable: legacy files read as null
        # (treated as oldest). Write events that land in the same ~ms on
        # different writers are mutually unordered, same as any two
        # uncoordinated appends.
        StructField("seq", LongType(), True),
    ]
)

# Spark's partitioned writer writes these characters of a partition
# value as %XX (ExternalCatalogUtils.escapePathName), and its listing
# turns every %XX back into its character; all else stays as is.
_ESCAPED = frozenset([chr(c) for c in range(1, 0x20)] + list("\"#%'*/:=?[\\]^{\x7f"))
_ESCAPE_SEQ = re.compile("%([0-9A-Fa-f]{2})")


def array_dir_name(array_id: str) -> str:
    """``array_id=<id>``: the directory of one array's chunks, named as
    Spark's partitioned writer names it. Every writer, scan and delete
    of the chunk store builds the name here."""
    escaped = "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in array_id)
    return f"array_id={escaped}"


def array_id_of(dir_name: str) -> str | None:
    """The array id Spark reads from a chunk-store directory name, or
    None for an entry that is not an array directory."""
    if not dir_name.startswith("array_id="):
        return None
    return _ESCAPE_SEQ.sub(lambda m: chr(int(m.group(1), 16)), dir_name[len("array_id="):])


_SEQ_COUNTER_BITS = 20
_SEQ_LOCK = threading.Lock()
_SEQ_LAST = 0


def next_write_seq() -> int:
    """Base placement stamp for one write event: wall-clock at ~ms
    granularity shifted to leave ``_SEQ_COUNTER_BITS`` low bits for a
    within-task run counter. Fits int64 until ~year 2150.

    Strictly MONOTONIC within a process: two write events issued
    back-to-back in the same clock tick (or across an NTP step
    backwards — ``time_ns`` is not monotonic) still get increasing
    stamps, so same-driver engine writes always resolve last-write-wins
    in issue order. Across processes (concurrent writers on different
    machines) ordering remains wall-clock ~ms — the documented
    uncoordinated-append caveat."""
    import time

    global _SEQ_LAST
    with _SEQ_LOCK:
        stamp = (time.time_ns() >> _SEQ_COUNTER_BITS) << _SEQ_COUNTER_BITS
        if stamp <= _SEQ_LAST:
            stamp = _SEQ_LAST + (1 << _SEQ_COUNTER_BITS)
        _SEQ_LAST = stamp
        return stamp

# default cap on cells materialized to the driver by read_data —
# parity with the reference's data-points limit (413 handling).
DEFAULT_MAX_POINTS = 64 * 1024 * 1024


def resolve_bounds(bounds: Bounds, dimensions) -> Bounds:
    """Resolve labeled / time-dimension values (strings, datetimes) in
    bounds to integer positions via each DimensionSchema. A slice stop
    given as label/datetime is inclusive-resolved then +1 (matches the
    Deker convention that label ranges include their endpoint)."""
    if not isinstance(bounds, tuple):
        bounds = (bounds,)
    if len(bounds) > len(dimensions):
        # over-length bounds: pass through; normalize_bounds raises the
        # proper DekerSubsetError with rank details
        return bounds
    out = []
    for d, b in enumerate(bounds):
        dim = dimensions[d]
        if isinstance(b, slice):
            start = b.start if b.start is None or isinstance(b.start, int) else dim.index_of(b.start)
            if b.stop is None or isinstance(b.stop, int):
                stop = b.stop
            else:
                stop = dim.index_of(b.stop) + 1
            out.append(slice(start, stop, b.step))
        elif b is None or isinstance(b, int):
            out.append(b)
        else:
            out.append(dim.index_of(b))
    return tuple(out)


def normalize_bounds(bounds: Bounds, shape: Sequence[int]) -> list[tuple[int, int, bool]]:
    """Normalize numpy-style bounds to per-dim (start, stop, squeeze).

    Supports int and start/stop slices (no step), like the reference's
    slice_converter subset URLs. Missing trailing dims = full range.
    """
    if not isinstance(bounds, tuple):
        bounds = (bounds,)
    if len(bounds) > len(shape):
        raise DekerSubsetError(f"bounds rank {len(bounds)} > array rank {len(shape)}")
    out: list[tuple[int, int, bool]] = []
    for d, size in enumerate(shape):
        if d >= len(bounds):
            out.append((0, size, False))
            continue
        b = bounds[d]
        if isinstance(b, int):
            if b < 0:
                b += size
            if not 0 <= b < size:
                raise DekerSubsetError(f"index {b} out of range for dim {d} of size {size}")
            out.append((b, b + 1, True))
        elif isinstance(b, slice):
            if b.step not in (None, 1):
                raise DekerSubsetError("step slices are not supported")
            start, stop, _ = b.indices(size)
            if stop < start:
                stop = start
            out.append((start, stop, False))
        else:
            raise DekerSubsetError(f"unsupported bound {b!r} for dim {d}")
    return out


def default_chunk_grid(shape: Sequence[int], target_cells: int = 1 << 20) -> tuple[int, ...]:
    """Split the first dimension into slabs of ~target_cells cells."""
    inner = math.prod(shape[1:]) if len(shape) > 1 else 1
    rows = max(1, min(shape[0], target_cells // max(inner, 1) or 1))
    splits0 = math.ceil(shape[0] / rows)
    return (splits0,) + (1,) * (len(shape) - 1)


class ChunkGrid:
    """Regular chunk grid over an N-d shape (vgrid generalization)."""

    def __init__(self, shape: Sequence[int], splits: Sequence[int]):
        assert len(shape) == len(splits)
        self.shape = tuple(shape)
        self.splits = tuple(splits)
        self.chunk_shape = tuple(
            math.ceil(s / g) for s, g in zip(self.shape, self.splits)
        )

    @property
    def n_chunks(self) -> int:
        return math.prod(self.splits)

    def chunk_position(self, idx: int) -> tuple[int, ...]:
        pos = []
        for g in reversed(self.splits):
            pos.append(idx % g)
            idx //= g
        return tuple(reversed(pos))

    def chunk_index(self, pos: Sequence[int]) -> int:
        idx = 0
        for p, g in zip(pos, self.splits):
            idx = idx * g + p
        return idx

    def chunk_box(self, idx: int) -> list[tuple[int, int]]:
        """[(start, stop)] per dim for chunk idx (clipped to shape)."""
        pos = self.chunk_position(idx)
        return [
            (p * c, min((p + 1) * c, s))
            for p, c, s in zip(pos, self.chunk_shape, self.shape)
        ]

    def overlapping_chunks(self, norm: list[tuple[int, int, bool]]) -> list[int]:
        """Chunk indices whose box intersects the normalized bounds."""
        ranges = []
        for (start, stop, _), c, g in zip(norm, self.chunk_shape, self.splits):
            lo = start // c
            hi = min((stop - 1) // c, g - 1) if stop > start else lo - 1
            ranges.append(range(lo, hi + 1))
        idxs: list[int] = []

        def rec(d: int, pos: list[int]) -> None:
            if d == len(ranges):
                idxs.append(self.chunk_index(pos))
                return
            for p in ranges[d]:
                rec(d + 1, pos + [p])

        rec(0, [])
        return sorted(idxs)


def _merge_chunk_dir(d: str) -> int:
    """Merge every parquet file in one chunk-partition dir into a
    single file. Runs on executors; returns 1 if the dir was compacted.

    - Placement order survives the merge because it lives in the
      explicit ``seq`` column, not file names; rows from a legacy file
      that predates ``seq`` get a synthesized small seq (its rank in
      sorted-file-name order — the legacy visit-order convention), so
      they stay older than every stamped run.
    - Files are CAST to one canonical Arrow schema before concat:
      Spark-written files name list items ``element`` while
      pyarrow-written ones use ``item``, and ``concat_tables`` treats
      those as unequal schemas — a chunk dir mixing engine COW rewrites
      with deker bulk appends would otherwise fail to compact.
    - In-flight writer temp files (dot-prefixed) are never touched —
      they belong to an uncommitted task attempt.
    - Races: a file that vanishes between the listing snapshot and its
      read (concurrent ``delete_array``) is skipped; only files that
      were actually merged are removed, and removal tolerates a
      concurrent delete. The merged output publishes atomically (dot-
      prefixed temp + ``os.replace``), so a concurrent reader can never
      open a partially-written merge file; a crashed compact's temp is
      GC'd by the next compact of the dir. Two concurrent compacts of
      the SAME dir remain unsupported (each would merge-and-remove the
      other's output).
    """
    import os as _os
    import uuid as _uuid

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    canonical = _pa.schema(
        [
            ("origin", _pa.list_(_pa.int64())),
            ("shape", _pa.list_(_pa.int64())),
            ("data", _pa.list_(_pa.float64())),
            ("seq", _pa.int64()),
        ]
    )
    listing = _os.listdir(d)
    # GC temp output of a crashed prior compact of THIS dir (concurrent
    # compacts of one dir are unsupported, so any such file is stale)
    for f in listing:
        if f.startswith(".part-compact-") and f.endswith(".tmp"):
            try:
                _os.remove(_os.path.join(d, f))
            except FileNotFoundError:
                pass
    files = sorted(
        f for f in listing if f.endswith(".parquet") and not f.startswith(".")
    )
    if len(files) < 2:
        return 0
    tables, merged_files = [], []
    for rank, f in enumerate(files):
        try:
            t = _pq.read_table(_os.path.join(d, f))
        except (FileNotFoundError, OSError):
            continue  # vanished since the listing snapshot: skip, keep
        if "seq" not in t.schema.names:
            t = t.append_column(
                "seq", _pa.array([rank] * len(t), _pa.int64())
            )
        tables.append(t.select(canonical.names).cast(canonical))
        merged_files.append(f)
    if len(tables) < 2:
        return 0
    merged = _pa.concat_tables(tables)
    # Publish atomically, matching the writer's temp/rename protocol: a
    # dot-prefixed temp name is invisible to every listing (batch relist,
    # stream reader, dedup replay), so no concurrent reader can open a
    # partially-written merge output; os.replace makes it appear whole.
    token = _uuid.uuid4().hex
    out = _os.path.join(d, f"part-compact-{token}.parquet")
    tmp = _os.path.join(d, f".part-compact-{token}.parquet.tmp")
    _pq.write_table(merged, tmp)
    _os.replace(tmp, out)
    for f in merged_files:
        try:
            _os.remove(_os.path.join(d, f))
        except FileNotFoundError:
            pass
    return 1


class ChunkStore:
    """Reads/writes the chunk dataset of one collection."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.join(path, "chunks")

    # -- write ------------------------------------------------------------

    def _rows_from_ndarray(
        self, array_id: str, grid: ChunkGrid, data: np.ndarray
    ) -> Iterable[dict]:
        seq = next_write_seq()  # one stamp per write event; chunks are disjoint
        for idx in range(grid.n_chunks):
            box = grid.chunk_box(idx)
            piece = data[tuple(slice(a, b) for a, b in box)]
            yield {
                "array_id": array_id,
                "chunk_idx": idx,
                "origin": [a for a, _ in box],
                "shape": list(piece.shape),
                "data": piece.astype(np.float64).ravel(order="C").tolist(),
                "seq": seq,
            }

    def write_array(self, array_id: str, grid: ChunkGrid, data: np.ndarray) -> None:
        df = self.spark.createDataFrame(list(self._rows_from_ndarray(array_id, grid, data)), CHUNK_SCHEMA)
        self._write(df, mode="append")

    def write_fill(self, array_id: str, grid: ChunkGrid, fill_value: float) -> None:
        """Materialize a fill-value array without driver-side data:
        chunk geometry is generated distributively from spark.range."""
        boxes = [
            (idx, [a for a, _ in grid.chunk_box(idx)], [b - a for a, b in grid.chunk_box(idx)])
            for idx in range(grid.n_chunks)
        ]
        meta = self.spark.createDataFrame(
            [(array_id, i, o, s) for i, o, s in boxes],
            "array_id string, chunk_idx long, origin array<long>, shape array<long>",
        )
        df = meta.withColumn(
            "data",
            F.expr(
                f"transform(sequence(1, CAST(aggregate(shape, 1L, (a, x) -> a * x) AS INT)), "
                f"i -> CAST({fill_value} AS DOUBLE))"
            ),
        ).withColumn("seq", F.lit(next_write_seq()))
        self._write(df.select(*[f.name for f in CHUNK_SCHEMA.fields]), mode="append")

    def write_from_cells(
        self,
        array_id: str,
        grid: ChunkGrid,
        cells: DataFrame,
        dim_cols: Sequence[str],
        value_col: str,
        fill_value: float = 0.0,
    ) -> None:
        """Distributed build: materialize an N-d array from a long-format
        DataFrame of (dim indices..., value) WITHOUT collecting to the
        driver — the 100 TB ingest path.

        chunk_idx is pure-JVM arithmetic on the dim columns, the
        shuffle is one groupBy(chunk_idx), and each chunk ndarray is
        assembled by an Arrow-batched applyInPandas. Cells absent from
        the input get ``fill_value``.
        """
        n = len(dim_cols)
        idx_expr = "0L"
        for d in range(n):
            idx_expr = f"(({idx_expr}) * {grid.splits[d]}) + (CAST({dim_cols[d]} AS BIGINT) DIV {grid.chunk_shape[d]})"
        with_idx = cells.select(
            F.expr(idx_expr).alias("chunk_idx"),
            *[F.col(c).cast("long").alias(c) for c in dim_cols],
            F.col(value_col).cast("double").alias("__value"),
        ).persist()  # read twice: chunk build + present-idx probe
        write_seq = next_write_seq()  # one stamp: output chunks are disjoint
        grid_bc = self.spark.sparkContext.broadcast(
            {
                "splits": grid.splits,
                "chunk_shape": grid.chunk_shape,
                "shape": grid.shape,
                "fill": float(fill_value),
                "array_id": array_id,
                "dims": list(dim_cols),
                "seq": write_seq,
            }
        )

        def build_chunk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            g = grid_bc.value
            idx = int(key[0])
            # recompute the chunk box (mirrors ChunkGrid.chunk_box)
            pos = []
            rest = idx
            for s in reversed(g["splits"]):
                pos.append(rest % s)
                rest //= s
            pos = list(reversed(pos))
            box = [
                (p * c, min((p + 1) * c, s))
                for p, c, s in zip(pos, g["chunk_shape"], g["shape"])
            ]
            shape = [b - a for a, b in box]
            arr = np.full(shape, g["fill"], dtype=np.float64)
            coords = tuple(
                pdf[d].to_numpy() - a for d, (a, _) in zip(g["dims"], box)
            )
            arr[coords] = pdf["__value"].to_numpy()
            return pd.DataFrame(
                [
                    {
                        "array_id": g["array_id"],
                        "chunk_idx": idx,
                        "origin": [a for a, _ in box],
                        "shape": shape,
                        "data": arr.ravel(order="C"),
                        "seq": g["seq"],
                    }
                ]
            )

        try:
            present = with_idx.groupBy("chunk_idx").applyInPandas(build_chunk, CHUNK_SCHEMA)
            # chunks that receive no cells still need fill rows; derive them
            # from the input (cheap distinct on ints) and write everything in
            # ONE job — no read-back of the freshly written store.
            present_idxs = {
                int(r["chunk_idx"]) for r in with_idx.select("chunk_idx").distinct().collect()
            }
            missing = [i for i in range(grid.n_chunks) if i not in present_idxs]
            if missing:
                boxes = [
                    (array_id, i, [a for a, _ in grid.chunk_box(i)], [b - a for a, b in grid.chunk_box(i)])
                    for i in missing
                ]
                meta = self.spark.createDataFrame(
                    boxes, "array_id string, chunk_idx long, origin array<long>, shape array<long>"
                )
                fill_df = (
                    meta.withColumn(
                        "data",
                        F.expr(
                            f"transform(sequence(1, CAST(aggregate(shape, 1L, (a, x) -> a * x) AS INT)), "
                            f"i -> CAST({float(fill_value)} AS DOUBLE))"
                        ),
                    )
                    .withColumn("seq", F.lit(write_seq))
                    .select(*[f.name for f in CHUNK_SCHEMA.fields])
                )
                present = present.unionByName(fill_df)
            self._write(present, mode="append")
        finally:
            # the cache exists only for this build's two reads — holding
            # it past the write pins executor memory for the session
            with_idx.unpersist()

    def _write(self, df: DataFrame, mode: str) -> None:
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            df.repartition("array_id", "chunk_idx")
            .write.mode(mode)
            .partitionBy("array_id", "chunk_idx")
            .parquet(self.path)
        )

    def overwrite_chunks(self, df: DataFrame) -> None:
        """Copy-on-write: replaces only the (array_id, chunk_idx)
        partitions present in df (dynamic partition overwrite)."""
        self._write(df, mode="overwrite")

    # -- read -------------------------------------------------------------

    def _array_dirs(self, array_id: str) -> list[str]:
        """The directories Spark reads as this array's partition: the
        escaped name, plus the raw name that ``deker`` bulk appends
        wrote before they escaped ids, where it parses to the same id."""
        names = {array_dir_name(array_id), f"array_id={array_id}"}
        return [os.path.join(self.path, n) for n in sorted(names) if array_id_of(n) == array_id]

    @staticmethod
    def _existing(paths: list[str]) -> list[str]:
        return [p for p in paths if os.path.isdir(p)]

    def _read(self, paths: list[str]) -> DataFrame:
        """The chunk rows under ``paths`` (dataset root or partition
        directories). Spark lists only these; ``basePath`` keeps
        ``array_id``/``chunk_idx`` as partition columns. Absent
        directories hold no rows — including one that vanishes between
        the existence check and Spark's own (a concurrent delete): the
        read retries without it rather than raise ``PATH_NOT_FOUND``."""
        paths = self._existing(list(dict.fromkeys(paths)))
        while True:
            reader = self.spark.read.schema(CHUNK_SCHEMA)
            if paths:  # an empty read needs no (possibly absent) root
                reader = reader.option("basePath", self.path)
            try:
                return reader.parquet(*paths)
            except AnalysisException as e:
                live = self._existing(paths)
                if e.getCondition() != "PATH_NOT_FOUND" or len(live) == len(paths):
                    raise
                paths = live

    def scan(self, array_id: str, chunk_idxs: list[int] | None = None) -> DataFrame:
        """One array's chunk rows, or only those of ``chunk_idxs``. The
        partition filters repeat what the directory set already selects;
        they cost nothing and show the prune in the plan."""
        dirs = self._array_dirs(array_id)
        keep = F.col("array_id") == array_id
        if chunk_idxs is not None:
            idxs = sorted({int(i) for i in chunk_idxs})
            dirs = [os.path.join(d, f"chunk_idx={i}") for d in dirs for i in idxs]
            keep &= F.col("chunk_idx").isin(idxs)
        return self._read(dirs).filter(keep)

    def scan_arrays(self, array_ids: Sequence[str] | None = None) -> DataFrame:
        """The chunk rows of several arrays; of every array when None."""
        if array_ids is None:
            return self._read([self.path])
        return self._read([d for a in array_ids for d in self._array_dirs(a)])

    def compact(self, min_files: int = 2, gc_temp_age_sec: float = 86400.0) -> int:
        """Maintenance: merge multi-file chunk partitions back to ONE
        parquet file per (array_id, chunk_idx) dir. Bulk appends via the
        ``deker`` writer leave one file per chunk per TASK per write (a
        streaming sink adds one per micro-batch), and every query then
        pays per-file open/footer + per-split scheduler cost — the
        small-file problem ``plans.layout.compaction_plan`` sizes for
        flat stores, applied per Hive partition here (chunk partitions
        must keep their own directories, so compaction merges WITHIN
        each).

        Distributed: the chunk-dir list parallelizes over executors and
        each dir merges independently (bounded by one chunk's bytes).
        Placement semantics survive the merge because run precedence is
        the explicit ``seq`` column, not file order (legacy seq-less
        rows get a synthesized rank — see ``_merge_chunk_dir``).
        Crash window: a failure between writing the merged file and
        removing the inputs leaves duplicate RUNS, which re-place the
        same values — reads stay correct, and the next compact pass
        heals the dir.

        Concurrency: safe alongside an active ``writeStream`` — a
        writer task's in-flight dot-prefixed temp files are invisible
        here (and to every reader) until its commit renames them, and a
        committed file that appears after this pass's listing snapshot
        is simply not merged this time. Vanished files (concurrent
        ``delete_array``) are skipped. Two concurrent compact() calls
        on the SAME store are not supported.

        Returns the number of chunk dirs compacted. NOTE for changefeed
        consumers: the merged file is a NEW file, so a running
        ``readStream`` re-emits compacted chunks (CDC re-emission, same
        as any COW rewrite).

        Maintenance cadence: each compact() pass also runs the
        age-gated :meth:`gc_temps` (``gc_temp_age_sec``; 0 disables) —
        commit-time temp GC is scoped to each write's own job id, so
        temps from CRASHED writers are reclaimed by nothing else; a
        deployment that compacts periodically therefore never
        accumulates invisible orphan disk. Standalone ``gc_temps()``
        remains for stores that never need compaction.

        WRITER-DURATION CONTRACT (r11 advice): the age gate assumes no
        live writer holds an uncommitted temp file longer than
        ``gc_temp_age_sec`` (default 1 h) — a bulk write legitimately
        in flight past that horizon would have its temps reclaimed by
        a concurrent compact() and lose the write silently. Deployments
        with longer-running writers must raise ``gc_temp_age_sec``
        above their worst-case write duration, or pass 0 to make
        compact() side-effect-free and run ``gc_temps`` on their own
        schedule. The same contract governs standalone ``gc_temps``.
        """
        import glob as _glob

        if gc_temp_age_sec > 0:
            self.gc_temps(max_age_sec=gc_temp_age_sec)
        dirs = [
            d
            for d in _glob.glob(os.path.join(self.path, "array_id=*", "chunk_idx=*"))
            if len(
                [
                    f
                    for f in os.listdir(d)
                    if f.endswith(".parquet") and not f.startswith(".")
                ]
            )
            >= min_files
        ]
        if not dirs:
            return 0
        sc = self.spark.sparkContext
        n_slices = min(len(dirs), sc.defaultParallelism)
        return int(
            sc.parallelize(dirs, n_slices).map(_merge_chunk_dir).sum()
        )

    def maintenance_stats(self) -> DataFrame:
        """Per-chunk-dir maintenance view — the table an operator
        queries to decide WHERE to compact: visible file count and
        bytes (feeds ``plans.layout.compaction_plan`` thresholds) plus
        in-flight/orphaned dot-prefixed temp count. Dir names list on
        the driver (pure metadata, same as ``compact``); per-dir stat
        work parallelizes over executors, so millions of chunk dirs
        stat at cluster width, not driver speed. Vanished files/dirs
        (concurrent delete or compact) are tolerated."""
        import glob as _glob

        dirs = _glob.glob(os.path.join(self.path, "array_id=*", "chunk_idx=*"))
        if not dirs:
            return self.spark.createDataFrame(
                [],
                "array_id string, chunk_idx long, n_files long, "
                "bytes long, n_temp long",
            )

        def _stat(d: str):
            import os as _os

            try:
                names = _os.listdir(d)
            except FileNotFoundError:
                return None
            vis = [
                f
                for f in names
                if f.endswith(".parquet") and not f.startswith(".")
            ]
            # in-flight/orphaned temps only — count just the engine's
            # own temp name shapes (writer temps + compact temps), not
            # any dotfile: Hadoop .crc companions or unrelated hidden
            # files must not read as uncommitted writes
            from deker_server_adapters_spark.sources.deker_datasource import (
                TMP_PREFIX as _TMP,
            )

            n_temp = sum(
                1
                for f in names
                if f.startswith(_TMP) or f.startswith(".part-compact-")
            )
            total = 0
            for f in vis:
                try:
                    total += _os.path.getsize(_os.path.join(d, f))
                except FileNotFoundError:
                    pass
            adir, cdir = d.split(_os.sep)[-2:]
            return (
                array_id_of(adir),
                int(cdir.split("=", 1)[1]),
                len(vis),
                total,
                n_temp,
            )

        sc = self.spark.sparkContext
        n_slices = min(len(dirs), sc.defaultParallelism)
        rows = sc.parallelize(dirs, n_slices).map(_stat).filter(
            lambda r: r is not None
        )
        return self.spark.createDataFrame(
            rows,
            "array_id string, chunk_idx long, n_files long, "
            "bytes long, n_temp long",
        )

    def gc_temps(self, max_age_sec: float = 86400.0) -> int:
        """Reclaim dot-prefixed temp files orphaned by CRASHED writes.

        Commit-time GC is scoped to each write's own write_id-stamped
        temp names (sources/deker_datasource._finalize_files), so a
        write that dies before commit leaves temps nobody else may
        touch — invisible to every reader, but disk they hold is real.
        This explicit maintenance pass removes writer temps
        (``TMP_PREFIX``) and stale compact temps (``.part-compact-*
        .tmp``) older than ``max_age_sec``. The age gate is the safety
        contract: run it only with ``max_age_sec`` comfortably above
        the longest write a live job could still be executing (default
        one day). Distributed the same way as ``maintenance_stats`` —
        driver lists dirs (metadata), executors stat and delete."""
        import glob as _glob
        import time as _time

        from deker_server_adapters_spark.sources.deker_datasource import (
            TMP_PREFIX as _TMP,
        )

        dirs = _glob.glob(os.path.join(self.path, "array_id=*", "chunk_idx=*"))
        if not dirs:
            return 0
        cutoff = _time.time() - float(max_age_sec)

        def _gc(d: str) -> int:
            import os as _os

            removed = 0
            try:
                names = _os.listdir(d)
            except FileNotFoundError:
                return 0
            for f in names:
                is_writer_tmp = f.startswith(_TMP)
                is_compact_tmp = f.startswith(".part-compact-") and f.endswith(
                    ".tmp"
                )
                if not (is_writer_tmp or is_compact_tmp):
                    continue
                p = _os.path.join(d, f)
                try:
                    if _os.path.getmtime(p) < cutoff:
                        _os.remove(p)
                        removed += 1
                except OSError:
                    # skip-and-continue: a vanished/unreadable/undeletable
                    # file (racing writer, permissions, stale NFS handle,
                    # EIO) must not abort the whole maintenance sweep and
                    # lose the count of temps already reclaimed
                    pass
            return removed

        sc = self.spark.sparkContext
        n_slices = min(len(dirs), sc.defaultParallelism)
        return sc.parallelize(dirs, n_slices).map(_gc).sum()

    def delete_array(self, array_id: str) -> None:
        """Drop all chunk partitions of one array (metadata-cheap: a
        directory delete, no data rewrite)."""
        import shutil

        for target in self._array_dirs(array_id):
            shutil.rmtree(target, ignore_errors=True)

    def read_slice(
        self,
        array_id: str,
        grid: ChunkGrid,
        norm: list[tuple[int, int, bool]],
        np_dtype: np.dtype,
        max_points: int = DEFAULT_MAX_POINTS,
        fill_value: float = np.nan,
    ) -> np.ndarray:
        out_shape_full = [stop - start for start, stop, _ in norm]
        n_points = math.prod(out_shape_full)
        if n_points > max_points:
            raise DekerDataPointsLimitError(
                "Requested object is too large, use smaller subset",
                limit=max_points,
                requested=n_points,
            )
        idxs = grid.overlapping_chunks(norm)
        # seq coalesced JVM-side so pandas sees non-null int64 — a
        # nullable long with nulls would arrive as float64 and round
        # 60-bit stamps (placement corruption); -1 = legacy/oldest.
        # file_name breaks legacy (-1) ties by sorted-file-name order —
        # the SAME rank _merge_chunk_dir synthesizes when it stamps
        # seq-less rows, so a compaction pass never changes which
        # legacy run wins a read
        scan = self.scan(array_id, idxs).select(
            "chunk_idx",
            "origin",
            "shape",
            "data",
            F.coalesce(F.col("seq"), F.lit(-1)).alias("seq"),
            F.col("_metadata.file_name").alias("fname"),
        )
        lo = [start for start, _, _ in norm]
        hi = [stop for _, stop, _ in norm]

        def slice_chunks(batches: Iterable[pd.DataFrame]):
            # walk plain column values via zip — no per-row pandas
            # Series (iterrows) in the read hot path
            for pdf in batches:
                offsets, shapes, datas = [], [], []
                for origin_v, shape_v, data_v in zip(pdf["origin"], pdf["shape"], pdf["data"]):
                    origin = np.asarray(origin_v, dtype=np.int64)
                    shape = np.asarray(shape_v, dtype=np.int64)
                    arr = np.asarray(data_v, dtype=np.float64).reshape(shape)
                    sel, place = [], []
                    for d in range(len(shape)):
                        a = max(lo[d] - origin[d], 0)
                        b = min(hi[d] - origin[d], shape[d])
                        sel.append(slice(a, b))
                        place.append(int(origin[d] + a - lo[d]))
                    piece = arr[tuple(sel)]
                    offsets.append(place)
                    shapes.append(list(piece.shape))
                    datas.append(piece.ravel(order="C"))
                yield pd.DataFrame(
                    {
                        "offset": offsets,
                        "shape": shapes,
                        "data": datas,
                        "seq": pdf["seq"].to_numpy(),
                        "fname": pdf["fname"].to_numpy(),
                    },
                    columns=["offset", "shape", "data", "seq", "fname"],
                )

        pieces = scan.mapInPandas(
            slice_chunks,
            "offset array<long>, shape array<long>, data array<double>, "
            "seq long, fname string",
        ).collect()
        # overlapping runs place LAST-WRITE-WINS: apply in ascending
        # (seq, file name) — stable, so equal-key runs keep their
        # within-file row order (the within-task counter makes stamped
        # runs strictly increasing anyway; the file name orders legacy
        # -1 runs by the compaction convention). Collect order (Spark's
        # size-packed splits) carries no placement meaning and is
        # deliberately not relied on.
        pieces.sort(key=lambda row: (row["seq"], row["fname"]))
        # cells no stored run covers read as the ARRAY'S fill value:
        # engine-created arrays materialize full chunks so this never
        # surfaces there, but the deker writer's bulk appends are
        # sparse — Deker semantics say unwritten cells ARE fill_value
        # (found by the writer's random-subset property test; the old
        # NaN base leaked through for sparse arrays)
        out = np.full(out_shape_full, fill_value, dtype=np.float64)
        for row in pieces:
            off, shp = row["offset"], row["shape"]
            if math.prod(shp) == 0:
                continue
            sel = tuple(slice(o, o + s) for o, s in zip(off, shp))
            out[sel] = np.asarray(row["data"], dtype=np.float64).reshape(shp)
        squeeze_axes = tuple(d for d, (_, _, sq) in enumerate(norm) if sq)
        if squeeze_axes:
            out = out.squeeze(axis=squeeze_axes)
        return out.astype(np_dtype)

    def update_slice(
        self,
        array_id: str,
        grid: ChunkGrid,
        norm: list[tuple[int, int, bool]],
        data: np.ndarray | float,
    ) -> None:
        """Copy-on-write subset update: read-modify-write only the
        overlapped chunks, then dynamic-partition-overwrite them."""
        out_shape = [stop - start for start, stop, _ in norm]
        if isinstance(data, (int, float)):
            patch = np.full(out_shape, float(data), dtype=np.float64)
        else:
            # callers pass patches in the squeezed shape (int-indexed
            # dims dropped, numpy indexing convention); broadcast there
            # first, then restore the dropped axes
            squeezed = [
                stop - start for start, stop, sq in norm if not sq
            ]
            patch = np.broadcast_to(np.asarray(data, dtype=np.float64), squeezed)
            patch = patch.reshape(out_shape)
        idxs = grid.overlapping_chunks(norm)
        lo = [start for start, _, _ in norm]
        hi = [stop for _, stop, _ in norm]
        patch_bc = self.spark.sparkContext.broadcast(np.ascontiguousarray(patch))

        def patch_chunks(batches: Iterable[pd.DataFrame]):
            p = patch_bc.value
            # walk plain column values via zip — no per-row pandas
            # Series (iterrows) in the update hot path
            for pdf in batches:
                origins, shapes, datas = [], [], []
                for origin_v, shape_v, data_v in zip(pdf["origin"], pdf["shape"], pdf["data"]):
                    origin = np.asarray(origin_v, dtype=np.int64)
                    shape = np.asarray(shape_v, dtype=np.int64)
                    # np.array (copy): Arrow hands over read-only buffers
                    arr = np.array(data_v, dtype=np.float64).reshape(shape)
                    sel, src = [], []
                    for d in range(len(shape)):
                        a = max(lo[d] - origin[d], 0)
                        b = min(hi[d] - origin[d], shape[d])
                        sel.append(slice(a, b))
                        src.append(slice(int(origin[d] + a - lo[d]), int(origin[d] + b - lo[d])))
                    arr[tuple(sel)] = p[tuple(src)]
                    origins.append(list(origin))
                    shapes.append(list(shape))
                    datas.append(arr.ravel(order="C"))
                yield pd.DataFrame(
                    {
                        "array_id": pdf["array_id"].to_numpy(),
                        "chunk_idx": pdf["chunk_idx"].to_numpy(),
                        "origin": origins,
                        "shape": shapes,
                        "data": datas,
                        # preserve each run's placement rank: the patch
                        # writes the same values into every overlapping
                        # run, so relative order among them is unchanged
                        "seq": pdf["seq"].to_numpy(),
                    },
                    columns=["array_id", "chunk_idx", "origin", "shape", "data", "seq"],
                )

        # seq coalesced JVM-side (see read_slice): nulls would reach
        # pandas as float64 and round 60-bit stamps. Legacy seq-less
        # rows get a SYNTHESIZED per-file rank in sorted-file-name
        # order (the _merge_chunk_dir convention) rather than a flat
        # -1: the rewrite moves rows into NEW files, so the read path's
        # file-name tiebreak would otherwise re-order overlapping
        # legacy runs after a COW of a disjoint region of the chunk.
        # The rank computes on the DISTINCT (chunk, file) list — a
        # files-count-sized frame — and broadcast-joins back, so the
        # chunk payload rows never shuffle for it (a window directly
        # over the scan would Exchange+Sort every data array).
        w = Window.partitionBy("chunk_idx").orderBy("fp")
        file_ranks = (
            self.scan(array_id, idxs)
            .select("chunk_idx", F.col("_metadata.file_path").alias("fp"))
            .distinct()
            .withColumn(
                "legacy_rank", (F.dense_rank().over(w) - 1).cast("long")
            )
        )
        # LEFT join + 3-way coalesce, not INNER: the two scans list
        # files independently, so a file appearing between them (a
        # concurrent compact/append racing this COW, or listing skew
        # between the broadcast job and the main job) has no rank row.
        # Under an inner join its rows would silently vanish from
        # `source` and overwrite_chunks would persist the loss; with
        # the left join an unmatched file degrades to the old flat -1
        # (a possible reorder among legacy seq-less runs, never loss).
        source = (
            self.scan(array_id, idxs)
            .withColumn("fp", F.col("_metadata.file_path"))
            .join(F.broadcast(file_ranks), ["chunk_idx", "fp"], "left")
            .withColumn(
                "seq",
                F.coalesce(F.col("seq"), F.col("legacy_rank"), F.lit(-1)),
            )
            .drop("fp", "legacy_rank")
        )
        updated = source.mapInPandas(patch_chunks, CHUNK_SCHEMA)
        # materialize BEFORE overwriting: the plan reads the very
        # partitions the write replaces; an eager checkpoint cuts the
        # lineage so a task retry can never re-read replaced files
        updated = updated.localCheckpoint(eager=True)
        self.overwrite_chunks(updated)

    def cell_df(
        self, array_id: str, dim_names: Sequence[str], dedup: bool = False
    ) -> DataFrame:
        """Long-format view: one row per cell, pure-JVM index math
        (posexplode + div/mod over the chunk shape) — no Python in the
        path, so arrays compose with SQL at full codegen speed.

        ``dedup=False`` (default) is the append-log view: overlapping
        runs each emit their row, matching the ``deker`` source's
        default. ``dedup=True`` resolves per-cell LAST-WRITE-WINS
        (``read_data``'s semantics) as a ``max_by(value, (seq, file))``
        aggregate over the cell coordinates — still pure JVM, but it
        costs one shuffle on the dims; at scale prefer the datasource's
        ``.option("dedup_cells", "true")``, which resolves inside each
        chunk partition with zero shuffle. Tie order mirrors
        ``read_slice``'s (seq, file-name) sort; the one divergence is
        two overlapping runs in the SAME pre-seq legacy file, where the
        aggregate has no row-order tiebreak (no engine writer produces
        that layout)."""
        df = self.scan(array_id)
        if dedup:
            df = df.select(
                "origin",
                "shape",
                F.coalesce(F.col("seq"), F.lit(-1)).alias("seq"),
                F.col("_metadata.file_name").alias("fname"),
                F.posexplode("data").alias("pos", "value"),
            )
        else:
            df = df.select(
                "origin", "shape", F.posexplode("data").alias("pos", "value")
            )
        strides = []
        n = len(dim_names)
        for d in range(n):
            expr = "1L"
            for d2 in range(d + 1, n):
                expr = f"{expr} * shape[{d2}]"
            strides.append(expr)
        cols = [
            (F.expr(f"origin[{d}] + (pos DIV ({strides[d]})) % shape[{d}]")).alias(dim_names[d])
            for d in range(n)
        ]
        if dedup:
            return (
                df.select(*cols, "value", "seq", "fname")
                .groupBy(*[F.col(d) for d in dim_names])
                .agg(
                    F.max_by("value", F.struct("seq", "fname")).alias("value")
                )
            )
        return df.select(*cols, F.col("value"))
