"""``spark.read.format("deker")`` — the array warehouse as a Spark table.

The Python Data Source API (Spark 4) front door for the chunked array
engine in ``core/``: any collection reads as a long-format cell table

    array_id string, <dim name> bigint ..., value double

with the scan parallelized one task per stored CHUNK (Spark's
parallelism aligns with the storage grid, exactly like the pruned
parquet scan inside ``ChunkStore``) and filter pushdown at two levels:

- ``array_id`` equality/IN prunes whole chunk DIRECTORIES at planning
  time (no file even listed for other arrays);
- dimension-range predicates prune non-overlapping chunks at planning
  time via the collection's chunk grid, then mask cells inside the
  surviving chunks with vectorized NumPy — both are consumed, so Spark
  re-evaluates neither.

``value`` predicates (and anything else) are left for Spark.

Partition planning walks the chunk directory tree on the driver —
O(surviving chunks) after pruning, the same cost class as Spark's own
file-source listing. A 100 TB deployment swaps the walk for a
manifest/metastore lookup; the partition contract stays identical.

Reference parity: this is the "DataFrame I/O for multidimensional
arrays via a custom data source" surface — the reference adapter's
read path (base.py:111-205) exposed through Spark's own reader API
instead of an HTTP client. Reads are Arrow ``RecordBatch`` streams, so
cells never pass through per-row Python objects.

Writes: ``df.write.format("deker").mode("append")`` is BULK CELL
INGEST (the reference create+write flow, base.py:111-160) — each task
run-length-encodes its cells into chunk-aligned sub-box rows and
appends them under the owning chunk directory, shuffle-free and
append-only. ``cells.writeStream.format("deker")`` is the STREAMING
form of the same ingest (per-micro-batch append, deterministic
batch-named files for idempotent replay — see ``DekerStreamWriter``).
Subset updates/clears stay on the engine's copy-on-write
API (``core/storage.py``), which Spark's writer contract cannot
express (subset PUT semantics, 413 limits); ``mode("overwrite")`` is
rejected for the same reason.
"""

from __future__ import annotations

import glob
import json
import math
import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


# writer temp-file prefix: dot-prefixed so Spark's parquet scan, the
# glob-based listings here, and ChunkStore's compaction all skip it
# until a commit renames it to a visible name
TMP_PREFIX = ".part-tmp-"
from deker_server_adapters_spark.core.schema import validate_array_id  # noqa: E402
from deker_server_adapters_spark.core.storage import (  # noqa: E402
    _SEQ_COUNTER_BITS,
    array_dir_name,
    array_id_of,
)


def register(spark) -> None:
    """Register the source and enable Python-source filter pushdown
    (Spark refuses to plan a pushFilters() reader without the conf)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DekerDataSource)


def _load_collection_meta(root: str, collection: str) -> dict:
    meta_path = os.path.join(root, "collections", collection, "collection.json")
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"deker: no collection {collection!r} under {root!r} "
            f"(expected {meta_path})"
        )
    with open(meta_path) as f:
        return json.load(f)


def _grid_geometry(meta: dict) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """(shape, chunk_shape) from collection.json — the SAME
    default_chunk_grid the engine writes with (imported, not copied:
    any drift would silently prune chunks that do overlap). Runs on
    the driver; only the resulting tuples are pickled to tasks."""
    from deker_server_adapters_spark.core.storage import default_chunk_grid

    dims = meta["schema"]["dimensions"]
    shape = tuple(int(d["size"]) for d in dims)
    if meta.get("type") == "varray":
        splits = tuple(int(g) for g in meta["schema"]["vgrid"])
    else:
        splits = default_chunk_grid(shape)
    chunk_shape = tuple(math.ceil(s / g) for s, g in zip(shape, splits))
    return shape, chunk_shape


def _chunk_box(
    idx: int, shape: Sequence[int], chunk_shape: Sequence[int]
) -> list[tuple[int, int]]:
    splits = [math.ceil(s / c) for s, c in zip(shape, chunk_shape)]
    pos = []
    for g in reversed(splits):
        pos.append(idx % g)
        idx //= g
    pos = list(reversed(pos))
    return [
        (p * c, min((p + 1) * c, s)) for p, c, s in zip(pos, chunk_shape, shape)
    ]


@dataclass
class DekerChunkPartition(InputPartition):
    array_id: str
    chunk_idx: int
    files: tuple[str, ...]


def _dim_meta(meta: dict) -> dict[str, dict]:
    """Per-dim label / time decoration for ``labels=true`` reads."""
    from datetime import datetime, timezone

    out: dict[str, dict] = {}
    for d in meta["schema"]["dimensions"]:
        m: dict = {}
        if "labels" in d:
            m["labels"] = list(d["labels"])
        if d.get("start_iso"):
            start = datetime.fromisoformat(d["start_iso"])
            if start.tzinfo is None:
                start = start.replace(tzinfo=timezone.utc)
            m["start_us"] = int(start.timestamp() * 1_000_000)
            m["step_us"] = int(d["step_seconds"] * 1_000_000)
        out[d["name"]] = m
    return out


def _chunk_cell_batches(
    partition: DekerChunkPartition,
    shape: Sequence[int],
    dim_names: Sequence[str],
    bounds: Sequence[Sequence[int]],
    read_cols: Sequence[str],
    dim_meta: dict[str, dict] | None = None,
    chunk_shape: Sequence[int] | None = None,
    dedup: bool = False,
    on_vanish: str = "skip",
):
    """Expand one chunk partition's parquet rows into Arrow cell
    batches — shared by the batch and stream readers.

    ``dedup=False`` (default): append-log semantics — one row per
    materialized RUN cell, so a cell re-written by a later append
    appears once per write (and the stream reader's CDC feed needs
    exactly this). ``dedup=True`` (batch ``.option("dedup_cells",
    "true")``): LAST-WRITE-WINS per cell — the chunk's runs replay in
    ``seq`` order into a chunk-local buffer (Deker read semantics,
    same resolution as the engine's ``read_slice``) and each written
    cell emits once with its latest value. Memory for the dedup path
    is one chunk's dense extent (the storage design unit) plus the
    run list; seq-less legacy runs order by sorted-file rank, the
    compaction convention."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not partition.files:
        return
    ndim = len(shape)
    dim_meta = dim_meta or {}
    dim_pos = {n: i for i, n in enumerate(dim_names)}

    def emit(idx: "np.ndarray", values: "np.ndarray"):
        mask = np.ones(values.shape[0], dtype=bool)
        for d, (lo, hi) in enumerate(bounds):
            if lo > 0 or hi < shape[d]:
                mask &= (idx[d] >= lo) & (idx[d] < hi)
        if not mask.any():
            return None
        midx, mvalues = idx[:, mask], values[mask]
        cols, names = [], []
        for name in read_cols:
            if name == "array_id":
                cols.append(
                    pa.array([partition.array_id] * mvalues.shape[0], pa.string())
                )
            elif name in dim_pos:
                cols.append(pa.array(midx[dim_pos[name]], pa.int64()))
            elif name.endswith("_label") and name[:-6] in dim_pos:
                lab = np.asarray(dim_meta[name[:-6]]["labels"], dtype=object)
                cols.append(pa.array(lab[midx[dim_pos[name[:-6]]]], pa.string()))
            elif name.endswith("_ts") and name[:-3] in dim_pos:
                m = dim_meta[name[:-3]]
                micros = m["start_us"] + midx[dim_pos[name[:-3]]] * m["step_us"]
                cols.append(
                    pa.array(micros, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
                )
            else:  # value
                cols.append(pa.array(mvalues, pa.float64()))
            names.append(name)
        return pa.RecordBatch.from_arrays(cols, names=names)

    def file_tables():
        if on_vanish == "relist":
            # BATCH semantics: a vanished file means compact() (merged
            # and removed it) or delete_array raced the planning
            # snapshot. A batch query has no "next batch" to heal it,
            # so skipping would silently DROP the chunk's cells —
            # instead re-list the dir and read the CURRENT visible set
            # (the merged file carries every removed run).
            # NOTE on isolation: the relist picks up whatever is
            # visible NOW, including files committed after planning —
            # a batch read under concurrent writes is read-committed
            # per chunk, not a planning-time snapshot. Backoff between
            # attempts lets a steady compact/delete cadence drain
            # instead of turning a survivable race into a query error.
            import time as _time

            files = list(partition.files)
            attempts = 8
            for attempt in range(attempts):
                tables, ok = [], True
                for rank, path in enumerate(files):
                    try:
                        tables.append((rank, pq.read_table(path)))
                    except FileNotFoundError:
                        ok = False
                        break
                if ok:
                    yield from tables
                    return
                d = os.path.dirname(files[0])
                if not os.path.isdir(d):
                    return  # delete_array: the chunk is legitimately gone
                if attempt == attempts - 1:
                    break  # no further read — don't sleep/relist for nothing
                _time.sleep(min(0.05 * (2**attempt), 1.0))
                files = sorted(
                    os.path.join(d, f)
                    for f in os.listdir(d)
                    if f.endswith(".parquet") and not f.startswith(".")
                )
                if not files:
                    return
            raise RuntimeError(
                f"deker chunk dir kept changing during batch read: {d}"
            )
        for rank, path in enumerate(partition.files):
            try:
                yield rank, pq.read_table(path)
            except FileNotFoundError:
                # STREAM semantics (COW race): a concurrent chunk rewrite
                # can delete a file between offset planning and read. The
                # deleted file's cells are superseded by the rewritten
                # chunk file the NEXT micro-batch will pick up, so
                # skipping is correct — raising would wedge a restarted
                # stream forever on a WAL offset whose files are gone.
                import warnings

                warnings.warn(f"deker chunk file vanished (COW rewrite?): {path}")

    if dedup and chunk_shape is not None and partition.chunk_idx >= 0:
        box = _chunk_box(partition.chunk_idx, shape, chunk_shape)
        ext = [b - a for a, b in box]
        lo0 = np.asarray([a for a, _ in box], dtype=np.int64)
        buf = np.empty(ext, dtype=np.float64)
        written = np.zeros(ext, dtype=bool)
        runs = []
        for rank, table in file_tables():
            names = table.schema.names
            seqs = (
                table["seq"].to_pylist()
                if "seq" in names
                else [None] * len(table)
            )
            for ri, (o, sh, da, sq) in enumerate(
                zip(
                    table["origin"].to_pylist(),
                    table["shape"].to_pylist(),
                    table["data"].to_pylist(),
                    seqs,
                )
            ):
                runs.append((sq if sq is not None else -1, rank, ri, o, sh, da))
        runs.sort(key=lambda r: (r[0], r[1], r[2]))
        for _, _, _, o, sh, da in runs:
            sel = tuple(
                slice(int(oo - a), int(oo - a + ss))
                for oo, (a, _), ss in zip(o, box, sh)
            )
            buf[sel] = np.asarray(da, dtype=np.float64).reshape(sh)
            written[sel] = True
        rel = np.argwhere(written)
        if not len(rel):
            return
        batch = emit(rel.T + lo0[:, None], buf[written])
        if batch is not None:
            yield batch
        return

    for _, table in file_tables():
        for origin_v, shape_v, data_v in zip(
            table["origin"].to_pylist(),
            table["shape"].to_pylist(),
            table["data"].to_pylist(),
        ):
            cshape = tuple(int(s) for s in shape_v)
            origin = np.asarray(origin_v, dtype=np.int64)
            values = np.asarray(data_v, dtype=np.float64)
            # absolute index per dim for every cell, vectorized
            idx = np.indices(cshape).reshape(ndim, -1) + origin[:, None]
            batch = emit(idx, values)
            if batch is not None:
                yield batch


class DekerDataSource(DataSource):
    """Usage::

        spark.dataSource.register(DekerDataSource)
        cells = (spark.read.format("deker")
                 .option("path", warehouse_root)
                 .option("collection", "weather").load())
    """

    @classmethod
    def name(cls) -> str:
        return "deker"

    def _root_and_collection(self) -> tuple[str, str]:
        root = self.options.get("path")
        coll = self.options.get("collection")
        if not root or not coll:
            raise ValueError(
                "deker format needs .option('path', warehouse_root) and "
                ".option('collection', name)"
            )
        return root, coll

    def schema(self) -> StructType:
        root, coll = self._root_and_collection()
        meta = _load_collection_meta(root, coll)
        with_labels = str(self.options.get("labels", "false")).lower() == "true"
        fields = [StructField("array_id", StringType(), False)]
        for d in meta["schema"]["dimensions"]:
            fields.append(StructField(d["name"], LongType(), False))
            if with_labels and "labels" in d:
                fields.append(StructField(f"{d['name']}_label", StringType(), False))
            if with_labels and d.get("start_iso"):
                fields.append(StructField(f"{d['name']}_ts", TimestampType(), False))
        fields.append(StructField("value", DoubleType(), True))
        return StructType(fields)

    def reader(self, schema: StructType) -> "DekerReader":
        root, coll = self._root_and_collection()
        dedup = str(self.options.get("dedup_cells", "false")).lower() == "true"
        return DekerReader(root, coll, schema, dedup_cells=dedup)

    def streamReader(self, schema: StructType) -> "DekerStreamReader":
        root, coll = self._root_and_collection()
        return DekerStreamReader(root, coll, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "DekerWriter":
        if overwrite:
            raise ValueError(
                "deker writes are append-only bulk ingest; subset "
                "updates/clears go through the engine's copy-on-write "
                "API (core/storage.py), not mode('overwrite')"
            )
        root, coll = self._root_and_collection()
        create = str(self.options.get("create_arrays", "true")).lower() == "true"
        return DekerWriter(root, coll, schema, create_arrays=create)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "DekerStreamWriter":
        root, coll = self._root_and_collection()
        create = str(self.options.get("create_arrays", "true")).lower() == "true"
        return DekerStreamWriter(root, coll, schema, create_arrays=create)


class DekerReader(DataSourceReader):
    """Batch reader over one collection's chunk store.

    Isolation under concurrency: when a planned file vanishes mid-read
    (compact merged it, or delete_array dropped the array), the task
    re-lists the chunk dir with backoff and reads the CURRENT visible
    set — so a batch read racing writers/compaction is READ-COMMITTED
    per chunk partition, not a planning-time snapshot (a file committed
    after planning can appear in the result). Quiescent stores read
    exactly the planned snapshot.

    Column-pruning boundary (r14 verdict): this reader materializes the
    FULL cell schema regardless of the query's projection — the Python
    DataSource API (as of Spark 4.x) offers ``pushFilters`` but no
    projection-pushdown hook, so Spark prunes columns ABOVE the scan.
    Currently harmless: the cell schema is array_id + one int64 per
    dimension + value (plus opt-in label/ts columns only when
    ``labels=true`` is set), the expensive inputs (parquet run files)
    are read column-complete anyway because every run column
    participates in cell expansion, and the per-cell emit cost is a few
    fixed Arrow arrays. If the schema ever widens (e.g. per-cell
    attribute columns), revisit: ``read_cols`` (consumed by
    ``_chunk_cell_batches``) is already the single seam — populating it
    from a pruned schema is the only change the emit path needs."""

    def __init__(
        self,
        root: str,
        collection: str,
        schema: StructType,
        dedup_cells: bool = False,
    ):
        meta = _load_collection_meta(root, collection)
        # .option("dedup_cells", "true"): last-write-wins per cell (the
        # engine's read_data resolution) instead of append-log rows
        self.dedup_cells = dedup_cells
        self.chunks_dir = os.path.join(root, "collections", collection, "chunks")
        self.dim_names = [d["name"] for d in meta["schema"]["dimensions"]]
        self.dim_meta = _dim_meta(meta)
        self.shape, self.chunk_shape = _grid_geometry(meta)
        # full source schema: the Python DS API has no projection
        # pushdown (see class docstring, column-pruning boundary)
        self.read_cols = [f.name for f in schema.fields]
        self.array_ids: set[str] | None = None  # None = all arrays
        # per-dim [lo, hi) bounds, tightened by pushed filters
        self.bounds = [[0, s] for s in self.shape]

    # -- pushdown ---------------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        dim_pos = {n: i for i, n in enumerate(self.dim_names)}
        for f in filters:
            col = f.attribute[0] if len(getattr(f, "attribute", ())) == 1 else None
            if col == "array_id" and isinstance(f, EqualTo):
                ids = {f.value}
                self.array_ids = ids if self.array_ids is None else self.array_ids & ids
            elif col == "array_id" and isinstance(f, In):
                ids = set(f.value)
                self.array_ids = ids if self.array_ids is None else self.array_ids & ids
            elif col in dim_pos and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                d, b = dim_pos[col], self.bounds[dim_pos[col]]
                v = int(f.value)
                if isinstance(f, EqualTo):
                    b[0], b[1] = max(b[0], v), min(b[1], v + 1)
                elif isinstance(f, GreaterThan):
                    b[0] = max(b[0], v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    b[0] = max(b[0], v)
                elif isinstance(f, LessThan):
                    b[1] = min(b[1], v)
                else:  # LessThanOrEqual
                    b[1] = min(b[1], v + 1)
            else:
                yield f  # value predicates etc. stay with Spark

    # -- planning ---------------------------------------------------------

    def _chunk_overlaps(self, chunk_idx: int) -> bool:
        box = _chunk_box(chunk_idx, self.shape, self.chunk_shape)
        return all(
            lo < hi and lo < b_stop and b_start < hi  # empty range -> no chunk
            for (b_start, b_stop), (lo, hi) in zip(box, self.bounds)
        )

    def partitions(self) -> list[DekerChunkPartition]:
        parts: list[DekerChunkPartition] = []
        if not os.path.isdir(self.chunks_dir):
            return [DekerChunkPartition("", -1, ())]  # empty store: 1 no-op task
        for adir in sorted(os.listdir(self.chunks_dir)):
            array_id = array_id_of(adir)
            if array_id is None:
                continue
            if self.array_ids is not None and array_id not in self.array_ids:
                continue  # directory-level prune
            for cdir in sorted(os.listdir(os.path.join(self.chunks_dir, adir))):
                if not cdir.startswith("chunk_idx="):
                    continue
                chunk_idx = int(cdir.split("=", 1)[1])
                if not self._chunk_overlaps(chunk_idx):
                    continue  # grid-level prune
                files = tuple(
                    sorted(
                        glob.glob(
                            os.path.join(self.chunks_dir, adir, cdir, "*.parquet")
                        )
                    )
                )
                if files:
                    parts.append(DekerChunkPartition(array_id, chunk_idx, files))
        return parts or [DekerChunkPartition("", -1, ())]

    # -- execution --------------------------------------------------------

    def read(self, partition: DekerChunkPartition):
        yield from _chunk_cell_batches(
            partition, self.shape, self.dim_names, self.bounds, self.read_cols,
            self.dim_meta, chunk_shape=self.chunk_shape, dedup=self.dedup_cells,
            on_vanish="relist",
        )


class DekerStreamReader(DataSourceStreamReader):
    """Chunk CHANGEFEED: each micro-batch emits the cells of chunk
    files that appeared since the last offset — a freshly created array
    streams once; a copy-on-write subset update streams the rewritten
    chunks again (downstream recompute semantics, like a CDC feed of
    chunk versions).

    Offsets are the seen-file set (parquet part files are immutable;
    COW rewrites create NEW files), stored as a sorted list of paths
    RELATIVE to the chunks dir to keep the serialized offset small.
    The set still grows with the store, and Spark re-serializes the
    full offset into the offset/commit log EVERY micro-batch — an
    O(total files ever) write per trigger. That is the same tradeoff
    Structured Streaming's built-in file source makes (its seen-file
    map exists because mtime watermarks lose races with slow writers);
    at 100 TB you'd swap the directory walk for a manifest/commit log
    whose offsets are monotonic commit ids, keeping this exact offset
    contract with O(1) offsets."""

    def __init__(self, root: str, collection: str, schema: StructType):
        meta = _load_collection_meta(root, collection)
        self.chunks_dir = os.path.join(root, "collections", collection, "chunks")
        self.dim_names = [d["name"] for d in meta["schema"]["dimensions"]]
        self.dim_meta = _dim_meta(meta)
        self.shape, self.chunk_shape = _grid_geometry(meta)
        self.read_cols = [f.name for f in schema.fields]
        self.bounds = [[0, s] for s in self.shape]  # streams: no pushdown

    def _current_files(self) -> list[str]:
        pattern = os.path.join(
            self.chunks_dir, "array_id=*", "chunk_idx=*", "*.parquet"
        )
        return sorted(
            os.path.relpath(p, self.chunks_dir) for p in glob.glob(pattern)
        )

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": self._current_files()}

    def partitions(self, start: dict, end: dict) -> list[DekerChunkPartition]:
        seen = set(start.get("files", ()))  # list (current) or dict (legacy)
        fresh = [
            os.path.join(self.chunks_dir, p)
            for p in end.get("files", ())
            if p not in seen
        ]
        by_chunk: dict[tuple[str, int], list[str]] = {}
        for path in fresh:
            adir, cdir = path.split(os.sep)[-3:-1]
            key = (array_id_of(adir), int(cdir.split("=", 1)[1]))
            by_chunk.setdefault(key, []).append(path)
        parts = [
            DekerChunkPartition(aid, cidx, tuple(sorted(files)))
            for (aid, cidx), files in sorted(by_chunk.items())
        ]
        # a deletion-only offset change (delete_array between triggers)
        # plans a batch with no fresh files: ship one no-op partition
        # rather than zero, mirroring the batch reader's empty-store
        # guard
        return parts or [DekerChunkPartition("", -1, ())]

    def read(self, partition: DekerChunkPartition):
        # CDC semantics by design: every run of every new file emits
        # (no dedup option here — a changefeed consumer wants writes)
        yield from _chunk_cell_batches(
            partition, self.shape, self.dim_names, self.bounds, self.read_cols,
            self.dim_meta,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from immutable files; nothing to ack


@dataclass
class DekerWriteCommit(WriterCommitMessage):
    files: tuple[str, ...]
    array_ids: tuple[str, ...]


class DekerWriter(DataSourceArrowWriter):
    """Bulk cell ingest: ``cells_df.write.format("deker")``.

    Input schema must be the cell table (array_id, <dims...>, value).
    Each task, independently and WITHOUT any imposed shuffle:

    1. assigns every cell its owning chunk via the same mixed-radix
       grid arithmetic the engine stores with (imported geometry, so
       writer and reader can never drift);
    2. sorts its cells in C order and run-length-encodes maximal runs
       along the last dimension into sub-box rows
       (origin=[.., run_start], shape=[1,..,1,run_len]) — the patch
       form ``read_slice`` and the batch/stream readers already place
       by origin/shape, so a chunk assembled from many tasks' runs
       reads back exactly;
    3. appends one parquet file per (array_id, chunk) it touched —
       written under a dot-prefixed TEMP name (invisible to every
       reader) and published by ``commit``'s rename to its task-UUID
       name, so a crashed job orphans nothing visible; never
       overwrites (COW-compatible). Each run carries a placement
       ``seq`` stamp (~ms clock + within-task counter), so a re-written
       cell resolves LAST-WRITE-WINS through ``read_data``.

    Memory per task is bounded by that task's input cells (the same
    class as a shuffle writer's buffer). Chunk-ALIGNED input (e.g.
    ``df.repartition("array_id")`` or a full-array partition per task)
    yields one file and maximal runs per chunk; scattered input still
    writes correctly, just with shorter runs and more files.

    Append-only contract: writing a cell that already exists in the
    collection appends a NEWER run — ``read_data`` resolves it
    last-write-wins by ``seq``, while the cell-table SCAN keeps
    append-log semantics (one row per materialized run, like appending
    duplicate rows to a parquet table) — bulk ingest targets NEW array
    ids, which
    ``commit`` registers in the catalog (``create_arrays`` option,
    default true) with empty attributes; pre-created arrays keep their
    metadata. ``abort`` removes every file the failed write produced.
    Sparse appends are first-class: cells never written read back as
    the schema's ``fill_value`` through ``read_data`` (property-tested
    over random subsets/partitionings); the cell-table SCAN emits only
    materialized cells.

    Reference parity: create+write flow of base.py:111-160; the subset
    PUT path (base.py:272-311) deliberately stays on the engine API.
    """

    def __init__(
        self, root: str, collection: str, schema: StructType, create_arrays: bool
    ):
        meta = _load_collection_meta(root, collection)
        self.root = root
        self.collection = collection
        self.collection_dir = os.path.join(root, "collections", collection)
        self.chunks_dir = os.path.join(self.collection_dir, "chunks")
        self.dim_names = [d["name"] for d in meta["schema"]["dimensions"]]
        self.shape, self.chunk_shape = _grid_geometry(meta)
        self.create_arrays = create_arrays
        # per-WRITE job id, minted driver-side and serialized into
        # every task: temp files carry it, and commit-time GC removes
        # ONLY this write's own temp names — two concurrent writers
        # (or a writer racing a streaming sink) can no longer GC each
        # other's in-flight attempts
        import uuid as _uuid

        self.write_id = _uuid.uuid4().hex[:16]
        cols = [f.name for f in schema.fields]
        expected = ["array_id", *self.dim_names, "value"]
        if sorted(cols) != sorted(expected):
            raise ValueError(
                f"deker writer needs cell-table columns {expected}, got {cols}"
            )

    def write(self, iterator) -> DekerWriteCommit:
        import uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        splits = [math.ceil(s / c) for s, c in zip(self.shape, self.chunk_shape)]
        ndim = len(self.shape)
        # per (array_id, chunk_idx): list of (origin, shape, data) runs
        buf: dict[tuple[str, int], list[tuple[list, list, "np.ndarray"]]] = {}
        for batch in iterator:
            cols = {n: batch.column(n) for n in batch.schema.names}
            aid = cols["array_id"].to_pylist()
            coords = np.stack(
                [np.asarray(cols[n], dtype=np.int64) for n in self.dim_names]
            )
            vals = np.asarray(cols["value"], dtype=np.float64)
            for d in range(ndim):
                bad = (coords[d] < 0) | (coords[d] >= self.shape[d])
                if bad.any():
                    j = int(np.argmax(bad))
                    raise ValueError(
                        f"cell {self.dim_names[d]}={int(coords[d][j])} outside "
                        f"dimension size {self.shape[d]}"
                    )
            chunk_idx = np.zeros(len(vals), dtype=np.int64)
            for d in range(ndim):
                chunk_idx = chunk_idx * splits[d] + coords[d] // self.chunk_shape[d]
            # C-order sort key within each (array, chunk) group
            flat = np.zeros(len(vals), dtype=np.int64)
            for d in range(ndim):
                flat = flat * self.shape[d] + coords[d]
            aid_codes, aid_inv = np.unique(np.asarray(aid, dtype=object), return_inverse=True)
            if self.create_arrays:  # before any file of this task exists
                for a in aid_codes:
                    validate_array_id(str(a))
            order = np.lexsort((flat, chunk_idx, aid_inv))
            s_aid, s_chunk, s_flat = aid_inv[order], chunk_idx[order], flat[order]
            s_coords, s_vals = coords[:, order], vals[order]
            # run break: new (array, chunk), any non-last coord change,
            # or last coord not consecutive. The flat index alone is
            # NOT enough: (x, last_max) -> (x+1, 0) is flat-consecutive
            # but a box at origin [x, last_max] may not spill past the
            # row end, so the last coord must itself advance by 1.
            brk = np.ones(len(s_vals), dtype=bool)
            if len(s_vals) > 1:
                brk[1:] = (
                    (s_aid[1:] != s_aid[:-1])
                    | (s_chunk[1:] != s_chunk[:-1])
                    | (s_flat[1:] != s_flat[:-1] + 1)
                    | (s_coords[-1][1:] != s_coords[-1][:-1] + 1)
                )
            starts = np.flatnonzero(brk)
            ends = np.append(starts[1:], len(s_vals))
            for a, b in zip(starts, ends):
                key = (str(aid_codes[s_aid[a]]), int(s_chunk[a]))
                origin = [int(c) for c in s_coords[:, a]]
                shape = [1] * (ndim - 1) + [int(b - a)]
                buf.setdefault(key, []).append((origin, shape, s_vals[a:b]))

        from deker_server_adapters_spark.core.storage import next_write_seq

        task_id = uuid.uuid4().hex
        # placement stamps: one monotonic base per task (the engine's
        # stamp source, see core.storage.CHUNK_SCHEMA) + a within-task
        # run counter — later runs in this task get strictly larger
        # seq, so an intra-batch re-write of a cell resolves to the
        # later row
        seq_base = next_write_seq()
        run_counter = 0
        files, array_ids = [], set()
        for (array_id, cidx), runs in sorted(buf.items()):
            d = os.path.join(
                self.chunks_dir, array_dir_name(array_id), f"chunk_idx={cidx}"
            )
            os.makedirs(d, exist_ok=True)
            # dot-prefixed TEMP file: invisible to every reader (Spark
            # skips hidden files; our own listings glob non-dot) until
            # commit() renames it. A crashed attempt therefore orphans
            # nothing a read or compact can see.
            path = os.path.join(
                d, f"{TMP_PREFIX}{self.write_id}-{task_id}.parquet"
            )
            seqs = []
            for _ in runs:
                if run_counter == 1 << _SEQ_COUNTER_BITS:
                    # reserve the next range through the process-global
                    # counter (never a local bump: a local seq_base +=
                    # range is invisible to _SEQ_LAST, so a later
                    # next_write_seq() in this process could hand out a
                    # stamp at or below it, inverting last-write-wins)
                    seq_base = next_write_seq()
                    run_counter = 0
                seqs.append(seq_base + run_counter)
                run_counter += 1
            table = pa.table(
                {
                    "origin": pa.array([r[0] for r in runs], pa.list_(pa.int64())),
                    "shape": pa.array([r[1] for r in runs], pa.list_(pa.int64())),
                    "data": pa.array(
                        [r[2] for r in runs], pa.list_(pa.float64())
                    ),
                    "seq": pa.array(seqs, pa.int64()),
                }
            )
            pq.write_table(table, path)
            files.append(path)
            array_ids.add(array_id)
        return DekerWriteCommit(files=tuple(files), array_ids=tuple(sorted(array_ids)))

    def _finalize_files(self, messages, rename) -> None:
        """Driver-side publish: rename each committed task's temp files
        to their final (visible) names via ``rename(path, pid, i)``,
        then garbage-collect temp files of THIS WRITE ONLY (names
        carrying ``self.write_id``) left in the touched chunk dirs —
        failed/superseded task attempts of this job whose data the
        committed files already carry. A concurrent writer's in-flight
        temps carry a different write_id and survive untouched, so two
        live writers on one collection can both commit (r10; was an
        unguarded any-temp GC behind a docstring-level single-writer
        discipline). Temps orphaned by a CRASHED write (never
        committed, so never GC'd here) stay invisible to every reader
        and are reclaimed by the explicit age-gated
        ``ChunkStore.gc_temps`` maintenance path."""
        own = TMP_PREFIX + self.write_id + "-"
        touched = set()
        for pid, m in enumerate(messages):
            renamed = []
            for i, path in enumerate(getattr(m, "files", ()) or ()):
                final = rename(path, pid, i)
                os.replace(path, final)
                renamed.append(final)
                touched.add(os.path.dirname(final))
            if renamed:
                m.files = tuple(renamed)
        for d in touched:
            for f in os.listdir(d):
                if f.startswith(own):
                    try:
                        os.remove(os.path.join(d, f))
                    except FileNotFoundError:
                        pass

    def _register_meta(self, messages) -> None:
        """Register written array ids in the catalog (pure JSON file
        I/O — the commit hook runs without a SparkSession). Arrays
        created elsewhere keep their metadata."""
        if not self.create_arrays:
            return
        meta_dir = os.path.join(self.collection_dir, "meta")
        os.makedirs(meta_dir, exist_ok=True)
        for m in messages:
            for array_id in getattr(m, "array_ids", ()):
                mp = os.path.join(meta_dir, f"{array_id.replace(':', '__')}.json")
                if not os.path.exists(mp):
                    with open(mp, "w") as f:
                        json.dump(
                            {
                                "id": array_id,
                                "primary_attributes": {},
                                "custom_attributes": {},
                            },
                            f,
                        )

    def commit(self, messages) -> None:
        self._finalize_files(
            messages,
            lambda path, pid, i: os.path.join(
                os.path.dirname(path),
                "part-" + os.path.basename(path)[len(TMP_PREFIX):],
            ),
        )
        self._register_meta(messages)

    def abort(self, messages) -> None:
        for m in messages:
            for path in getattr(m, "files", ()):
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass


class DekerStreamWriter(DataSourceStreamWriter):
    """Streaming cell ingest: ``cells.writeStream.format("deker")`` —
    the sink half of the chunk-changefeed loop (``readStream`` emits
    chunk versions; this appends new cells per micro-batch).

    Each task delegates to the batch ``DekerWriter`` core (same
    run-length chunk-append, same geometry import), feeding the row
    iterator through bounded Arrow batches. Tasks write dot-prefixed
    TEMP files (invisible to every reader); ``commit`` RENAMES them to
    deterministic ``part-b{batch}-p{part}-{i}`` names and
    garbage-collects any temp file a failed/crashed attempt left in
    the touched chunk dirs. Failure accounting:

    - task retry within a batch: the failed attempt's file is a temp
      file — never visible, removed at this batch's commit;
    - driver crash BEFORE commit: every written file is still
      temp-named, so readers, the changefeed, and ``compact`` see
      nothing; later commits of the SAME query run GC them (shared
      write_id), and orphans of an abandoned run are reclaimed by the
      age-gated ``ChunkStore.gc_temps`` maintenance path — no
      double-counting in cell scans or downstream aggregates;
    - driver crash AFTER commit but before the checkpoint records the
      offset: the replayed batch regenerates the same cells under the
      SAME final names and ``os.replace`` overwrites in place
      (effective exactly-once; only the placement ``seq`` stamps
      differ, and the replay's stamps are newer than every earlier
      write, so last-write-wins placement is unchanged).

    ``abort`` removes the failed batch's temp files. Commit-time GC is
    scoped to this query's own write_id-stamped temp names, so a
    concurrent batch writer or second sink on the same collection is
    safe (r10). The chunks dir must be shared storage, as for every
    other path in this engine.

    Reference parity: the continuous-ingest counterpart of the
    create+write flow (base.py:111-160); subset PUT stays on the COW
    engine API, same as the batch writer.
    """

    def __init__(
        self, root: str, collection: str, schema: StructType, create_arrays: bool
    ):
        self._core = DekerWriter(root, collection, schema, create_arrays)

    def write(self, iterator) -> DekerWriteCommit:
        import pyarrow as pa

        rows_per_batch = 65536

        def batches():
            buf = []
            for row in iterator:
                buf.append(row.asDict())
                if len(buf) >= rows_per_batch:
                    yield pa.RecordBatch.from_pylist(buf)
                    buf = []
            if buf:
                yield pa.RecordBatch.from_pylist(buf)

        return self._core.write(batches())

    def commit(self, messages, batchId: int) -> None:
        self._core._finalize_files(
            messages,
            lambda path, pid, i: os.path.join(
                os.path.dirname(path),
                f"part-b{batchId:08d}-p{pid:05d}-{i:03d}.parquet",
            ),
        )
        self._core._register_meta(messages)

    def abort(self, messages, batchId: int) -> None:
        self._core.abort(messages)
