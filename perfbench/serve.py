"""The serving workload: a closed loop with one client over the array
engine's public adapters (``AdaptersFactory`` -> ``VArrayAdapter`` /
``ArrayAdapter``), on three collections:

- ``wide``: one varray of 64^3 cells in 64 chunk partitions of 16^3.
  ``ChunkStore.scan`` lists every partition directory of a collection
  on each read, so listing is most of a read here. It serves subset
  reads of four shapes and primary-attribute lookups of its chunk
  arrays.
- ``narrow``: one varray of 64^3 cells in 8 chunk partitions of 32^3.
  It takes slice updates and clears (two scans, a ``localCheckpoint``
  and a dynamic partition overwrite each), each followed by a
  verifying read; listing is a small share here.
- ``items``: arrays of 32^3 cells with a primary attribute. Each cycle
  creates one with data, looks it up, reads it back and deletes it.

Every read is compared bit for bit with a numpy mirror of the store
that the generator maintains. No set-up create exceeds 262k cells:
creating 1M-cell arrays with ``create(data=...)`` took 10.9-20.8 s each,
against 1.0-1.2 s at 262k. Creates are paired with deletes, so the
number of chunk partitions is the same at the start and end of a run
(``ChunkStore.scan`` took 0.50 / 0.73 / 1.38 / 2.81 s at 64 / 128 / 256 /
512 partitions, so a growing store would slow reads as a run goes on).
"""

from __future__ import annotations

import glob
import math
import os
from dataclasses import dataclass

import numpy as np

from common import OpLog, dir_bytes, run_op, run_step, store_stats

FILL = -1.0


@dataclass(frozen=True)
class Sizes:
    shape: tuple[int, ...]  # both varrays
    wide_vgrid: tuple[int, ...]  # one chunk partition per vgrid cell
    narrow_vgrid: tuple[int, ...]
    item_shape: tuple[int, ...]
    resident_items: int  # items that stay in the catalog for the whole run


SIZES = {
    "full": Sizes((64, 64, 64), (4, 4, 4), (2, 2, 2), (32, 32, 32), 2),
    "mini": Sizes((16, 16, 16), (2, 2, 2), (2, 2, 2), (4, 4, 4), 1),
}

# One cycle of the closed loop. Per cycle: 7 reads (4 on the
# wide store, 3 verifying), 2 lookups, 2 writes, 1 create and a delete.
CYCLE = ("point", "pencil", "tile", "box", "lookup", "update", "clear", "create")
WIDE_READS = ("point", "pencil", "tile", "box")
# Ops of about the same latency, whose samples are pooled for the
# end-to-end medians: the four wide-read shapes (all bound by the
# 64-partition scan), the two writes and the three verifying reads.
GROUPS = {
    **{kind: "wide read" for kind in WIDE_READS},
    "update": "write",
    "clear": "write",
    "verify update": "verify read",
    "verify clear": "verify read",
    "verify create": "verify read",
}
WARM_UP_CYCLES = 1


class Serve:
    """The serving workload: build, warm_up, then steps() per cycle."""

    def __init__(self, spark, root, rng, tracer, size="full"):
        from deker_server_adapters_spark.core.schema import (
            ArraySchema,
            AttributeSchema,
            DimensionSchema,
            VArraySchema,
        )
        from deker_server_adapters_spark.factory import AdaptersFactory

        self.sizes = s = SIZES[size]
        self.rng = rng
        self.tracer = tracer
        self.root = root
        self.log = OpLog()
        factory = AdaptersFactory(spark, root)
        collections = factory.get_collection_adapter()
        dims = tuple(DimensionSchema(n, k) for n, k in zip("tyx", s.shape))
        for name, vgrid in (("wide", s.wide_vgrid), ("narrow", s.narrow_vgrid)):
            collections.create(
                name, VArraySchema(dtype="float64", dimensions=dims, fill_value=FILL, vgrid=vgrid)
            )
        collections.create(
            "items",
            ArraySchema(
                dtype="float64",
                dimensions=tuple(DimensionSchema(n, k) for n, k in zip("zyx", s.item_shape)),
                attributes=(AttributeSchema("item", "int", primary=True),),
                fill_value=FILL,
            ),
        )
        self.wide_varrays = factory.get_varray_adapter("wide")
        self.wide_arrays = factory.get_array_adapter("wide")
        self.narrow_varrays = factory.get_varray_adapter("narrow")
        self.items = factory.get_array_adapter("items")
        self.mirror: dict[str, np.ndarray] = {}
        self.collection_of: dict[str, str] = {}
        self.next_item = 0
        self.bytes_written = 0
        self.bytes_changed = 0

    # -- set-up -----------------------------------------------------------

    def build(self) -> None:
        s = self.sizes
        self.wide = self.wide_varrays.create(id_="wide-0", data=self._data("wide-0", "wide", s.shape))
        self.narrow = self.narrow_varrays.create(id_="narrow-0", data=self._data("narrow-0", "narrow", s.shape))
        for _ in range(s.resident_items):
            key = self._next_key()
            self.items.create({"item": key}, id_=f"item-{key}", data=self._data(f"item-{key}", "items", s.item_shape))

    def _data(self, array_id: str, collection: str, shape) -> np.ndarray:
        data = self.rng.standard_normal(shape)
        self.mirror[array_id] = data.copy()
        self.collection_of[array_id] = collection
        return data

    def _next_key(self) -> int:
        self.next_item += 1
        return self.next_item - 1

    def warm_up(self, probe) -> None:
        """``WARM_UP_CYCLES`` untraced, untimed cycles: the first Spark job
        of each kind pays class loading, codegen and Python worker start
        (the next cycles still speed up a little while the JVM compiles
        hot paths, the same way in every run). Their outputs are checked
        all the same. The host-speed ``probe`` samples after each step."""
        from spans import NullTracer

        log, tracer = self.log, self.tracer
        self.log, self.tracer = OpLog(), NullTracer()
        try:
            for _ in range(WARM_UP_CYCLES):
                for step in self.steps():
                    step()
                    probe.sample()
        finally:
            for kind, ok in zip(self.log.kinds, self.log.ok):
                log.record_untimed(f"warm-up {kind}", ok)
            self.log, self.tracer = log, tracer

    def stats(self) -> dict:
        s = store_stats(self.root)
        live = sum(m.size for m in self.mirror.values()) * 8
        s["live_bytes"] = live
        s["stored_bytes_per_user_byte"] = s["bytes"] / live
        return s

    # -- bounds -------------------------------------------------------------

    # Each op kind overlaps a fixed number of chunks at a seeded position,
    # so the work per op does not change with the seed.

    def _across(self, size: int, c: int, w: int) -> int:
        """Start of a span of width ``w`` (< 2c) over exactly two chunks."""
        b = c * int(self.rng.integers(1, size // c))  # an inner chunk boundary
        return int(self.rng.integers(max(b - c, b - w + 1), min(b - 1, b + c - w) + 1))

    def _inside(self, size: int, c: int, w: int) -> int:
        """Start of a span of width ``w`` (<= c) inside one chunk."""
        return c * int(self.rng.integers(0, size // c)) + int(self.rng.integers(0, c - w + 1))

    def _chunk(self, vgrid) -> tuple[int, ...]:
        return tuple(k // g for k, g in zip(self.sizes.shape, vgrid))

    def read_bounds(self, kind: str) -> tuple:
        """Reads of the wide varray: a point (1 chunk), a time pencil (4),
        a chunk-sized spatial tile (4) and a box (8)."""
        shape, chunk = self.sizes.shape, self._chunk(self.sizes.wide_vgrid)
        if kind == "point":
            return tuple(int(self.rng.integers(0, k)) for k in shape)
        if kind == "pencil":
            return (slice(None),) + tuple(int(self.rng.integers(0, k)) for k in shape[1:])
        if kind == "tile":
            t = int(self.rng.integers(0, shape[0]))
            starts = [self._across(k, c, c) for k, c in zip(shape[1:], chunk[1:])]
            return (t,) + tuple(slice(a, a + c) for a, c in zip(starts, chunk[1:]))
        widths = [c + max(1, c // 4) for c in chunk]
        starts = [self._across(k, c, w) for k, c, w in zip(shape, chunk, widths)]
        return tuple(slice(a, a + w) for a, w in zip(starts, widths))

    def update_bounds(self) -> tuple:
        """A box of the narrow varray over two chunks (split on t)."""
        out = []
        for d, (k, c) in enumerate(zip(self.sizes.shape, self._chunk(self.sizes.narrow_vgrid))):
            w = int(self.rng.integers(max(1, c // 4), max(1, c // 2) + 1))
            a = self._across(k, c, w) if d == 0 else self._inside(k, c, w)
            out.append(slice(a, a + w))
        return tuple(out)

    def clear_bounds(self) -> tuple:
        """One time step: all of y (two chunks) by half a chunk of x."""
        shape, chunk = self.sizes.shape, self._chunk(self.sizes.narrow_vgrid)
        t = int(self.rng.integers(0, shape[0]))
        w = max(1, chunk[2] // 2)
        x0 = self._inside(shape[2], chunk[2], w)
        return (t, slice(None), slice(x0, x0 + w))

    # -- operations ---------------------------------------------------------

    def _same(self, array_id: str, bounds):
        want = self.mirror[array_id][bounds].copy()

        def check(got) -> bool:
            got = np.asarray(got)
            return got.dtype == want.dtype and got.shape == want.shape and np.array_equal(got, want)

        return check

    def read(self, array, bounds, label: str) -> None:
        run_op(
            self.log, self.tracer, "read",
            lambda: array.read_data(bounds), self._same(array.id, bounds), label,
        )

    def lookup_chunk(self) -> None:
        vgrid = self.sizes.wide_vgrid
        pos = [int(self.rng.integers(0, g)) for g in vgrid]
        idx = 0
        for p, g in zip(pos, vgrid):
            idx = idx * g + p
        want = f"{self.wide.id}:{idx}"
        query = {"vid": self.wide.id, "v_position": pos}
        run_op(
            self.log, self.tracer, "lookup",
            lambda: self.wide_arrays.get_by_primary_attributes(query),
            lambda a: a is not None and a.id == want,
            "lookup chunk",
        )

    def write(self, label: str, bounds, value) -> None:
        """An update (``value`` an array) or clear (``value`` None) of the
        narrow varray, then a verifying read of the same bounds."""
        va = self.narrow
        call = (lambda: va.clear(bounds)) if value is None else (lambda: va.update(bounds, value))
        run_op(self.log, self.tracer, "write", call, lambda _: True, label)
        self.mirror[va.id][bounds] = FILL if value is None else value
        self._account_write(va.id, bounds)
        self.read(va, bounds, f"verify {label}")

    def create_lookup_delete(self) -> None:
        key = self._next_key()
        array_id = f"item-{key}"
        data = self._data(array_id, "items", self.sizes.item_shape)
        created = run_op(
            self.log, self.tracer, "create",
            lambda: self.items.create({"item": key}, id_=array_id, data=data),
            lambda a: a is not None and a.id == array_id,
        )
        if self.tracer.enabled:
            self.bytes_written += dir_bytes(self._chunk_root(array_id))
            self.bytes_changed += data.size * 8
        found = run_op(
            self.log, self.tracer, "lookup",
            lambda: self.items.get_by_primary_attributes({"item": key}),
            lambda a: a is not None and a.id == array_id,
            "lookup item",
        )
        target = found or created
        if target is not None:
            self.read(target, slice(None), "verify create")
            # a directory delete of about 1 ms: checked, not timed, as its
            # relative jitter would dominate any per-op latency summary
            run_step(
                self.log, "delete",
                lambda: self.items.delete(target),
                lambda _: self.items.get_by_id(array_id) is None
                and not os.path.exists(self._chunk_root(array_id)),
            )
        del self.mirror[array_id]

    def step(self, kind: str) -> None:
        if kind == "lookup":
            self.lookup_chunk()
        elif kind == "update":
            bounds = self.update_bounds()
            self.write("update", bounds, self.rng.standard_normal(tuple(b.stop - b.start for b in bounds)))
        elif kind == "clear":
            self.write("clear", self.clear_bounds(), None)
        elif kind == "create":
            self.create_lookup_delete()
        else:  # one of WIDE_READS
            self.read(self.wide, self.read_bounds(kind), kind)

    def steps(self):
        """The cycle's steps; a timed window ends only between two of
        them, so a write is always followed by its verifying read and a
        create by its delete."""
        for kind in CYCLE:
            yield lambda kind=kind: self.step(kind)

    @staticmethod
    def group(label: str) -> str:
        return GROUPS.get(label, label)

    # -- tracing -----------------------------------------------------------

    def _chunk_root(self, array_id: str) -> str:
        collection = self.collection_of[array_id]
        return os.path.join(self.root, "collections", collection, "chunks", f"array_id={array_id}")

    def _account_write(self, array_id: str, bounds) -> None:
        """Bytes rewritten (the overlapped chunk partitions) against
        bytes changed (the cells in ``bounds``), traced runs only."""
        if not self.tracer.enabled:
            return
        from deker_server_adapters_spark.core.storage import ChunkGrid, normalize_bounds

        norm = normalize_bounds(bounds, self.sizes.shape)
        grid = ChunkGrid(self.sizes.shape, self.sizes.narrow_vgrid)
        base = self._chunk_root(array_id)
        self.bytes_written += sum(
            dir_bytes(os.path.join(base, f"chunk_idx={i}")) for i in grid.overlapping_chunks(norm)
        )
        self.bytes_changed += math.prod(b - a for a, b, _ in norm) * 8

    def instrument(self) -> None:
        """Spans around the storage and catalog entry points."""
        from deker_server_adapters_spark.core.array import ArrayAdapter
        from deker_server_adapters_spark.core.storage import ChunkStore

        def listed(store, array_id, chunk_idxs=None):
            return {"listed": len(glob.glob(os.path.join(store.path, "array_id=*", "chunk_idx=*")))}

        def needed(store, array_id, grid, norm, *args, **kwargs):
            return {"needed": len(grid.overlapping_chunks(norm))}

        def meta_files(adapter, primary_attributes):
            return {"meta_files": len(glob.glob(os.path.join(adapter._meta_dir(), "*.json")))}

        t = self.tracer
        t.patch(ChunkStore, "scan", "storage.scan", listed)
        t.patch(ChunkStore, "read_slice", "storage.read_slice", needed)
        t.patch(ChunkStore, "update_slice", "storage.update", needed)
        t.patch(ChunkStore, "overwrite_chunks", "storage.overwrite")
        t.patch(ChunkStore, "write_array", "storage.write_array")
        t.patch(ArrayAdapter, "get_by_primary_attributes", "catalog.lookup", meta_files)

    def layer_metrics(self) -> dict:
        t = self.tracer
        reads = t.closed("storage.read_slice")
        n_reads = len(reads) or 1
        read_ids = {s["id"] for s in reads}
        read_scans = [s for s in t.closed("storage.scan") if s["parent"] in read_ids]
        scan_ms = sum(s["end"] - s["start"] for s in read_scans) * 1000.0
        listed = sum(s["attrs"]["listed"] for s in read_scans)
        needed = sum(s["attrs"]["needed"] for s in reads)
        updates = t.closed("storage.update")
        n_updates = len(updates) or 1
        update_ids = {s["id"] for s in updates}
        lookups = t.closed("catalog.lookup")
        wide = [s for s in reads if t.spans[s["parent"]]["attrs"].get("label") in WIDE_READS]
        wide_ids = {s["id"] for s in wide}
        wide_ms = sum(s["end"] - s["start"] for s in wide) * 1000.0
        wide_scan_ms = sum(s["end"] - s["start"] for s in read_scans if s["parent"] in wide_ids) * 1000.0
        st = store_stats(self.root)
        return {
            "storage.wide_scan_share": wide_scan_ms / wide_ms if wide_ms else 0.0,
            "storage.scan_build_ms": scan_ms / n_reads,
            "storage.read_exec_ms": (t.total_ms("storage.read_slice") - scan_ms) / n_reads,
            "storage.scans_per_read": len(read_scans) / n_reads,
            "storage.partitions_listed_per_read": listed / n_reads,
            "storage.chunks_needed_per_read": needed / n_reads,
            "storage.prune_ratio": needed / listed if listed else 0.0,
            "storage.update_ms": t.total_ms("storage.update") / n_updates,
            "storage.scans_per_update": sum(
                1 for s in t.closed("storage.scan") if s["parent"] in update_ids
            ) / n_updates,
            "storage.overwrite_ms": _mean_ms(t.closed("storage.overwrite")),
            "storage.write_array_ms": _mean_ms(t.closed("storage.write_array")),
            "storage.write_amplification": (
                self.bytes_written / self.bytes_changed if self.bytes_changed else 0.0
            ),
            "storage.files_per_chunk_dir": st["parquet_files"] / max(1, st["partitions"]),
            "catalog.lookup_ms": _mean_ms(lookups),
            "catalog.meta_files_per_lookup": (
                sum(s["attrs"]["meta_files"] for s in lookups) / len(lookups) if lookups else 0.0
            ),
        }


def _mean_ms(spans: list[dict]) -> float:
    if not spans:
        return 0.0
    return sum(s["end"] - s["start"] for s in spans) * 1000.0 / len(spans)
