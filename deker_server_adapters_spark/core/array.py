"""Arrays: CRUD + N-d subset read/update/clear.

Parity surface: reference base.py ServerArrayAdapterMixin —
create, read_meta, update_meta_custom_attributes, delete,
read_data(bounds), update(bounds, data), clear(bounds),
get_by_id, get_by_primary_attributes, iterate, delete_all_by_vid
(array_adapter.py:41-77).
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any, Iterator

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deker_server_adapters_spark.core.collection import Collection
from deker_server_adapters_spark.core.errors import (
    DekerArrayNotExistsError,
    DekerSubsetError,
)
from deker_server_adapters_spark.core.schema import validate_array_id, validate_attributes
from deker_server_adapters_spark.core.storage import (
    Bounds,
    ChunkGrid,
    ChunkStore,
    default_chunk_grid,
    normalize_bounds,
    resolve_bounds,
)


class Array:
    def __init__(
        self,
        collection: Collection,
        id_: str,
        primary_attributes: dict[str, Any],
        custom_attributes: dict[str, Any],
    ):
        self.collection = collection
        self.id = id_
        self.primary_attributes = primary_attributes
        self.custom_attributes = custom_attributes

    @property
    def schema(self):
        return self.collection.array_schema

    @property
    def shape(self) -> tuple[int, ...]:
        return self.schema.shape

    @property
    def dtype(self) -> np.dtype:
        return self.schema.np_dtype

    @property
    def _adapter(self) -> "ArrayAdapter":
        return ArrayAdapter(self.collection)

    def __getitem__(self, bounds: Bounds) -> np.ndarray:
        return self.read_data(bounds)

    def read_data(self, bounds: Bounds = slice(None)) -> np.ndarray:
        return self._adapter.read_data(self, bounds)

    def update(self, bounds: Bounds, data) -> None:
        self._adapter.update(self, bounds, data)

    def clear(self, bounds: Bounds = slice(None)) -> None:
        self._adapter.clear(self, bounds)

    def cell_df(self, dedup: bool = False) -> DataFrame:
        """This array as a long-format DataFrame (dims..., value).
        ``dedup=True`` resolves overlapping runs per cell last-write-
        wins (read_data semantics); default is the append-log view."""
        store = ChunkStore(self.collection.warehouse.spark, self.collection.path)
        return store.cell_df(
            self.id, [d.name for d in self.schema.dimensions], dedup=dedup
        )

    def reduce(self, dim: str, fn: str = "mean") -> DataFrame:
        """Aggregate out one dimension (xarray-style): returns a
        DataFrame keyed by the remaining dims with fn(value).
        Runs as one Catalyst plan over the chunk dataset."""
        from pyspark.sql import functions as F

        names = [d.name for d in self.schema.dimensions]
        if dim not in names:
            raise KeyError(f"unknown dimension {dim!r}; have {names}")
        others = [n for n in names if n != dim]
        agg = {
            "mean": F.avg("value"),
            "sum": F.sum("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "count": F.count("value"),
        }[fn]
        return self.cell_df().groupBy(*others).agg(agg.alias(fn))

    def meta(self) -> dict:
        return {
            "id": self.id,
            "primary_attributes": self.primary_attributes,
            "custom_attributes": self.custom_attributes,
        }


class ArrayAdapter:
    """Server-side array operations, re-expressed on the chunk store."""

    def __init__(self, collection: Collection, cluster_mode: bool = False):
        self.collection = collection
        self.spark = collection.warehouse.spark
        self.store = ChunkStore(self.spark, collection.path)
        self.cluster_mode = cluster_mode

    # -- metadata ----------------------------------------------------------

    def _meta_dir(self) -> str:
        return os.path.join(self.collection.path, "meta")

    def _meta_path(self, id_: str) -> str:
        # chunk-array view ids are "vid:idx"; keep filenames filesystem-safe
        return os.path.join(self._meta_dir(), f"{id_.replace(':', '__')}.json")

    def _write_meta(self, array: Array) -> None:
        with open(self._meta_path(array.id), "w") as f:
            json.dump(array.meta(), f)

    def _grid(self) -> ChunkGrid:
        schema = self.collection.array_schema
        vschema = self.collection.varray_schema
        splits = vschema.vgrid if vschema else default_chunk_grid(schema.shape)
        return ChunkGrid(schema.shape, splits)

    # -- CRUD ----------------------------------------------------------------

    def create(
        self,
        primary_attributes: dict[str, Any] | None = None,
        custom_attributes: dict[str, Any] | None = None,
        id_: str | None = None,
        data: np.ndarray | None = None,
    ) -> Array:
        schema = self.collection.array_schema
        primary = primary_attributes or {}
        custom = custom_attributes or {}
        validate_attributes(schema, primary, custom)
        array = Array(self.collection, id_ or str(uuid.uuid4()), primary, custom)
        validate_array_id(array.id)
        self._write_meta(array)
        grid = self._grid()
        if data is not None:
            data = np.asarray(data, dtype=schema.np_dtype)
            if data.shape != schema.shape:
                raise ValueError(f"data shape {data.shape} != schema shape {schema.shape}")
            self.store.write_array(array.id, grid, data)
        else:
            self.store.write_fill(array.id, grid, schema.fill_value)
        return array

    def create_from_cells(
        self,
        cells: "DataFrame",
        value_col: str = "value",
        primary_attributes: dict[str, Any] | None = None,
        custom_attributes: dict[str, Any] | None = None,
        id_: str | None = None,
    ) -> Array:
        """Create an array from a long-format DataFrame whose dim-index
        columns are named after the schema dimensions — fully
        distributed (no driver-side ndarray)."""
        schema = self.collection.array_schema
        primary = primary_attributes or {}
        custom = custom_attributes or {}
        validate_attributes(schema, primary, custom)
        array = Array(self.collection, id_ or str(uuid.uuid4()), primary, custom)
        validate_array_id(array.id)
        self._write_meta(array)
        self.store.write_from_cells(
            array.id,
            self._grid(),
            cells,
            [d.name for d in schema.dimensions],
            value_col,
            schema.fill_value,
        )
        return array

    def read_meta(self, array: Array) -> dict:
        mp = self._meta_path(array.id)
        if not os.path.exists(mp):
            raise DekerArrayNotExistsError(array.id)
        with open(mp) as f:
            return json.load(f)

    def update_meta_custom_attributes(self, array: Array, attributes: dict) -> None:
        meta = self.read_meta(array)
        meta["custom_attributes"].update(attributes)
        array.custom_attributes = meta["custom_attributes"]
        with open(self._meta_path(array.id), "w") as f:
            json.dump(meta, f)

    def delete(self, array: Array) -> None:
        mp = self._meta_path(array.id)
        if not os.path.exists(mp):
            raise DekerArrayNotExistsError(array.id)
        os.remove(mp)
        self.store.delete_array(array.id)

    def delete_all_by_vid(self, vid: str, collection: Collection | None = None) -> None:
        """Delete every array whose primary attribute vid matches
        (reference array_adapter.py:41-77). The chunk arrays hold the
        varray's data, so their shared chunk dataset goes with them.

        Victim selection is a Catalyst filter over the catalog scan
        (``lookup_df``): only the matching ids come back to the driver —
        O(matches) driver work, not O(n_arrays) iteration."""
        df = self.lookup_df({"vid": vid})
        if df is not None:
            for row in df.select("id").collect():
                with open(self._meta_path(row["id"])) as f:
                    self.delete(self._from_meta(json.load(f)))
        self.store.delete_array(vid)

    # -- lookup ----------------------------------------------------------------

    def _from_meta(self, meta: dict) -> Array:
        return Array(
            self.collection, meta["id"], meta["primary_attributes"], meta["custom_attributes"]
        )

    def get_by_id(self, id_: str) -> Array | None:
        if self.cluster_mode and self.collection.array_schema.primary_attributes:
            # parity with reference base.py:402-408: the routing hash is
            # derived from primary attributes when the schema has them,
            # so an id can't locate its owner — refuse, like the server.
            from deker_server_adapters_spark.core.errors import (
                FilteringByIdInClusterIsForbidden,
            )

            raise FilteringByIdInClusterIsForbidden(
                "id lookups are forbidden in cluster mode when the schema has primary attributes"
            )
        mp = self._meta_path(id_)
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            return self._from_meta(json.load(f))

    def lookup_df(self, primary_attributes: dict) -> DataFrame | None:
        """The catalog filtered to arrays whose primary attributes
        include the given key-values — a Catalyst plan over ``meta_df``
        (filter evaluated executor-side over the distributed scan), not
        a driver loop. Returns None when the catalog is empty or a
        wanted key exists on no array (reference base.py:333-434
        get_by_primary_attributes, minus the per-array HTTP round
        trips)."""
        df = self._catalog_df()
        if df is None:
            return None
        pa_type = None
        for field in df.schema.fields:
            if field.name == "primary_attributes":
                pa_type = field.dataType
        known = set(pa_type.fieldNames()) if hasattr(pa_type, "fieldNames") else set()
        for k in sorted(primary_attributes):
            if k not in known:
                return None
            df = df.filter(
                F.col(f"primary_attributes.`{k}`").eqNullSafe(F.lit(primary_attributes[k]))
            )
        return df

    def get_by_primary_attributes(self, primary_attributes: dict) -> Array | None:
        df = self.lookup_df(primary_attributes)
        if df is None:
            return None
        hit = df.select("id").limit(1).collect()
        if not hit:
            return None
        # Spark found the id; the authoritative meta comes from its own
        # O(1) catalog entry (exact on-disk fidelity, no struct-union
        # null artifacts from schema inference).
        with open(self._meta_path(hit[0]["id"])) as f:
            return self._from_meta(json.load(f))

    @staticmethod
    def _row_meta(row) -> dict:
        """A catalog Row back to its meta dict. Schema inference unions
        attribute structs across arrays, so attributes another array has
        appear here as nulls — strip them (explicit null attribute
        values are not storable: json.dump writes them but
        validate_attributes rejects None)."""
        meta = row.asDict(recursive=True)
        out = {}
        for k, v in meta.items():
            if k in ("primary_attributes", "custom_attributes"):
                out[k] = {k2: v2 for k2, v2 in (v or {}).items() if v2 is not None}
            elif v is not None:  # varray metas carry extra keys (is_varray, vid)
                out[k] = v
        out.setdefault("primary_attributes", {})
        out.setdefault("custom_attributes", {})
        return out

    def __iter__(self) -> Iterator[dict]:
        """Iterate array metas via the distributed catalog scan:
        scan/parse runs in Spark, the driver receives rows partition by
        partition (``toLocalIterator``) — never an O(n_arrays) listdir
        (reference base.py:436-453 pages the server; same idea)."""
        df = self._catalog_df()
        if df is None:
            return
        for row in df.orderBy("id").toLocalIterator():
            yield self._row_meta(row)

    def _catalog_df(self) -> DataFrame | None:
        d = self._meta_dir()
        if not os.path.isdir(d):
            return None
        # The schema comes from Spark's JSON inference over the lines of
        # the meta files as a string Dataset (a reader PySpark does not
        # wrap); the catalog is then a plain JSON file scan with that
        # schema, so column pruning and filters reach the scan. Each read
        # lists the one directory, without a Spark job: ``read.json(dir)``
        # would infer by listing every meta file again as a root path,
        # which above 32 files is a Spark listing job of its own.
        try:
            lines = self.spark.read.option("pathGlobFilter", "*.json").text(d)
        except AnalysisException:  # the collection went in between
            return None
        strings = getattr(lines._jdf, "as")(self.spark._jvm.org.apache.spark.sql.Encoders.STRING())
        schema = DataFrame(self.spark._jsparkSession.read().json(strings), self.spark).schema
        if "id" not in schema.fieldNames():  # no parsable meta
            return None
        df = self.spark.read.option("pathGlobFilter", "*.json").schema(schema).json(d)
        if "_corrupt_record" in df.columns:
            # PERMISSIVE mode parks unparsable files in _corrupt_record
            # with every schema field null — drop them instead of
            # yielding a meta dict with no id
            df = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
        return df.filter(F.col("id").isNotNull())

    def meta_df(self) -> DataFrame:
        """The array catalog as a DataFrame (id + attribute structs) —
        metadata queries scale with Spark instead of a driver loop
        (find-by-attribute over millions of arrays). Same corrupt-file
        hygiene as the internal catalog scan.

        An existing collection with no arrays yet is a legitimate
        catalog state and yields an EMPTY DataFrame (id + empty
        attribute structs); the exception is reserved for a collection
        whose meta dir does not exist at all (ADVICE r5)."""
        df = self._catalog_df()
        if df is not None:
            return df
        if os.path.isdir(self._meta_dir()):
            return self.spark.createDataFrame(
                [],
                "id string, primary_attributes struct<>, custom_attributes struct<>",
            )
        raise DekerArrayNotExistsError(
            f"no array metadata under {self._meta_dir()}"
        )

    def cells_df(self, array_ids: list[str] | None = None) -> DataFrame:
        """Cross-array long view: (array_id, dims..., value) for many
        arrays in one Catalyst plan — ensemble statistics across arrays
        are a groupBy away; given ids, only their directories are read."""
        dim_names = [d.name for d in self.collection.array_schema.dimensions]
        exploded = self.store.scan_arrays(array_ids).select(
            "array_id", "origin", "shape", F.posexplode("data").alias("pos", "value")
        )
        n = len(dim_names)
        strides = []
        for d in range(n):
            expr = "1L"
            for d2 in range(d + 1, n):
                expr = f"{expr} * shape[{d2}]"
            strides.append(expr)
        cols = [
            F.expr(f"origin[{d}] + (pos DIV ({strides[d]})) % shape[{d}]").alias(dim_names[d])
            for d in range(n)
        ]
        return exploded.select("array_id", *cols, F.col("value"))

    # -- data ----------------------------------------------------------------

    def _chunk_view(self, array: Array):
        """A chunk-array view ("vid:idx") addresses one vgrid cell of
        its parent varray's dataset. Returns (vid, box) or None."""
        if ":" not in array.id:
            return None
        vid, idx = array.id.rsplit(":", 1)
        box = self._grid().chunk_box(int(idx))
        return vid, box

    @staticmethod
    def _strip_steps(bounds: Bounds, rank: int):
        """Split stepped slices into (contiguous bounds, post-selector).
        The chunk store reads the contiguous box; stepping is applied on
        the assembled ndarray (reads at most the box, never the array)."""
        if not isinstance(bounds, tuple):
            bounds = (bounds,)
        stripped, post = [], []
        for b in bounds:
            if isinstance(b, slice) and b.step not in (None, 1):
                if not isinstance(b.step, int) or b.step <= 0:
                    raise DekerSubsetError(f"unsupported step {b.step!r}")
                stripped.append(slice(b.start, b.stop))
                post.append(slice(None, None, b.step))
            else:
                stripped.append(b)
                if isinstance(b, slice):
                    post.append(slice(None))
                # int bounds squeeze the axis; nothing to post-select
        return tuple(stripped), tuple(post)

    def read_data(self, array: Array, bounds: Bounds) -> np.ndarray:
        bounds, post = self._strip_steps(bounds, len(array.schema.dimensions))
        if any(p != slice(None) for p in post):
            full = self.read_data(array, bounds)
            return full[post]
        view = self._chunk_view(array)
        if view is not None:
            vid, box = view
            chunk_shape = tuple(b - a for a, b in box)
            norm = normalize_bounds(
                resolve_bounds(bounds, array.schema.dimensions), chunk_shape
            )
            shifted = [(a + lo, b + lo, sq) for (a, b, sq), (lo, _) in zip(norm, box)]
            return self.store.read_slice(
                vid, self._grid(), shifted, array.dtype,
                fill_value=self.collection.array_schema.fill_value,
            )
        norm = normalize_bounds(resolve_bounds(bounds, array.schema.dimensions), array.shape)
        return self.store.read_slice(
            array.id, self._grid(), norm, array.dtype,
            fill_value=self.collection.array_schema.fill_value,
        )

    def update(self, array: Array, bounds: Bounds, data) -> None:
        view = self._chunk_view(array)
        if view is not None:
            vid, box = view
            chunk_shape = tuple(b - a for a, b in box)
            norm = normalize_bounds(
                resolve_bounds(bounds, array.schema.dimensions), chunk_shape
            )
            shifted = [(a + lo, b + lo, sq) for (a, b, sq), (lo, _) in zip(norm, box)]
            self.store.update_slice(vid, self._grid(), shifted, data)
            return
        norm = normalize_bounds(resolve_bounds(bounds, array.schema.dimensions), array.shape)
        self.store.update_slice(array.id, self._grid(), norm, data)

    def clear(self, array: Array, bounds: Bounds = slice(None)) -> None:
        """Reset a subset to the schema fill value (reference
        base.py:305-311 models clear as an empty-body update)."""
        self.update(array, bounds, self.collection.array_schema.fill_value)

    def is_deleted(self, array: Array) -> bool:
        return not os.path.exists(self._meta_path(array.id))
