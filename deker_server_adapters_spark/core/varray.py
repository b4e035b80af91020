"""VArrays: virtual arrays split by a vgrid into chunk arrays.

Parity surface: reference varray_adapter.py + the vid/v_position
chunk-array model (utils/hashing.py:8-21 joins v_position with dashes;
array_adapter.py:41-77 deletes chunk arrays by vid).

Storage: the varray's cells live in ONE chunk dataset whose grid IS
the vgrid, so a subset read/write prunes to exactly the overlapped
vgrid cells (what the reference achieves by routing chunk arrays to
different nodes). The chunk arrays are exposed as view objects with
``vid``/``v_position`` primary attributes and registered in the meta
store, so every array-adapter lookup works on them.
"""

from __future__ import annotations

import uuid
from typing import Any, Iterator

import numpy as np
from pyspark.sql import DataFrame

from deker_server_adapters_spark.core.array import Array, ArrayAdapter
from deker_server_adapters_spark.core.collection import Collection
from deker_server_adapters_spark.core.errors import DekerArrayNotExistsError
from deker_server_adapters_spark.core.schema import VArraySchema, validate_array_id
from deker_server_adapters_spark.core.storage import Bounds, ChunkGrid, normalize_bounds, resolve_bounds


class VArray:
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
    def schema(self) -> VArraySchema:
        s = self.collection.varray_schema
        assert s is not None
        return s

    @property
    def shape(self) -> tuple[int, ...]:
        return self.schema.shape

    @property
    def dtype(self) -> np.dtype:
        return self.schema.np_dtype

    @property
    def _adapter(self) -> "VArrayAdapter":
        return VArrayAdapter(self.collection)

    def __getitem__(self, bounds: Bounds) -> np.ndarray:
        return self._adapter.read_data(self, bounds)

    def read_data(self, bounds: Bounds = slice(None)) -> np.ndarray:
        return self._adapter.read_data(self, bounds)

    def update(self, bounds: Bounds, data) -> None:
        self._adapter.update(self, bounds, data)

    def clear(self, bounds: Bounds = slice(None)) -> None:
        self._adapter.clear(self, bounds)

    def cell_df(self, dedup: bool = False) -> DataFrame:
        from deker_server_adapters_spark.core.storage import ChunkStore

        store = ChunkStore(self.collection.warehouse.spark, self.collection.path)
        return store.cell_df(
            self.id, [d.name for d in self.schema.dimensions], dedup=dedup
        )

    def meta(self) -> dict:
        return {
            "id": self.id,
            "primary_attributes": self.primary_attributes,
            "custom_attributes": self.custom_attributes,
            "vid": self.id,
        }

    def chunk_arrays(self) -> list[Array]:
        """The vgrid chunk arrays (vid + v_position views)."""
        adapter = ArrayAdapter(self.collection)
        return [
            adapter._from_meta(m)
            for m in adapter
            if m["primary_attributes"].get("vid") == self.id
        ]


class VArrayAdapter:
    """Varray CRUD + subset ops; same surface as ArrayAdapter."""

    def __init__(self, collection: Collection):
        self.collection = collection
        self.spark = collection.warehouse.spark
        self._arrays = ArrayAdapter(collection)
        self.store = self._arrays.store

    def _grid(self) -> ChunkGrid:
        schema = self.collection.varray_schema
        assert schema is not None
        return ChunkGrid(schema.shape, schema.vgrid)

    def create(
        self,
        primary_attributes: dict[str, Any] | None = None,
        custom_attributes: dict[str, Any] | None = None,
        id_: str | None = None,
        data: np.ndarray | None = None,
    ) -> VArray:
        schema = self.collection.varray_schema
        assert schema is not None
        vid = id_ or str(uuid.uuid4())
        validate_array_id(vid)
        varray = VArray(self.collection, vid, primary_attributes or {}, custom_attributes or {})
        # register the varray itself
        import json
        import os

        with open(os.path.join(self.collection.path, "meta", f"{vid}.json"), "w") as f:
            json.dump({**varray.meta(), "is_varray": True}, f)
        grid = self._grid()
        if data is not None:
            data = np.asarray(data, dtype=schema.np_dtype)
            if data.shape != schema.shape:
                raise ValueError(f"data shape {data.shape} != schema shape {schema.shape}")
            self.store.write_array(vid, grid, data)
        else:
            self.store.write_fill(vid, grid, schema.fill_value)
        # register chunk arrays as vid/v_position views (reference model)
        for idx in range(grid.n_chunks):
            pos = grid.chunk_position(idx)
            meta = {
                "id": f"{vid}:{idx}",
                "primary_attributes": {"vid": vid, "v_position": list(pos)},
                "custom_attributes": {},
            }
            with open(self._arrays._meta_path(meta["id"]), "w") as f:
                json.dump(meta, f)
        return varray

    def create_from_cells(
        self,
        cells: DataFrame,
        value_col: str = "value",
        primary_attributes: dict[str, Any] | None = None,
        custom_attributes: dict[str, Any] | None = None,
        id_: str | None = None,
    ) -> VArray:
        """Distributed varray build from a long-format DataFrame; the
        vgrid IS the chunk grid, then chunk-array views are registered."""
        schema = self.collection.varray_schema
        assert schema is not None
        va = self.create(primary_attributes, custom_attributes, id_=id_, data=None)
        # replace the fill chunks with the real cells (dynamic overwrite)
        self.store.delete_array(va.id)
        self.store.write_from_cells(
            va.id,
            self._grid(),
            cells,
            [d.name for d in schema.dimensions],
            value_col,
            schema.fill_value,
        )
        return va

    def read_meta(self, varray: VArray) -> dict:
        metas = {m["id"]: m for m in self._arrays}
        if varray.id not in metas:
            raise DekerArrayNotExistsError(varray.id)
        return metas[varray.id]

    def update_meta_custom_attributes(self, varray: VArray, attributes: dict) -> None:
        import json
        import os

        meta = self.read_meta(varray)
        meta["custom_attributes"].update(attributes)
        varray.custom_attributes = meta["custom_attributes"]
        with open(os.path.join(self.collection.path, "meta", f"{varray.id}.json"), "w") as f:
            json.dump(meta, f)

    def delete(self, varray: VArray) -> None:
        """Delete the varray: its chunk dataset and every chunk-array
        view (reference deletes all arrays with this vid)."""
        import os

        self._arrays.delete_all_by_vid(varray.id)
        mp = os.path.join(self.collection.path, "meta", f"{varray.id}.json")
        if os.path.exists(mp):
            os.remove(mp)
        self.store.delete_array(varray.id)

    def get_by_id(self, id_: str) -> VArray | None:
        import json
        import os

        mp = os.path.join(self.collection.path, "meta", f"{id_}.json")
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            m = json.load(f)
        if not m.get("is_varray"):
            return None
        return VArray(self.collection, m["id"], m["primary_attributes"], m["custom_attributes"])

    def __iter__(self) -> Iterator[dict]:
        for m in self._arrays:
            if m.get("is_varray"):
                yield m

    def read_data(self, varray: VArray, bounds: Bounds) -> np.ndarray:
        norm = normalize_bounds(resolve_bounds(bounds, varray.schema.dimensions), varray.shape)
        return self.store.read_slice(
            varray.id, self._grid(), norm, varray.dtype,
            fill_value=varray.schema.fill_value,
        )

    def update(self, varray: VArray, bounds: Bounds, data) -> None:
        norm = normalize_bounds(resolve_bounds(bounds, varray.schema.dimensions), varray.shape)
        self.store.update_slice(varray.id, self._grid(), norm, data)

    def clear(self, varray: VArray, bounds: Bounds = slice(None)) -> None:
        self.update(varray, bounds, varray.schema.fill_value)
