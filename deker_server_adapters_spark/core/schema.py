"""Collection / array schemas.

Mirrors the Deker schema model the reference adapters serialize over
HTTP (collections carry an array schema OR a varray schema; arrays are
N-d, one dtype, with primary/custom attributes; varrays add a vgrid
that splits them into chunk arrays — see reference
collection_adapter.py:49-62 and tests/conftest.py fixtures).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import numpy as np

from deker_server_adapters_spark.core.errors import DekerValidationError

_DTYPES = {"float64", "float32", "int64", "int32", "int16", "int8"}


@dataclass(frozen=True)
class DimensionSchema:
    """A dimension: plain (indexed), labeled (string labels per step),
    or time (start + step seconds) — the Deker dimension model."""

    name: str
    size: int
    labels: tuple[str, ...] | None = None
    start_iso: str | None = None  # time dimension: ISO start
    step_seconds: int | None = None

    def __post_init__(self) -> None:
        if self.labels is not None and len(self.labels) != self.size:
            raise DekerValidationError(
                f"dimension {self.name!r}: {len(self.labels)} labels for size {self.size}"
            )
        if (self.start_iso is None) != (self.step_seconds is None):
            raise DekerValidationError(
                f"dimension {self.name!r}: start_iso and step_seconds go together"
            )

    @property
    def is_time(self) -> bool:
        return self.start_iso is not None

    def index_of(self, value) -> int:
        """Resolve a label / datetime / int to a position."""
        from datetime import datetime, timezone

        if isinstance(value, int):
            return value
        if isinstance(value, str) and self.labels is not None:
            try:
                return self.labels.index(value)
            except ValueError:
                raise DekerValidationError(
                    f"label {value!r} not in dimension {self.name!r}"
                ) from None
        if self.is_time and isinstance(value, (datetime, str)):
            dt = datetime.fromisoformat(value) if isinstance(value, str) else value
            start = datetime.fromisoformat(self.start_iso)
            if dt.tzinfo is None and start.tzinfo is not None:
                dt = dt.replace(tzinfo=timezone.utc)
            if start.tzinfo is None and dt.tzinfo is not None:
                start = start.replace(tzinfo=timezone.utc)
            delta = (dt - start).total_seconds()
            idx = int(delta // self.step_seconds)
            if delta % self.step_seconds != 0:
                raise DekerValidationError(
                    f"{dt.isoformat()} is not on the {self.step_seconds}s grid of {self.name!r}"
                )
            if not 0 <= idx < self.size:
                raise DekerValidationError(
                    f"{dt.isoformat()} outside dimension {self.name!r}"
                )
            return idx
        raise DekerValidationError(
            f"cannot resolve {value!r} on dimension {self.name!r}"
        )

    def to_dict(self) -> dict:
        d: dict = {"name": self.name, "size": self.size}
        if self.labels is not None:
            d["labels"] = list(self.labels)
        if self.is_time:
            d["start_iso"] = self.start_iso
            d["step_seconds"] = self.step_seconds
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "DimensionSchema":
        return cls(
            name=d["name"],
            size=d["size"],
            labels=tuple(d["labels"]) if "labels" in d else None,
            start_iso=d.get("start_iso"),
            step_seconds=d.get("step_seconds"),
        )


@dataclass(frozen=True)
class AttributeSchema:
    name: str
    dtype: str = "string"  # string | int | float | tuple
    primary: bool = False

    def to_dict(self) -> dict:
        return {"name": self.name, "dtype": self.dtype, "primary": self.primary}


@dataclass(frozen=True)
class ArraySchema:
    dtype: str
    dimensions: tuple[DimensionSchema, ...]
    attributes: tuple[AttributeSchema, ...] = ()
    fill_value: float = 0.0

    def __post_init__(self) -> None:
        if self.dtype not in _DTYPES:
            raise DekerValidationError(f"unsupported dtype {self.dtype!r}")
        if not self.dimensions:
            raise DekerValidationError("at least one dimension required")
        for d in self.dimensions:
            if d.size <= 0:
                raise DekerValidationError(f"dimension {d.name!r} must have size > 0")

    @property
    def shape(self) -> tuple[int, ...]:
        return tuple(d.size for d in self.dimensions)

    @property
    def primary_attributes(self) -> tuple[AttributeSchema, ...]:
        return tuple(a for a in self.attributes if a.primary)

    @property
    def np_dtype(self) -> np.dtype:
        return np.dtype(self.dtype)

    def to_dict(self) -> dict:
        return {
            "dtype": self.dtype,
            "dimensions": [d.to_dict() for d in self.dimensions],
            "attributes": [a.to_dict() for a in self.attributes],
            "fill_value": self.fill_value,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "ArraySchema":
        return cls(
            dtype=d["dtype"],
            dimensions=tuple(DimensionSchema.from_dict(x) for x in d["dimensions"]),
            attributes=tuple(AttributeSchema(**x) for x in d["attributes"]),
            fill_value=d.get("fill_value", 0.0),
        )


@dataclass(frozen=True)
class VArraySchema(ArraySchema):
    """Array schema plus a vgrid: how many splits per dimension.

    Each vgrid cell becomes a chunk array carrying ``vid`` +
    ``v_position`` primary attributes (reference varray model;
    array_adapter.py:41-77 deletes chunk arrays by vid).
    """

    vgrid: tuple[int, ...] = field(default=())

    def __post_init__(self) -> None:
        super().__post_init__()
        if len(self.vgrid) != len(self.dimensions):
            raise DekerValidationError("vgrid rank must equal dimensions rank")
        for g, d in zip(self.vgrid, self.dimensions):
            if g <= 0 or d.size % g != 0:
                raise DekerValidationError(
                    f"vgrid {g} must evenly divide dimension {d.name!r} of size {d.size}"
                )

    @property
    def chunk_shape(self) -> tuple[int, ...]:
        return tuple(d.size // g for d, g in zip(self.dimensions, self.vgrid))

    def to_dict(self) -> dict:
        d = super().to_dict()
        d["vgrid"] = list(self.vgrid)
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "VArraySchema":
        return cls(
            dtype=d["dtype"],
            dimensions=tuple(DimensionSchema.from_dict(x) for x in d["dimensions"]),
            attributes=tuple(AttributeSchema(**x) for x in d["attributes"]),
            fill_value=d.get("fill_value", 0.0),
            vgrid=tuple(d["vgrid"]),
        )


def validate_attributes(
    schema: ArraySchema, primary: dict[str, Any], custom: dict[str, Any]
) -> None:
    declared = {a.name for a in schema.attributes}
    declared_primary = {a.name for a in schema.primary_attributes}
    missing = declared_primary - set(primary)
    if missing:
        raise DekerValidationError(f"missing primary attributes: {sorted(missing)}")
    unknown = set(primary) - declared_primary
    if unknown:
        raise DekerValidationError(f"unknown primary attributes: {sorted(unknown)}")
    unknown_custom = set(custom) - (declared - declared_primary)
    if unknown_custom:
        raise DekerValidationError(f"unknown custom attributes: {sorted(unknown_custom)}")


def validate_array_id(id_: str) -> None:
    """An array id names the array's catalog file, and Spark's file
    listing skips names that start with ``_`` or ``.``: such an array
    would be created but never found by a catalog scan."""
    if id_[:1] in ("_", "."):
        raise DekerValidationError(
            f"array id {id_!r} starts with {id_[0]!r}: Spark hides such "
            "catalog files, so lookups and iteration could never find it"
        )
