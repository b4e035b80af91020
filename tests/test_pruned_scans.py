"""Chunk-store and catalog reads list only the directories an op needs:
directory names escaped as Spark escapes them, absent directories read
as absent, and no listing job at any store width."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from deker_server_adapters_spark.core import (
    Array,
    ArraySchema,
    AttributeSchema,
    DimensionSchema,
    VArraySchema,
    Warehouse,
)
from deker_server_adapters_spark.core.errors import DekerValidationError
from deker_server_adapters_spark.core.storage import (
    CHUNK_SCHEMA,
    ChunkStore,
    array_dir_name,
    array_id_of,
)
from deker_server_adapters_spark.core.varray import VArray
from deker_server_adapters_spark.sources.deker_datasource import register

SCHEMA = ArraySchema(
    dtype="float64",
    dimensions=(DimensionSchema("x", 20), DimensionSchema("y", 12)),
    attributes=(AttributeSchema("k", "int", primary=True),),
    fill_value=-1.0,
)

# 36 chunk partitions: above Spark's 32-path parallel-listing threshold
WIDE = VArraySchema(
    dtype="float64",
    dimensions=(DimensionSchema("x", 12), DimensionSchema("y", 12)),
    vgrid=(6, 6),
    fill_value=-1.0,
)

ODD_ID = "run #7 %41%"  # '#' and '%' are escaped on disk, ' ' is not


@pytest.fixture()
def warehouse(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _array_dirs(coll) -> list[str]:
    return sorted(glob.glob(os.path.join(coll.path, "chunks", "array_id=*")))


def _scanned_files(df) -> set[str]:
    return {r[0] for r in df.select("_metadata.file_path").distinct().collect()}


@pytest.fixture()
def parquet_paths(monkeypatch):
    """Every path handed to Spark's parquet reader during the test."""
    seen: list[str] = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **options):
        seen.extend(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return seen


def test_dir_names_match_spark_escaping(spark):
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    every = "".join(chr(c) for c in range(1, 256)) + "é☃"
    assert array_dir_name(every) == "array_id=" + utils.escapePathName(every)
    assert array_id_of(array_dir_name(every)) == every
    for name in ("a%23", "a%2", "%2F%2f", "a%zz", "x%41y", "plain"):
        assert array_id_of("array_id=" + name) == utils.unescapePathName(name)
    assert array_id_of("_SUCCESS") is None


def test_odd_ids_round_trip_through_both_writers(spark, warehouse):
    coll = warehouse.collections.create("odd", SCHEMA)
    register(spark)
    rng = np.random.default_rng(3)
    engine_data, bulk_data = rng.normal(size=(20, 12)), rng.normal(size=(20, 12))
    engine = coll.arrays.create({"k": 1}, id_=ODD_ID, data=engine_data)
    bulk_id = "bulk " + ODD_ID
    cells = spark.createDataFrame(
        [(bulk_id, i, j, float(bulk_data[i, j])) for i in range(20) for j in range(12)],
        "array_id string, x long, y long, value double",
    ).repartition(3)
    (
        cells.write.format("deker").option("path", warehouse.root)
        .option("collection", "odd").mode("append").save()
    )
    assert [os.path.basename(d) for d in _array_dirs(coll)] == sorted(
        array_dir_name(a) for a in (ODD_ID, bulk_id)
    )
    bulk = coll.arrays.get_by_id(bulk_id)
    store = ChunkStore(spark, coll.path)
    whole = spark.read.schema(CHUNK_SCHEMA).parquet(store.path)
    for array, data in ((engine, engine_data), (bulk, bulk_data)):
        np.testing.assert_array_equal(array.read_data(), data)
        np.testing.assert_array_equal(array[3:9, 2], data[3:9, 2])
        assert _scanned_files(store.scan(array.id)) == _scanned_files(
            whole.filter(F.col("array_id") == array.id)
        )
    ds = (
        spark.read.format("deker").option("path", warehouse.root)
        .option("collection", "odd").load().filter(F.col("array_id") == bulk_id)
    )
    assert ds.count() == 20 * 12
    cells_ids = {r[0] for r in coll.arrays.cells_df([ODD_ID, bulk_id]).select("array_id").distinct().collect()}
    assert cells_ids == {ODD_ID, bulk_id}
    coll.arrays.delete(engine)
    coll.arrays.delete(bulk)
    assert _array_dirs(coll) == []


def test_raw_named_dir_of_earlier_bulk_appends_is_read_and_deleted(spark, warehouse):
    """Before ids were escaped, the ``deker`` writer named directories
    with the raw id; Spark reads such a directory back as the same id,
    so scans and deletes must still find it."""
    coll = warehouse.collections.create("legacy", SCHEMA)
    data = np.arange(240.0).reshape(20, 12)
    arr = coll.arrays.create({"k": 1}, id_="a#1", data=data)
    [escaped] = _array_dirs(coll)
    raw = os.path.join(coll.path, "chunks", "array_id=a#1")
    os.rename(escaped, raw)
    np.testing.assert_array_equal(arr.read_data(), data)
    coll.arrays.delete(arr)
    assert _array_dirs(coll) == []


class TestAbsentDirectories:
    def test_sparse_bulk_append_reads_fill_for_missing_chunks(self, spark, warehouse, parquet_paths):
        coll = warehouse.collections.create("sparse", WIDE)
        register(spark)
        cells = spark.createDataFrame(
            [("s", 0, 0, 5.0), ("s", 11, 11, 7.0)],
            "array_id string, x long, y long, value double",
        )
        (
            cells.write.format("deker").option("path", warehouse.root)
            .option("collection", "sparse").mode("append").save()
        )
        assert len(glob.glob(os.path.join(coll.path, "chunks", "array_id=s", "chunk_idx=*"))) == 2
        va = VArray(coll, "s", {}, {})
        want = np.full((12, 12), -1.0)
        want[0, 0], want[11, 11] = 5.0, 7.0
        np.testing.assert_array_equal(va.read_data(), want)
        np.testing.assert_array_equal(va[4:8, 4:8], want[4:8, 4:8])  # no chunk dir at all
        assert os.path.join(coll.path, "chunks") not in parquet_paths

    def test_deleted_and_never_written_arrays_read_fill(self, spark, warehouse, parquet_paths):
        coll = warehouse.collections.create("gone", SCHEMA)
        never = Array(coll, "never", {"k": 0}, {})
        assert not os.path.exists(os.path.join(coll.path, "chunks"))  # no store yet
        np.testing.assert_array_equal(never.read_data(), np.full((20, 12), -1.0))
        kept = coll.arrays.create({"k": 1}, data=np.ones((20, 12)))
        gone = coll.arrays.create({"k": 2}, data=np.zeros((20, 12)))
        coll.arrays.delete(gone)
        np.testing.assert_array_equal(gone.read_data(), np.full((20, 12), -1.0))
        np.testing.assert_array_equal(gone[2:4, 5], np.full(2, -1.0))
        np.testing.assert_array_equal(never.read_data(), np.full((20, 12), -1.0))
        np.testing.assert_array_equal(kept.read_data(), np.ones((20, 12)))
        assert gone.cell_df().count() == 0
        assert coll.arrays.cells_df([gone.id, "never"]).count() == 0
        assert os.path.join(coll.path, "chunks") not in parquet_paths

    def test_dir_vanishing_before_sparks_check_reads_fill(self, spark, warehouse, monkeypatch, parquet_paths):
        coll = warehouse.collections.create("race", WIDE)
        data = np.arange(144.0).reshape(12, 12)
        va = coll.varrays.create(id_="r", data=data)
        victim = os.path.join(coll.path, "chunks", "array_id=r", "chunk_idx=0")
        real = ChunkStore._existing
        calls = []

        def stale_once(paths):
            live = real(paths)
            calls.append(live)
            if len(calls) == 1:  # the directory goes after this check
                shutil.rmtree(victim)
            return live

        monkeypatch.setattr(ChunkStore, "_existing", staticmethod(stale_once))
        want = data[0:4, 0:4].copy()
        want[0:2, 0:2] = -1.0  # chunk 0 of the 6x6 vgrid is rows 0:2, cols 0:2
        np.testing.assert_array_equal(va[0:4, 0:4], want)
        assert len(calls) == 2 and victim in calls[0] and victim not in calls[1]
        assert os.path.join(coll.path, "chunks") not in parquet_paths


def _jobs(spark, action):
    """(result, job ids) of ``action`` run under a job group of its own."""
    sc = spark.sparkContext
    group = f"pruned-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _listing_jobs(spark, job_ids) -> list[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in job_ids:
        desc = store.job(j).description()
        if desc.isDefined() and desc.get().startswith("Listing leaf files"):
            out.append(j)
    return out


def test_wide_store_reads_and_lookups_run_no_listing_job(spark, warehouse):
    coll = warehouse.collections.create("wide", WIDE)
    data = np.arange(144.0).reshape(12, 12)
    va = coll.varrays.create(id_="w", data=data)
    assert len(glob.glob(os.path.join(coll.path, "chunks", "array_id=w", "chunk_idx=*"))) == 36
    assert len(glob.glob(os.path.join(coll.path, "meta", "*.json"))) == 37
    got, jobs = _jobs(spark, lambda: va[5, 7])
    assert got == data[5, 7]
    assert len(jobs) == 1
    found, jobs = _jobs(
        spark, lambda: coll.arrays.get_by_primary_attributes({"vid": "w", "v_position": [2, 3]})
    )
    assert found is not None and found.id == "w:15"
    assert jobs and _listing_jobs(spark, jobs) == []


class TestHiddenIds:
    @pytest.mark.parametrize("bad", ["_under", ".dot"])
    def test_engine_creates_reject_hidden_ids(self, warehouse, bad):
        coll = warehouse.collections.create("h", SCHEMA)
        with pytest.raises(DekerValidationError, match="starts with"):
            coll.arrays.create({"k": 0}, id_=bad)
        vcoll = warehouse.collections.create("hv", WIDE)
        with pytest.raises(DekerValidationError, match="starts with"):
            vcoll.varrays.create(id_=bad)
        assert glob.glob(os.path.join(coll.path, "meta", "*")) == []
        assert glob.glob(os.path.join(vcoll.path, "meta", "*")) == []

    def test_inner_underscore_is_found(self, warehouse):
        coll = warehouse.collections.create("h", SCHEMA)
        coll.arrays.create({"k": 0}, id_="a_b.c")
        found = coll.arrays.get_by_primary_attributes({"k": 0})
        assert found is not None and found.id == "a_b.c"

    def test_bulk_writer_rejects_hidden_ids(self, spark, warehouse):
        coll = warehouse.collections.create("hb", SCHEMA)
        register(spark)
        cells = spark.createDataFrame(
            [("_bulk", 0, 0, 1.0)], "array_id string, x long, y long, value double"
        )
        with pytest.raises(Exception, match="starts with"):
            (
                cells.write.format("deker").option("path", warehouse.root)
                .option("collection", "hb").mode("append").save()
            )
        assert glob.glob(os.path.join(coll.path, "chunks", "*", "*", "*.parquet")) == []
        assert not glob.glob(os.path.join(coll.path, "meta", "*"))
