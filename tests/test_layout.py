"""Partitioned items layout: partition pruning must reach the scan."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from stac_populator_spark.datagen import pages_df
from stac_populator_spark.operators.cells import encode_cells
from stac_populator_spark.operators.extract import extract_items
from stac_populator_spark.sources.layout import read_items, write_items_partitioned


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def items_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("layout") / "items")
    items = encode_cells(extract_items(pages_df(spark, 800, partitions=2)))
    write_items_partitioned(items, p)
    return p


def test_partition_pruning_on_lang(spark, items_path):
    df = read_items(spark, items_path).filter(F.col("lang") == "en").select("id")
    plan = _plan(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "lang" in pf and "isnotnull" in pf
    # and pruning actually reduces the files read vs a full scan
    n_en = df.count()
    n_all = read_items(spark, items_path).count()
    assert 0 < n_en < n_all


def test_partition_pruning_on_cell(spark, items_path):
    full = read_items(spark, items_path)
    some_cell = full.filter(F.col("cell_coarse") != 0).select("cell_coarse").first()[0]
    df = full.filter(F.col("cell_coarse") == some_cell)
    plan = _plan(df.select("id"))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "cell_coarse" in pf
    got = df.count()
    assert got > 0
    # every row in the partition shares the coarse cell
    assert df.select("cell_coarse").distinct().count() == 1


def test_coarse_cell_is_the_level4_s2_parent(spark, items_path):
    import numpy as np

    from stac_populator_spark.functions.s2 import s2_parent

    rows = read_items(spark, items_path).select("cell_s2", "cell_coarse").collect()
    cells = np.array([r[0] or 0 for r in rows], dtype=np.int64)
    want = np.where(cells == 0, 0, s2_parent(cells, 4))
    assert (cells != 0).any()
    assert (np.array([r[1] for r in rows], dtype=np.int64) == want).all()


def test_roundtrip_preserves_rows(spark, items_path):
    items = encode_cells(extract_items(pages_df(spark, 800, partitions=2)))
    assert read_items(spark, items_path).count() == items.count()
