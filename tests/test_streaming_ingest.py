"""Structured Streaming ingest: exactly-once output, resume from a
checkpoint, and the incremental collection counts."""

import os

import pytest
from pyspark.sql import functions as F

from stac_populator_spark.datagen import footprints_pdf, pages_pdf
from stac_populator_spark.operators.spatial_join import footprint_cover_df
from stac_populator_spark.streaming.ingest import read_pages_stream, stream_items


@pytest.fixture(scope="module")
def cover(spark):
    return footprint_cover_df(spark, footprints_pdf())


def _write_pages_files(spark, d, batches):
    os.makedirs(d, exist_ok=True)
    for i, (start, count) in enumerate(batches):
        pdf = pages_pdf(start, count)
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(d)


def test_stream_matches_batch(spark, tmp_path, cover):
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "items_out")
    cp = str(tmp_path / "cp")
    _write_pages_files(spark, src, [(0, 300), (300, 300)])

    q = stream_items(read_pages_stream(spark, src), cover, out, cp)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    from stac_populator_spark.plans.pipeline import build_items

    batch = build_items(spark.read.parquet(src), cover)
    key = lambda df: sorted(
        (r["id"], r["collection_id"], r["cell_s2"]) for r in df.select("id", "collection_id", "cell_s2").collect()
    )
    assert key(got) == key(batch)


def test_stream_resume_no_duplicates(spark, tmp_path, cover):
    src = str(tmp_path / "pages_in2")
    out = str(tmp_path / "items_out2")
    cp = str(tmp_path / "cp2")
    _write_pages_files(spark, src, [(0, 300)])
    stream_items(read_pages_stream(spark, src), cover, out, cp).awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    # new files arrive; resume from the same checkpoint → only new rows added
    _write_pages_files(spark, src, [(300, 300)])
    stream_items(read_pages_stream(spark, src), cover, out, cp).awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() > n1
    assert got.groupBy("id", "collection_id").count().filter(F.col("count") > 1).count() == 0


def test_stream_collection_counts(spark, tmp_path, cover):
    from stac_populator_spark.streaming.ingest import stream_collection_counts

    src = str(tmp_path / "pages_in3")
    cp = str(tmp_path / "cp3")
    _write_pages_files(spark, src, [(0, 400)])
    q = stream_collection_counts(read_pages_stream(spark, src), cover, cp)
    q.awaitTermination(120)
    got = spark.sql("select * from collection_counts")
    # streaming incremental agg equals the batch aggregate (A6 semantics)
    from stac_populator_spark.operators.collection_agg import collection_extent
    from stac_populator_spark.plans.pipeline import build_items

    batch = collection_extent(
        build_items(spark.read.parquet(src), cover).filter(F.col("collection_id").isNotNull())
    )
    key = lambda df: sorted(
        (r["collection_id"], r["item_count"], tuple(r["bbox"])) for r in df.collect()
    )
    assert key(got) == key(batch)
