"""Golden STAC-item comparison — the reference's core correctness oracle
(compare_stac_items, /root/reference/tests/test_standalone_stac_item.py:29-43:
field-by-field equality with float tolerance on bbox/coordinates), applied
to a frozen expected document for a known synthetic page."""

import json

import pytest
from pyspark.sql import functions as F

from stac_populator_spark.datagen import footprints_pdf, pages_df
from stac_populator_spark.operators.spatial_join import footprint_cover_df
from stac_populator_spark.plans.pipeline import build_items

GOLDEN_URL = "https://site2.example/zh/page2.html"
GOLDEN = {
    "type": "Feature",
    "stac_version": "1.0.0",
    "id": "site2.example__zh__page2.html",
    "bbox": [95.550896, 16.258474, 95.550896, 16.258474],
    "geometry": {
        "type": "Polygon",
        "coordinates": [
            [
                [95.550896, 16.258474],
                [95.550896, 16.258474],
                [95.550896, 16.258474],
                [95.550896, 16.258474],
                [95.550896, 16.258474],
            ]
        ],
    },
    "properties": {
        "datetime": "2020-01-01T00:32:34Z",
        "page:title": "Page 2",
        "page:language": "zh",
        "page:crawl_ts": "2024-01-01T00:04:34Z",
    },
    "assets": {
        "source": {
            "href": "https://site2.example/zh/page2.html",
            "type": "text/html",
            "roles": ["data"],
        }
    },
}


def compare_stac_items(got: dict, expected: dict) -> None:
    """Port of the reference comparator: exact on ids/strings, approx on
    bbox/coordinates."""
    assert got["id"] == expected["id"]
    assert got["type"] == expected["type"]
    assert got["stac_version"] == expected["stac_version"]
    assert got["bbox"] == pytest.approx(expected["bbox"])
    assert got["geometry"]["type"] == expected["geometry"]["type"]
    for ring_g, ring_e in zip(got["geometry"]["coordinates"], expected["geometry"]["coordinates"]):
        for pg, pe in zip(ring_g, ring_e):
            assert pg == pytest.approx(pe)
    for k, v in expected["properties"].items():
        assert got["properties"][k] == v, k
    assert got["assets"] == expected["assets"]


def test_golden_item(spark):
    pages = pages_df(spark, 10, partitions=1)
    cover = footprint_cover_df(spark, footprints_pdf())
    items = build_items(pages, cover)
    rows = items.filter(F.col("url") == GOLDEN_URL).select("stac_json").collect()
    assert rows, "golden page must join at least one footprint"
    got = json.loads(rows[0]["stac_json"])
    compare_stac_items(got, GOLDEN)
    # datetime null ⇔ start/end present rule: point pages carry datetime
    assert got["properties"]["datetime"] is not None


def test_observed_counts(spark):
    from stac_populator_spark.operators.extract import extract_items
    from stac_populator_spark.runlog import observed_counts

    items = extract_items(pages_df(spark, 300, partitions=2))
    df, obs = observed_counts(items, rows=F.lit(True), null_geometry=F.col("lon").isNull())
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows"] == 300
    assert 0 < got["null_geometry"] < 300
