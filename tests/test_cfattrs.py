"""The reference's OWN test fixtures (raw CF metadata dicts,
/root/reference/tests/data/{rdps,hrdps_*,cordex6_ncml}.json) flow through
our engine: bbox/vertical/temporal extraction, antimeridian state,
datacube classification, asset derivation."""

import json
import os

import pytest
from pyspark.sql import functions as F

from stac_populator_spark.operators.datacube import with_datacube
from stac_populator_spark.operators.extensions import assets_from_access_urls
from stac_populator_spark.sources.cfattrs import cf_items, parse_cf_document

REF_DATA = "/root/reference/tests/data"
FIXTURES = ["rdps.json", "hrdps_p_tt.json", "hrdps_sfc.json", "cordex6_ncml.json"]


@pytest.fixture(scope="module")
def cf_df(spark):
    rows = []
    for name in FIXTURES:
        p = os.path.join(REF_DATA, name)
        if os.path.exists(p):
            rows.append((name, open(p).read()))
    assert rows, "reference fixtures must exist"
    return spark.createDataFrame(rows, "path string, value string")


@pytest.mark.requires_reference(REF_DATA)
def test_rdps_geospatial_values():
    doc = json.load(open(os.path.join(REF_DATA, "rdps.json")))
    item = parse_cf_document(doc, fallback_id="rdps")
    cf = doc["groups"]["CFMetadata"]["attributes"]
    assert item["lat_min"] == cf["geospatial_lat_min"][0]
    assert item["lat_max"] == cf["geospatial_lat_max"][0]
    # 0-360 longitudes normalized to ±180; this global grid wraps
    assert item["lon_min"] == cf["geospatial_lon_min"][0]  # 0.00029 ≤ 180
    assert item["lon_max"] == pytest.approx(cf["geospatial_lon_max"][0] - 360.0)
    assert item["crosses_am"] is True
    geom = json.loads(item["geometry"])
    assert geom["type"] == "MultiPolygon"
    # temporal extent from time_coverage_* (datacube.py:273-278)
    assert item["start_datetime"].isoformat().startswith("2024-01-01T00:00:00")
    assert item["end_datetime"] >= item["start_datetime"]
    assert "HTTPServer" in item["access_urls"]


@pytest.mark.requires_reference(REF_DATA)
def test_all_fixtures_through_engine(spark, cf_df):
    items = cf_items(cf_df)
    rows = {r["id"] or r["bbox"] and "?": r for r in items.collect()}
    assert items.count() == cf_df.count()
    got = items.collect()
    for r in got:
        # every fixture has geospatial extents and valid WGS84 latitudes
        assert r["lat_min"] is not None and -90 <= r["lat_min"] <= 90
        assert -90 <= r["lat_max"] <= 90
        assert -180 <= r["lon_min"] <= 180 and -180 <= r["lon_max"] <= 180
        assert r["start_datetime"] is not None


@pytest.mark.requires_reference(REF_DATA)
def test_datacube_classification_on_rdps(spark, cf_df):
    rdps = cf_items(cf_df.filter(F.col("path") == "rdps.json"))
    out = with_datacube(rdps).select("cube_dimensions", "cube_variables").collect()[0]
    dims = {d["name"]: d for d in out["cube_dimensions"]}
    # time axis T → temporal; pres (pressure) → vertical spatial
    assert dims["time"]["type"] == "temporal"
    assert "pres" in dims and dims["pres"]["type"] == "spatial" and dims["pres"]["axis"] == "z"
    vars_ = {v["name"]: v for v in out["cube_variables"]}
    # data variables (GZ/HU geopotential+humidity) classified data
    assert vars_["GZ"]["var_type"] == "data"
    assert vars_["time"]["var_type"] == "auxiliary"


@pytest.mark.requires_reference(REF_DATA)
def test_assets_from_fixture_access_urls(spark, cf_df):
    items = cf_items(cf_df.filter(F.col("path") == "rdps.json"))
    assets = items.select(assets_from_access_urls(F.col("access_urls")).alias("a")).collect()[0]["a"]
    assert assets["HTTPServer"]["type"] == "application/x-netcdf"
    assert list(assets["HTTPServer"]["roles"]) == ["data"]
    # keys are canonical ServiceType values (THREDDSHelper canonicalizes
    # via ServiceType.from_value, thredds.py:139): raw 'NCML' → 'NcML'
    assert assets["NcML"]["type"] == "application/xml"


def test_malformed_cf_json_routed_not_dropped(spark):
    # dead-letter contract: a corrupt document yields an error-tagged row
    # (reference populators.py:268-274 isolates per-item failures)
    import pandas as pd

    from stac_populator_spark.sources.cfattrs import cf_items

    df = spark.createDataFrame(
        pd.DataFrame({"value": ["{not json", '{"attributes": {}}'],
                      "path": ["bad.json", "ok.json"]})
    )
    rows = {r["id"]: r for r in cf_items(df).collect()}
    assert len(rows) == 2  # nothing silently dropped
    assert rows["bad.json"]["geo_error"].startswith("malformed_cf_json")
    assert rows["ok.json"]["geo_error"] is None


def test_cf_items_routes_non_object_json(spark):
    # r4 review: valid JSON that is not an object ('[1,2]', '42') must
    # dead-letter, not kill the task with AttributeError
    import pandas as pd

    from stac_populator_spark.sources.cfattrs import cf_items

    df = spark.createDataFrame(
        pd.DataFrame({"id": ["l", "i"], "doc": ["[1,2]", "42"]})
    )
    rows = {r["id"]: r for r in cf_items(df, json_col="doc", id_col="id").collect()}
    assert all("malformed_cf_json" in rows[k]["geo_error"] for k in ("l", "i"))
