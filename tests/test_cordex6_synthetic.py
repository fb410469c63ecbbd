"""CORDEX6 item assembly over a synthetic CF document, so the module's
rules are checked without the reference fixtures: the uid rule, the helper
set, the field prefix rule, the xscen vocabulary check and the dead-letter
rows of ``cordex6_items``."""

import json

import pytest

from stac_populator_spark.operators.cordex6 import (
    CORDEX6_FIELDS,
    UID_KEYS,
    XSCEN_CV,
    _prefixed,
    cordex6_item_dict,
    cordex6_items,
    cordex6_uid,
)


def _doc(**extra_attrs) -> dict:
    attrs = {f: f"v-{f}" for f in CORDEX6_FIELDS}
    attrs.update(extra_attrs)
    cf = {
        "time_coverage_start": "2015-01-01T00:00:00Z",
        "time_coverage_end": "2015-12-31T23:59:59Z",
        "geospatial_lon_min": -10.0,
        "geospatial_lon_max": 10.0,
        "geospatial_lat_min": 40.0,
        "geospatial_lat_max": 50.0,
    }
    return {
        "attributes": attrs,
        "groups": {"CFMetadata": {"attributes": cf}},
        "access_urls": {"HTTPServer": "https://example.org/thredds/fileServer/a.nc"},
    }


def test_uid_joins_keys_and_dates():
    doc = _doc()
    expected = "_".join([f"v-{k}" for k in UID_KEYS] + ["20150101", "20151231"])
    assert cordex6_uid(doc) == expected
    assert cordex6_item_dict(doc)["id"] == expected


def test_helpers_gain_xscen_only_for_ncml():
    doc = _doc(type="simulation", processing_level="raw", license_type="permissive")
    assert set(cordex6_item_dict(doc)["helpers"]) == {"cordex6", "thredds", "datacube"}
    item = cordex6_item_dict(doc, ncml=True)
    assert set(item["helpers"]) == {"cordex6", "thredds", "datacube", "xscen"}
    assert item["properties"]["xscen:type"] == "simulation"
    assert item["properties"]["xscen:processing_level"] == "raw"


def test_fields_are_prefixed_except_datetime_names():
    props = cordex6_item_dict(_doc())["properties"]
    for f in CORDEX6_FIELDS:
        assert props[f"cordex6:{f}"] == f"v-{f}"
        assert f not in props
    assert props["start_datetime"] == "2015-01-01T00:00:00Z"
    assert props["end_datetime"] == "2015-12-31T23:59:59Z"
    assert _prefixed("cordex6", "start_datetime") == "start_datetime"
    assert _prefixed("cordex6", "domain") == "cordex6:domain"


@pytest.mark.parametrize("field", sorted(XSCEN_CV))
def test_xscen_value_outside_cv_raises(field):
    doc = _doc(**{field: "not-in-the-cv"})
    with pytest.raises(ValueError, match=f"xscen:{field}"):
        cordex6_item_dict(doc, ncml=True)
    # the raw (non-NcML) model has no xscen helper and ignores the field
    assert "xscen:" + field not in cordex6_item_dict(doc)["properties"]


def test_items_route_malformed_row_to_error(spark):
    df = spark.createDataFrame([(json.dumps(_doc()),), ("{broken",)], "value string")
    rows = cordex6_items(df).collect()
    ok = [r for r in rows if r["error"] is None]
    bad = [r for r in rows if r["error"] is not None]
    assert len(ok) == 1 and len(bad) == 1
    assert ok[0]["id"] == cordex6_uid(_doc())
    item = json.loads(ok[0]["stac_json"])
    assert item["id"] == ok[0]["id"]
    assert "helpers" not in item
    assert bad[0]["id"] is None and bad[0]["stac_json"] is None
