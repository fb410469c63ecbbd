"""CORDEX6 item assembly over the reference's checked-in fixtures, with
the reference's own assertions (tests/test_cordex.py:41-62)."""

import json

import pytest

from stac_populator_spark.operators.cordex6 import cordex6_item_dict, cordex6_uid

RAW = "/root/reference/tests/data/cordex6_raw.json"
NCML = "/root/reference/tests/data/cordex6_ncml.json"

pytestmark = pytest.mark.requires_reference(RAW, NCML)


@pytest.fixture(scope="module")
def raw_attrs():
    with open(RAW, encoding="utf-8") as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def ncml_attrs():
    with open(NCML, encoding="utf-8") as fh:
        return json.load(fh)


def test_item_raw(raw_attrs):
    # mirror of the reference test_item_raw
    item = cordex6_item_dict(raw_attrs)
    assert set(item["helpers"]) == {"cordex6", "thredds", "datacube"}
    assert item["properties"]["cordex6:activity_id"] == "DD"
    assert item["properties"]["cordex6:project_id"] == "CORDEX"
    assert item["id"].startswith("DD_")


def test_item_ncml(ncml_attrs):
    # mirror of the reference test_item_ncml
    item = cordex6_item_dict(ncml_attrs, ncml=True)
    assert set(item["helpers"]) == {"cordex6", "thredds", "datacube", "xscen"}
    assert item["properties"]["cordex6:activity_id"] == "DD"
    assert item["properties"]["cordex6:project_id"] == "CORDEX"
    assert item["properties"]["xscen:type"] == "simulation"


def test_uid_rule(raw_attrs):
    # 11 CV attrs + start/end %Y%m%d, '_'-joined (cordex6.py:58-76)
    uid = cordex6_uid(raw_attrs)
    parts = uid.split("_")
    assert len(parts) >= 13
    assert parts[0] == "DD"
    assert parts[-1].isdigit() and len(parts[-1]) == 8  # end date
    assert parts[-2].isdigit() and len(parts[-2]) == 8  # start date


def test_xscen_cv_rejects_bad_value(ncml_attrs):
    import copy

    bad = copy.deepcopy(ncml_attrs)
    bad["attributes"]["type"] = "not-a-valid-type"
    with pytest.raises(ValueError, match="xscen:type"):
        cordex6_item_dict(bad, ncml=True)


def test_cordex6_through_spark(spark, ncml_attrs, raw_attrs):
    from stac_populator_spark.operators.cordex6 import cordex6_items

    df = spark.createDataFrame(
        [(json.dumps(ncml_attrs),), (json.dumps(raw_attrs),), ("{broken",)],
        "value string",
    )
    rows = {r["id"]: r for r in cordex6_items(df, ncml=False).collect()}
    ok = [r for r in rows.values() if r["error"] is None]
    bad = [r for r in rows.values() if r["error"] is not None]
    assert len(ok) == 2 and len(bad) == 1
    doc = json.loads(ok[0]["stac_json"])
    assert doc["properties"]["cordex6:project_id"] == "CORDEX"
    assert doc["id"].startswith("DD_")


def test_datacube_props_present(ncml_attrs):
    item = cordex6_item_dict(ncml_attrs, ncml=True)
    dims = item["properties"]["cube:dimensions"]
    assert any(p["type"] == "temporal" for p in dims.values())
    assert any(p["type"] == "spatial" for p in dims.values())
    variables = item["properties"]["cube:variables"]
    assert any(v["type"] == "data" for v in variables.values())
