"""Reference golden-item parity: the engine must reproduce the reference's
checked-in STAC item (tests/data/stac_item_testdata_xclim_cmip6_ncml.json)
from the reference's own recorded NcML response, via the ported comparator
(/root/reference/tests/test_standalone_stac_item.py:29-78)."""

import json

import pytest
import yaml

from stac_populator_spark.operators.cmip6 import cmip6_item_dict, cmip6_items
from stac_populator_spark.sources.ncml import ncml_to_cf_dict

CASSETTE = (
    "/root/reference/tests/cassettes/test_standalone_stac_item/"
    "test_standalone_stac_item_thredds_ncml.yaml"
)
GOLDEN = "/root/reference/tests/data/stac_item_testdata_xclim_cmip6_ncml.json"

pytestmark = pytest.mark.requires_reference(CASSETTE, GOLDEN)

THREDDS_URL = "https://pavics.ouranos.ca/twitcher/ows/proxy/thredds"
THREDDS_PATH = "birdhouse/testdata/xclim/cmip6"
THREDDS_NC = "sic_SImon_CCCma-CanESM5_ssp245_r13i1p2f1_2020.nc"


def _access_urls() -> dict:
    # exactly the reference test's construction
    # (test_standalone_stac_item.py:60-68)
    return {
        "HTTPServer": f"{THREDDS_URL}/fileServer/{THREDDS_PATH}/{THREDDS_NC}",
        "OPENDAP": f"{THREDDS_URL}/dodsC/{THREDDS_PATH}/{THREDDS_NC}",
        "WCS": f"{THREDDS_URL}/wcs/{THREDDS_PATH}/{THREDDS_NC}",
        "WMS": f"{THREDDS_URL}/wms/{THREDDS_PATH}/{THREDDS_NC}",
        "NetcdfSubset": f"{THREDDS_URL}/ncss/{THREDDS_PATH}/{THREDDS_NC}/dataset.html",
    }


def _attrs() -> dict:
    with open(CASSETTE, encoding="utf-8") as fh:
        cassette = yaml.safe_load(fh)
    ncml_text = cassette["interactions"][0]["response"]["body"]["string"]
    attrs = ncml_to_cf_dict(ncml_text)
    attrs["access_urls"] = _access_urls()
    return attrs


def _approx_nested(val):
    if isinstance(val, list):
        return [_approx_nested(x) for x in val]
    return pytest.approx(val)


def compare_stac_items(item1: dict, item2: dict) -> None:
    """Port of the reference comparator (test_standalone_stac_item.py:36-43):
    exact dict equality with approx on bbox / geometry coordinates."""
    from copy import deepcopy

    item_copy = deepcopy(item1)
    if item_copy["bbox"] is not None:
        item_copy["bbox"] = _approx_nested(item_copy["bbox"])
    if item_copy["geometry"] is not None:
        item_copy["geometry"]["coordinates"] = _approx_nested(
            item_copy["geometry"]["coordinates"]
        )
    assert item_copy == item2


@pytest.fixture(scope="module")
def golden() -> dict:
    with open(GOLDEN, encoding="utf-8") as fh:
        return json.load(fh)


def test_golden_item_pure_python(golden):
    got = cmip6_item_dict(_attrs())
    compare_stac_items(got, golden)


def test_golden_item_bbox_bit_exact(golden):
    # beyond approx: the float32→float64 widening artifacts must be
    # BIT-identical (0.049800001084804535, -0.00506591796875, ...)
    got = cmip6_item_dict(_attrs())
    assert got["bbox"] == golden["bbox"]
    assert got["geometry"] == golden["geometry"]


def test_golden_item_through_spark(spark, golden):
    df = spark.createDataFrame([(json.dumps(_attrs()),)], "value string")
    rows = cmip6_items(df).collect()
    assert len(rows) == 1 and rows[0]["error"] is None
    got = json.loads(rows[0]["stac_json"])
    compare_stac_items(got, golden)
    assert rows[0]["id"] == golden["id"]


def test_cmip6_dead_letter_on_malformed(spark):
    attrs = _attrs()
    del attrs["attributes"]["activity_id"]  # break a required CV field
    df = spark.createDataFrame(
        [(json.dumps(attrs),), ("{not json",)], "value string"
    )
    rows = cmip6_items(df).collect()
    assert all(r["error"] is not None for r in rows)
