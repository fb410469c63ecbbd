"""Datacube extension golden parity: the engine's cube:dimensions /
cube:variables must reproduce the reference's own expected values over its
checked-in NcML files (/root/reference/tests/test_cmip6_datacube.py)."""

import re

import pytest

from stac_populator_spark.operators.cubedict import cube_dimensions, cube_variables
from stac_populator_spark.sources.ncml import ncml_to_cf_dict

DATA = "/root/reference/tests/data"

pytestmark = pytest.mark.requires_reference(DATA)

# the reference conftest's 0-360 WKT fixture (tests/conftest.py:5-60)
WKT_0_360 = """
    GEOGCRS["WGS 84",
        DATUM[
            "based on WGS 84 ellipsoid",
            ELLIPSOID[
                "WGS 84",
                6378137,
                298.257223563,
                LENGTHUNIT["metre",1]
            ]
        ],
        PRIMEM[
            "Greenwich",
            -360,
            ANGLEUNIT[
                "degree",
                0.0174532925199433
            ]
        ],
        CS[
            ellipsoidal,
            3
        ],
        AXIS[
            "geodetic longitude (Lon)",
            east,
            ORDER[1],
            ANGLEUNIT[
                "degree",
                0.0174532925199433
            ]
        ],
        AXIS[
            "geodetic latitude (Lat)",
            north,
            ORDER[2],
            ANGLEUNIT[
                "degree",
                0.0174532925199433
            ]
        ],
        AXIS[
            "ellipsoidal height (h)",
            up,
            ORDER[3],
            LENGTHUNIT[
                "metre",
                1
            ]
        ]
    ]
"""


def _attrs(xml_name: str) -> dict:
    with open(f"{DATA}/{xml_name}", encoding="utf-8") as fh:
        attrs = ncml_to_cf_dict(fh.read())
    attrs["access_urls"] = {"HTTPServer": "http://example.com"}
    attrs["@stac-populator"] = {"fallback_crs": WKT_0_360}
    return attrs


def test_dimensions_golden_huss():
    # the reference's literal expected dict (test_cmip6_datacube.py:60-110)
    attrs = _attrs("huss_Amon_TaiESM1_historical_r1i1p1f1_gn_185001-201412.xml")
    dims = cube_dimensions(attrs)
    ref_string = re.sub(r"\n\s+", "", WKT_0_360).strip()
    assert dims == {
        "height": {
            "axis": "z",
            "description": "air_pressure",
            "extent": [2.0, 2.0],
            "type": "spatial",
            "step": 0.0,
            "unit": "metre",
            "reference_system": ref_string,
        },
        "lat": {
            "axis": "y",
            "description": "projection_y_coordinate",
            "extent": [-90.0, 90.0],
            "type": "spatial",
            "step": 0.9424083769633508,
            "unit": "degree",
            "reference_system": ref_string,
        },
        "lon": {
            "axis": "x",
            "description": "projection_x_coordinate",
            "extent": [0.0, 358.75],
            "type": "spatial",
            "step": 1.25,
            "unit": "degree",
            "reference_system": ref_string,
        },
        "time": {
            "description": "time",
            "extent": ["1848-10-23T12:00:00Z", "2013-08-13T12:00:00Z"],
            "type": "temporal",
        },
    }


def test_auxiliary_variables_golden_clt():
    # reference test_auxiliary_variables (test_cmip6_datacube.py:113-125)
    attrs = _attrs("clt_Amon_EC-Earth3_historical_r2i1p1f1_gr_185001-201412.xml")
    dims = cube_dimensions(attrs)
    variables = cube_variables(attrs)
    assert set(dims) == {"time", "lat", "lon"}
    assert variables["lon_bnds"]["unit"] == "degrees_east"
    assert variables["time_bnds"]["unit"] == "days since 1850-01-01"
    assert variables["time_bnds"]["type"] == "auxiliary"
    assert variables["time_bnds"]["description"] == "bounds for the time coordinate"
    assert variables["clt"]["type"] == "data"


def test_rdps_hrdps_cube_assertions():
    # the reference's own rdps/hrdps item assertions
    # (tests/test_rdps.py:21-69) over its checked-in to_cf_dict fixtures
    import json

    rdps = json.load(open(f"{DATA}/rdps.json", encoding="utf-8"))
    assert "TD" in cube_variables(rdps)
    for name, data_var in (("hrdps_sfc", "HRDPS_P_PR_SFC"), ("hrdps_p_tt", "HRDPS_P_TT_10000")):
        attrs = json.load(open(f"{DATA}/{name}.json", encoding="utf-8"))
        assert set(cube_dimensions(attrs)) == {"time", "rlat", "rlon"}
        variables = cube_variables(attrs)
        assert data_var in variables
        assert variables[data_var]["type"] == "data"


def test_o3_curvilinear_grid_dimensions():
    # curvilinear ocean grid: cell-index dims i/j classify as spatial via
    # the long_name "cell index along …" criteria, with int extents
    # [0, length] (reference datacube.py:170-172)
    attrs = _attrs("o3_Amon_GFDL-ESM4_historical_r1i1p1f1_gr1_185001-194912.xml")
    dims = cube_dimensions(attrs)
    assert dims["time"]["type"] == "temporal"
    assert dims["i"]["axis"] == "x" and dims["i"]["extent"] == [0, 360]
    assert dims["j"]["axis"] == "y" and dims["j"]["extent"] == [0, 291]
    # non-coordinate dims (bnds/vertices/maxStrlen64) are not cube dims
    assert set(dims) == {"time", "i", "j"}
