"""ServiceType parity: the canonical-service table must enumerate the
reference's COMPLETE ServiceType enum (stac_utils.py:315-345), and the
crawl-time NetcdfSubset grid/point disambiguation (input.py:127-133) must
hold as a column expression."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stac_populator_spark.operators.extensions import (
    SERVICE_CANONICAL,
    canonical_service_key,
    canonicalize_access_urls,
)

REF_STAC_UTILS = "/root/reference/STACpopulator/stac_utils.py"

# the reference's ServiceType enum (28 kinds), member name → value, frozen
# from STACpopulator/stac_utils.py:315-345 so the table check runs without
# the reference checkout; test_frozen_enum_matches_reference_source
# re-reads it
REFERENCE_ENUM = {
    "adde": "ADDE",
    "dap4": "DAP4",
    "dods": "DODS",
    "opendap": "OpenDAP",
    "opendapg": "OpenDAPG",
    "netcdfsubset": "NetcdfSubset",
    "netcdfsubsetgrid": "NetcdfSubsetGrid",
    "netcdfsubsetpoint": "NetcdfSubsetPoint",
    "cdmremote": "CdmRemote",
    "cdmfeature": "CdmFeature",
    "ncjson": "ncJSON",
    "h5service": "H5Service",
    "httpserver": "HTTPServer",
    "ftp": "FTP",
    "gridftp": "GridFTP",
    "file": "File",
    "iso": "ISO",
    "las": "LAS",
    "ncml": "NcML",
    "uddc": "UDDC",
    "wcs": "WCS",
    "wms": "WMS",
    "wsdl": "WSDL",
    "webform": "WebForm",
    "catalog": "Catalog",
    "compound": "Compound",
    "resolver": "Resolver",
    "thredds": "THREDDS",
}


def _reference_enum() -> dict:
    """Parse the ServiceType members straight out of the reference source
    (name = "Value" lines inside the enum body)."""
    src = open(REF_STAC_UTILS).read()
    body = src.split("class ServiceType", 1)[1].split("@classmethod", 1)[0]
    return dict(re.findall(r'^\s{4}(\w+) = "([^"]+)"', body, re.M))


def test_canonical_table_covers_full_reference_enum():
    assert SERVICE_CANONICAL == REFERENCE_ENUM


@pytest.mark.requires_reference(REF_STAC_UTILS)
def test_frozen_enum_matches_reference_source():
    assert _reference_enum() == REFERENCE_ENUM


def test_from_value_semantics(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "svc": [
                    "OPENDAP",
                    "ncml_service",  # _service suffix strip (stac_utils.py:352-354)
                    "HTTPServer",
                    "WmS",
                    "NotAService",  # unknown passes through
                    "ISO",
                    "resolver",
                ]
            }
        )
    )
    got = [r["c"] for r in df.select(canonical_service_key(F.col("svc")).alias("c")).collect()]
    assert got == ["OpenDAP", "NcML", "HTTPServer", "WMS", "NotAService", "ISO", "Resolver"]


def test_netcdfsubset_grid_point_disambiguation(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "svc": ["NetcdfSubset", "NetcdfSubset", "NetcdfSubset", "NetcdfSubsetGrid"],
                "href": [
                    "https://h/thredds/ncss/point/data/x.nc",
                    "https://h/thredds/ncss/grid/data/x.nc",
                    "https://h/thredds/ncss/data/x.nc",  # neither component → bare key
                    "https://h/thredds/ncss/grid/data/x.nc",
                ],
            }
        )
    )
    got = [
        r["c"]
        for r in df.select(
            canonical_service_key(F.col("svc"), F.col("href")).alias("c")
        ).collect()
    ]
    assert got == ["NetcdfSubsetPoint", "NetcdfSubsetGrid", "NetcdfSubset", "NetcdfSubsetGrid"]


def test_canonicalize_access_urls_drops_compound(spark):
    df = spark.createDataFrame(
        [
            (
                {
                    "OPENDAP": "https://h/dodsC/x.nc",
                    "Compound": "https://h/compound",
                    "httpserver": "https://h/fileServer/x.nc",
                    "NetcdfSubset": "https://h/ncss/grid/x.nc",
                },
            )
        ],
        "urls map<string,string>",
    )
    got = df.select(canonicalize_access_urls(F.col("urls")).alias("m")).collect()[0]["m"]
    assert got == {
        "OpenDAP": "https://h/dodsC/x.nc",
        "HTTPServer": "https://h/fileServer/x.nc",
        "NetcdfSubsetGrid": "https://h/ncss/grid/x.nc",
    }


def test_canonicalize_access_urls_colliding_keys_last_wins(spark):
    # ADVICE r3: 'OPENDAP' and 'opendap_service' both canonicalize to
    # 'OpenDAP'; under mapKeyDedupPolicy=EXCEPTION (Spark default) a
    # transform_keys build crashes the job — the reference dict-update is
    # silently last-wins (input.py:140-142), so we must be too.
    df = spark.createDataFrame(
        [
            (
                [
                    ("OPENDAP", "https://h/dodsC/first.nc"),
                    ("wms", "https://h/wms"),
                    ("opendap_service", "https://h/dodsC/second.nc"),
                ],
            )
        ],
        "urls array<struct<key string, value string>>",
    )
    from pyspark.sql import functions as F2

    m = df.select(
        canonicalize_access_urls(F2.map_from_entries(F2.col("urls"))).alias("m")
    ).collect()[0]["m"]
    assert m == {"OpenDAP": "https://h/dodsC/second.nc", "WMS": "https://h/wms"}
