"""Aggregation-semantics tests replicating the reference's expected values:

- 4-item set from /root/reference/tests/test_standalone_stac_item.py:100-121
  → union bbox [-11,-20,56,50]; with the initial collection interval
  ["2020-01-01T00:00:00Z", None] the merged interval is
  ["1066-05-01...", None] (sticky None, test_standalone_stac_item.py:267-283)
- 3-item typed-properties set from tests/test_collection_update.py:42-85
  → extent [-4,-1,3,4], interval ["2014-02-22","2222-03-02"], summaries
  {string: list, number: minmax, bool: list} (test_collection_update.py:115-127)
"""

import datetime as dt

from pyspark.sql import functions as F

from stac_populator_spark.operators.collection_agg import (
    collection_extent,
    collection_summaries,
    merge_with_initial,
    update_collections,
    wgs84_violations,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _mk_items(spark, rows):
    return spark.createDataFrame(
        rows,
        "collection_id string, lon_min double, lat_min double, lon_max double, "
        "lat_max double, datetime timestamp, start_datetime timestamp, "
        "end_datetime timestamp, props map<string,string>",
    )


FOUR_ITEMS = [
    # bbox, (start, end), ducks, another_date — test_standalone_stac_item.py:100-121
    ([-10, -20, 10, 30], ("1845-12-04", "1893-02-18"), "Alabio"),
    ([-11, 2, 9, 50], ("1992-05-12", "2222-04-11"), "Blekinge"),
    ([0, 0, 2, 4], ("1066-05-01", "2045-09-20"), "Muscovy"),
    ([22, -1, 56, 11], ("2000-01-01", "2045-01-01"), "Rouen"),
]


def _four_items_df(spark):
    rows = []
    for bbox, (start, end), duck in FOUR_ITEMS:
        rows.append(
            (
                "c1",
                float(bbox[0]),
                float(bbox[1]),
                float(bbox[2]),
                float(bbox[3]),
                None,
                _ts(start),
                _ts(end),
                {"ducks": duck, "another_date": end, "start_datetime": start, "end_datetime": end},
            )
        )
    return _mk_items(spark, rows)


def test_union_bbox_reference_values(spark):
    ext = collection_extent(_four_items_df(spark)).collect()[0]
    assert list(ext["bbox"]) == [-11.0, -20.0, 56.0, 50.0]
    assert ext["interval_start"] == _ts("1066-05-01")
    assert ext["interval_end"] == _ts("2222-04-11")
    assert ext["item_count"] == 4


def test_sticky_none_interval_with_initial_collection(spark):
    # initial collection interval ["2020-01-01T00:00:00Z", None] — the open
    # end bound must survive the merge (reference expected
    # ["1066-05-01", None], test_standalone_stac_item.py:267-268)
    ext = collection_extent(_four_items_df(spark)).collect()[0]
    merged = merge_with_initial(
        {"bbox": [0, 0, 0, 0], "interval": ["2020-01-01T00:00:00Z", None]}, ext
    )
    assert merged["bbox"] == [-11.0, -20.0, 56.0, 50.0]
    assert merged["interval"][0].startswith("1066-05-01")
    assert merged["interval"][1] is None


def test_sticky_open_from_items(spark):
    # an item with a null end bound opens the collection end
    rows = [
        ("c1", 0.0, 0.0, 1.0, 1.0, None, _ts("2020-01-01"), _ts("2021-01-01"), {}),
        ("c1", 0.0, 0.0, 1.0, 1.0, None, _ts("2019-01-01"), None, {}),
    ]
    ext = collection_extent(_mk_items(spark, rows)).collect()[0]
    assert ext["interval_start"] == _ts("2019-01-01")
    assert ext["interval_end"] is None


def test_datetime_overrides_start_end(spark):
    # item_interval = [datetime, datetime] when datetime set
    # (collection_update.py:73-75)
    rows = [
        ("c1", 0.0, 0.0, 1.0, 1.0, _ts("2030-06-01"), _ts("2020-01-01"), _ts("2021-01-01"), {}),
    ]
    ext = collection_extent(_mk_items(spark, rows)).collect()[0]
    assert ext["interval_start"] == _ts("2030-06-01")
    assert ext["interval_end"] == _ts("2030-06-01")


def test_update_collections_leave_null_collection_items_out(spark):
    # run keeps geometry-less and footprint-unmatched pages as items with a
    # null collection_id; no aggregate may come out keyed on null
    items = _four_items_df(spark).unionByName(_mk_items(spark, [
        (None, 100.0, 60.0, 101.0, 61.0, None, _ts("1900-01-01"), _ts("1901-01-01"), {"ducks": "Pekin"}),
        (None, None, None, None, None, None, None, None, {"ducks": "Call"}),
    ]))
    out = update_collections(items, "all")
    ext = out["extents"].collect()
    assert [r["collection_id"] for r in ext] == ["c1"]
    assert list(ext[0]["bbox"]) == [-11.0, -20.0, 56.0, 50.0]
    assert ext[0]["item_count"] == 4
    summ = out["summaries"]
    assert summ.filter(F.col("collection_id").isNull()).count() == 0
    ducks = summ.filter(F.col("prop") == "ducks").collect()
    assert [list(r["values"]) for r in ducks] == [["Alabio", "Blekinge", "Muscovy", "Rouen"]]


THREE_ITEMS = [
    # test_collection_update.py:42-85
    ([-4, 1, 3, 2], {"datetime": "2014-02-22T00:00:00", "string": "test1", "number": "3", "bool": "false"}),
    ([-1, -1, 1, 4], {"start_datetime": "2015-09-02T00:00:00", "end_datetime": "2222-03-02T00:00:00", "string": "test2", "number": "10", "bool": "true"}),
    ([0, 0, 0, 0], {"start_datetime": "2016-09-02T00:00:00", "end_datetime": "2016-03-02T00:00:00", "string": "test2", "number": "10", "bool": "true"}),
]


def _three_items_df(spark):
    rows = []
    for bbox, props in THREE_ITEMS:
        rows.append(
            (
                "c2",
                float(bbox[0]),
                float(bbox[1]),
                float(bbox[2]),
                float(bbox[3]),
                _ts(props["datetime"]) if "datetime" in props else None,
                _ts(props["start_datetime"]) if "start_datetime" in props else None,
                _ts(props["end_datetime"]) if "end_datetime" in props else None,
                props,
            )
        )
    return _mk_items(spark, rows)


def test_extent_three_items(spark):
    ext = collection_extent(_three_items_df(spark)).collect()[0]
    assert list(ext["bbox"]) == [-4.0, -1.0, 3.0, 4.0]
    assert ext["interval_start"] == _ts("2014-02-22")
    assert ext["interval_end"] == _ts("2222-03-02")


def test_summaries_typed_reference(spark):
    s = collection_summaries(_three_items_df(spark)).collect()
    by_prop = {r["prop"]: r for r in s}
    # datetime/start/end excluded (collection_update.py:102)
    assert set(by_prop) == {"string", "number", "bool"}
    assert by_prop["string"]["kind"] == "list"
    assert list(by_prop["string"]["values"]) == ["test1", "test2"]
    assert by_prop["bool"]["kind"] == "list"
    assert list(by_prop["bool"]["values"]) == ["false", "true"]
    assert by_prop["number"]["kind"] == "minmax"
    assert float(by_prop["number"]["minimum"]) == 3.0
    assert float(by_prop["number"]["maximum"]) == 10.0


def test_summaries_iso_datetime_minmax(spark):
    s = collection_summaries(_four_items_df(spark)).collect()
    by_prop = {r["prop"]: r for r in s}
    # ducks → list; another_date (ISO strings) → min/max
    # (expected values test_standalone_stac_item.py:271-274)
    assert list(by_prop["ducks"]["values"]) == ["Alabio", "Blekinge", "Muscovy", "Rouen"]
    assert by_prop["another_date"]["kind"] == "minmax"
    assert by_prop["another_date"]["minimum"] == "1893-02-18"
    assert by_prop["another_date"]["maximum"] == "2222-04-11"


def test_summaries_exclude(spark):
    s = collection_summaries(_four_items_df(spark), exclude=("ducks",)).collect()
    assert "ducks" not in {r["prop"] for r in s}


def test_wgs84_violations(spark):
    rows = [
        ("c1", -200.0, 0.0, 10.0, 10.0, None, None, None, {}),
        ("c1", 0.0, 0.0, 10.0, 10.0, None, None, None, {}),
        ("c1", 0.0, -95.0, 10.0, 10.0, None, None, None, {}),
    ]
    bad = wgs84_violations(_mk_items(spark, rows))
    assert bad.count() == 2
