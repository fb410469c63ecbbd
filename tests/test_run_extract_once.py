"""The ``run`` verb's single pass: validation before the footprint join,
one dead-letter row per invalid page, run-log counts observed on the
writes, and the extract kernel crossing each input row once per run."""

import re

import numpy as np
import pytest

from stac_populator_spark.cli import main
from stac_populator_spark.datagen import footprints_pdf, pages_pdf
from stac_populator_spark.runlog import read_runlog

N_PAGES = 300
N_PLANTED = 4

_POSITION = re.compile(rb'name="geo\.position" content="[^"]*"')


def _nested_centres(fps, n):
    """Centres of ``n`` nested footprints (datagen nests every k = 8 mod 50
    inside its predecessor), each inside at least two footprints."""
    bounds = np.array([list(b) for b in fps["bbox"]])
    plain = bounds[:, 0] <= bounds[:, 2]
    out = []
    for k in range(8, len(fps), 50):
        lon = (bounds[k, 0] + bounds[k, 2]) / 2.0
        lat = (bounds[k, 1] + bounds[k, 3]) / 2.0
        inside = (plain & (bounds[:, 0] <= lon) & (lon <= bounds[:, 2])
                  & (bounds[:, 1] <= lat) & (lat <= bounds[:, 3]))
        if inside.sum() >= 2:
            out.append((round(lon, 6), round(lat, 6)))
        if len(out) == n:
            return out
    raise AssertionError("not enough nested footprints")


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """Pages where N_PLANTED point pages carry a longitude 360 degrees east
    of a point inside two or more nested footprints: out of range, but
    inside those footprints once the extract wraps it."""
    root = str(tmp_path_factory.mktemp("once"))
    pages = pages_pdf(0, N_PAGES)
    html = pages["html"].tolist()
    point_rows = [k for k, h in enumerate(html) if _POSITION.search(h)]
    urls = []
    for k, (lon, lat) in zip(point_rows, _nested_centres(footprints_pdf(), N_PLANTED)):
        html[k] = _POSITION.sub(
            f'name="geo.position" content="{lat};{lon + 360.0}"'.encode(), html[k])
        urls.append(pages["url"][k])
    pages["html"] = html
    spark.createDataFrame(pages).coalesce(2).write.parquet(f"{root}/pages")
    return root, urls


def _map_in_arrow_rows(spark, run):
    """Summed ``number of output rows`` of every MapInArrow plan node over
    the SQL executions ``run()`` starts, from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    last = max((e.executionId() for e in seq(store.executionsList())), default=-1)
    run()
    rows = 0
    for e in seq(store.executionsList()):
        if e.executionId() <= last:
            continue
        values = store.executionMetrics(e.executionId())
        for node in seq(store.planGraph(e.executionId()).allNodes()):
            if node.name() != "MapInArrow":
                continue
            for m in seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    rows += int(v.get().replace(",", ""))
    return rows


def test_wrapped_invalid_page_dead_lettered_once(spark, planted):
    from pyspark.sql import functions as F

    root, urls = planted
    out = f"{root}/out"
    assert main(["run", "--pages", f"{root}/pages", "--out", out,
                 "--runlog", f"{root}/run.jsonl"]) == 0
    errors = spark.read.parquet(f"{out}/errors")
    rows = errors.select("url", "failure_reason", "collection_id").collect()
    assert sorted(r["url"] for r in rows) == sorted(urls)
    assert {r["failure_reason"] for r in rows} == {"lon_out_of_range"}
    assert all(r["collection_id"] is None for r in rows)
    # errors keep the item columns, plus the reason
    items = spark.read.parquet(f"{out}/items")
    assert errors.columns == items.columns + ["failure_reason"]
    assert errors.schema["collection_id"].dataType == items.schema["collection_id"].dataType
    assert items.filter(F.col("url").isin(urls)).count() == 0

    by_stage = {r.get("stage"): r for r in read_runlog(f"{root}/run.jsonl")}
    assert by_stage["errors"]["failures"] == N_PLANTED
    assert by_stage["errors"]["failure_counts"] == {"lon_out_of_range": N_PLANTED}
    # items keep one row per matched footprint
    assert by_stage["items"]["rows"] == items.count()
    assert items.select("url").distinct().count() == N_PAGES - N_PLANTED


@pytest.mark.parametrize("checkpoint", [False, True])
def test_run_extracts_each_page_once(spark, planted, checkpoint):
    root, _ = planted
    tag = "cp" if checkpoint else "pin"
    argv = ["run", "--pages", f"{root}/pages", "--out", f"{root}/out_{tag}"]
    if checkpoint:
        argv += ["--checkpoint", f"{root}/cp"]
    assert _map_in_arrow_rows(spark, lambda: main(argv)) == N_PAGES
    if checkpoint:
        # the resumed run reads the committed stage: no extraction at all
        assert _map_in_arrow_rows(spark, lambda: main(argv)) == 0
