"""CLI verbs end-to-end (in-process main(), reference analogue
tests/test_cli.py): run → export → update-collection over one temp tree."""

import json
import os

import pytest

from stac_populator_spark.cli import main
from stac_populator_spark.datagen import pages_df


@pytest.fixture(scope="module")
def tree(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cli"))
    pages_df(spark, 600, partitions=2).write.parquet(f"{root}/pages")
    return root


def test_run_verb(spark, tree):
    rc = main(["run", "--pages", f"{tree}/pages", "--out", f"{tree}/out",
               "--checkpoint", f"{tree}/cp"])
    assert rc == 0
    items = spark.read.parquet(f"{tree}/out/items")
    assert items.count() > 0
    assert "stac_json" in items.columns
    cols = spark.read.parquet(f"{tree}/out/collections")
    assert cols.count() > 0
    # resumable: second run reuses committed snapshots (manifest present)
    assert os.path.exists(f"{tree}/cp/_manifest.json")
    rc2 = main(["run", "--pages", f"{tree}/pages", "--out", f"{tree}/out",
                "--checkpoint", f"{tree}/cp"])
    assert rc2 == 0


def test_export_verb(spark, tree):
    rc = main(["export", "--items", f"{tree}/out/items", "--out", f"{tree}/export"])
    assert rc == 0
    parts = [p for p in os.listdir(f"{tree}/export") if p.startswith("collection_id=")]
    assert parts
    docs = spark.read.text(f"{tree}/export").collect()
    for r in docs[:20]:
        assert json.loads(r["value"])["type"] == "Feature"
    # refuses to overwrite without --resume (reference FileExistsError)
    with pytest.raises(Exception):
        main(["export", "--items", f"{tree}/out/items", "--out", f"{tree}/export"])


def test_run_preflight(spark, tree, tmp_path):
    from stac_populator_spark.sources.preflight import host_reachable, preflight

    cat = tmp_path / "catalog"
    cat.mkdir()
    # no catalog.json → unreachable → exit 1 BEFORE any Spark work
    rc = main(["run", "--pages", f"{tree}/pages", "--out", f"{tree}/out_pf",
               "--catalog", str(cat)])
    assert rc == 1
    # wrong stac_version → refused (reference api_requests.py:33-44)
    (cat / "catalog.json").write_text(
        json.dumps({"type": "Catalog", "stac_version": "0.9.0", "id": "c"}))
    ok, reason = preflight(str(cat))
    assert not ok and "mismatch" in reason
    # valid catalog → run proceeds end-to-end
    (cat / "catalog.json").write_text(
        json.dumps({"type": "Catalog", "stac_version": "1.0.0", "id": "c"}))
    assert host_reachable(str(cat))
    rc = main(["run", "--pages", f"{tree}/pages", "--out", f"{tree}/out_pf",
               "--catalog", str(cat)])
    assert rc == 0
    assert spark.read.parquet(f"{tree}/out_pf/items").count() > 0


def test_update_collection_verb(spark, tree):
    rc = main(["update-collection", "--items", f"{tree}/out/items",
               "--mode", "extents", "--out", f"{tree}/agg"])
    assert rc == 0
    ext = spark.read.parquet(f"{tree}/agg/extents")
    assert ext.count() > 0 and "bbox" in ext.columns
    # same collections as run's own: the null-collection items stay out
    run_cols = spark.read.parquet(f"{tree}/out/collections")
    got = [r[0] for r in ext.select("collection_id").collect()]
    assert None not in got
    assert sorted(got) == sorted(r[0] for r in run_cols.select("collection_id").collect())


def test_runlog_records_match_dead_letter_table(spark, tree):
    # per-run JSONL structured log (reference log.py:53-94, emit sites
    # populators.py:263-303): every record carries message + UTC timestamp
    # + extras at the top level; the errors stage's failure_counts must
    # equal the dead-letter table's groupBy(failure_reason) exactly
    from pyspark.sql import functions as F

    from stac_populator_spark.runlog import read_runlog

    out = f"{tree}/out_runlog"
    rc = main(["run", "--pages", f"{tree}/pages", "--out", out,
               "--runlog", f"{tree}/run.jsonl"])
    assert rc == 0
    recs = read_runlog(f"{tree}/run.jsonl")
    assert all("message" in r and "timestamp" in r for r in recs)
    by_stage = {r.get("stage"): r for r in recs}
    assert by_stage["items"]["rows"] == spark.read.parquet(f"{out}/items").count()
    err = by_stage["errors"]
    dead = spark.read.parquet(f"{out}/errors")
    expected = {
        r["failure_reason"]: r["n"]
        for r in dead.groupBy("failure_reason").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert err["failure_counts"] == expected
    assert err["failures"] == dead.count()
    # start record identifies the verb and inputs (reference extras:
    # item_loc/loader → here verb/pages/out)
    start = recs[0]
    assert start["verb"] == "run" and start["out"] == out
