"""Shows that no output check is vacuous.

    python3 perfbench/selftest.py [--seed N]

Run from the repository root. Produces real engine outputs (one ``run``
over generated pages, and the ``minhash_neardup`` and ``pii_redact``
queries over generated tables), checks that they pass, then checks
deliberately corrupted copies, each of which must fail. Exits 0 only if
the clean outputs pass and every corruption is caught.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PAGES = 3_000
DOCS = 1_000


def _rewrite(con, src: str, dst: str, table: str, select: str) -> None:
    """Copy the ``run`` output tree ``src`` to ``dst`` with ``table``
    replaced by ``select`` (which reads the original as ``t``)."""
    shutil.copytree(src, dst)
    shutil.rmtree(os.path.join(dst, table))
    os.makedirs(os.path.join(dst, table))
    con.execute(
        f"COPY (WITH t AS (SELECT * FROM read_parquet('{src}/{table}/*.parquet')) {select}) "
        f"TO '{dst}/{table}/part-0.parquet' (FORMAT PARQUET)"
    )


CATALOG_CORRUPTIONS = {
    "dropped item": (
        "items",
        "SELECT * FROM t WHERE id <> (SELECT min(id) FROM t)",
    ),
    "shifted tile_id": (
        "items",
        """SELECT * REPLACE (CASE WHEN id = (SELECT min(id) FROM t WHERE tile_id IS NOT NULL)
             THEN regexp_replace(tile_id, '/y(\\d+)$', '/y') || (CAST(tile_y AS INT) + 1)
             ELSE tile_id END AS tile_id) FROM t""",
    ),
    "perturbed extent": (
        "collections",
        """SELECT * REPLACE (CASE WHEN collection_id = (SELECT min(collection_id) FROM t)
             THEN [bbox[1] - 0.5, bbox[2], bbox[3], bbox[4]] ELSE bbox END AS bbox) FROM t""",
    ),
    "wrong failure_reason": (
        "errors",
        """SELECT * REPLACE (CASE WHEN url = (SELECT min(url) FROM t)
             THEN 'missing_id' ELSE failure_reason END AS failure_reason) FROM t""",
    ),
    "duplicated error row": (
        "errors",
        "SELECT * FROM t UNION ALL (SELECT * FROM t ORDER BY url LIMIT 1)",
    ),
    "stac_json id differs": (
        "items",
        """SELECT * REPLACE (CASE WHEN id = (SELECT max(id) FROM t)
             THEN replace(stac_json, '"id":"', '"id":"x') ELSE stac_json END AS stac_json) FROM t""",
    ),
    "cell_hex off by one": (
        "items",
        "SELECT * REPLACE (cell_hex + 1 AS cell_hex) FROM t",
    ),
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]

    import checks
    import gen
    import run

    tmp = os.path.join(ROOT, ".perfbench-tmp", f"selftest-{os.getpid()}")
    run.pin_environment(tmp)
    results = []

    def expect(name: str, fails: list[str], should_fail: bool) -> None:
        ok = bool(fails) == should_fail
        results.append(ok)
        detail = "; ".join(fails) if fails else "passes"
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {detail}", flush=True)

    spark = None
    try:
        con = checks.connect(run.CPUS)
        truth = gen.write_pages(os.path.join(tmp, "pages"), args.seed * PAGES, PAGES)
        gen.write_tables(os.path.join(tmp, "sf"), args.seed, DOCS, 300, 200)
        from stac_populator_spark import cli
        from stac_populator_spark.datagen import footprints_pdf

        parts = checks.footprint_parts(footprints_pdf())
        spark = run.start_spark(tmp, "perfbench-selftest")
        out = os.path.join(tmp, "out")
        if cli.main(["run", "--pages", os.path.join(tmp, "pages"), "--out", out]) != 0:
            raise RuntimeError("run failed")
        expect("clean catalog", checks.check_catalog(con, out, truth, parts, args.seed), False)
        for i, (name, (table, select)) in enumerate(CATALOG_CORRUPTIONS.items()):
            bad = os.path.join(tmp, f"bad{i}")
            _rewrite(con, out, bad, table, select)
            expect(name, checks.check_catalog(con, bad, truth, parts, args.seed), True)

        import __spark_entry__ as entry

        sf = os.path.join(tmp, "sf")
        checker = checks.QueryChecker(con, sf, ["minhash_neardup", "pii_redact"])
        pairs = entry.queries()["minhash_neardup"](spark, sf).toPandas()
        expect("clean minhash_neardup", checker.check("minhash_neardup", pairs), False)
        planted = set(gen.planted_near_dups(DOCS))
        hit = [k for k, (a, b) in enumerate(zip(pairs["a"], pairs["b"])) if (a, b) in planted]
        expect("missing near-dup pair", checker.check("minhash_neardup", pairs.drop(index=hit[0])), True)
        off = pairs.copy()
        off.loc[off.index[-1], "jaccard"] = off["jaccard"].iloc[-1] - 0.01
        expect("perturbed jaccard", checker.check("minhash_neardup", off), True)
        pii = entry.queries()["pii_redact"](spark, sf).toPandas()
        expect("clean pii_redact", checker.check("pii_redact", pii), False)
        pii.loc[pii.index[0], "n_email"] += 1
        expect("pii_redact count off by one", checker.check("pii_redact", pii), True)
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        run.run_tmp_cleanup(tmp)
    print(f"{sum(results)}/{len(results)} as expected")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
