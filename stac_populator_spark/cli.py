"""CLI — the reference's three verbs re-expressed over Spark
(/root/reference/STACpopulator/cli.py:33-92):

    python -m stac_populator_spark run --pages <parquet> --out <dir>
        populate: pages → STAC items + dead letters + collection extents.
        The pages are extracted and validated once; that frame is pinned
        for the verb (persisted, or with --checkpoint the committed
        snapshot a rerun resumes from) and both the errors and the items
        are written from it. Collections are aggregated from the items
        parquet just written. Every count in the run log is observed on
        the write that produced it.
    python -m stac_populator_spark export --items <parquet> --out <dir>
        items table → per-collection JSON file tree, dedup-by-id first
    python -m stac_populator_spark update-collection --items <parquet>
        --mode {extents,summaries,all,none} --out <dir>
        the A1-A4 aggregation verb (collection_update.py:142-167)

Footprints default to the deterministic built-in dimension (datagen); a
parquet path with (collection_id, bbox, ring) columns overrides.
"""

from __future__ import annotations

import argparse
import sys


def _footprints(spark, path: str | None):
    import pandas as pd

    from .datagen import footprints_pdf

    if path:
        df = spark.read.parquet(path)
        # footprints are the broadcast dim side — dim-side-small is the
        # documented contract; fail explicitly instead of a driver OOM
        n = df.limit(1_000_001).count()
        if n > 1_000_000:
            raise ValueError(
                f"footprints table at {path} exceeds 1,000,000 rows — "
                "not broadcastable as the PIP dim side; pre-aggregate or "
                "partition the footprint set"
            )
        pdf = df.toPandas()
    else:
        pdf = footprints_pdf()
    return pdf


def cmd_run(args) -> int:
    from pyspark.sql import functions as F

    from .operators.validate import rule_names
    from .plans.pipeline import matched_collections, run_pipeline
    from .runlog import RunLog, observed_counts
    from .session import get_spark

    if args.catalog:
        # P24: fail fast BEFORE creating the SparkSession / submitting jobs
        # (the reference aborts when the STAC host is unreachable or on a
        # different STAC version, api_requests.py:14-44)
        from .sources.preflight import preflight

        ok, reason = preflight(args.catalog)
        if not ok:
            print(f"preflight failed: {reason}", file=sys.stderr)
            return 1

    log = RunLog(getattr(args, "runlog", None) or f"{args.out}/_runlog.jsonl")
    log.event("run start", verb="run", pages=args.pages, out=args.out)
    spark = get_spark(app_name="stac-populator-run")
    pages = spark.read.parquet(args.pages)
    out = run_pipeline(
        spark,
        pages,
        _footprints(spark, args.footprints),
        checkpoint_root=args.checkpoint,
    )
    try:
        reason = F.col("failure_reason")
        errors, err_obs = observed_counts(
            out["errors"], **{r: reason == r for r in rule_names(out["validated"])}
        )
        errors.write.mode("overwrite").parquet(f"{args.out}/errors")
        items, item_obs = observed_counts(
            out["items"], rows=F.lit(True), null_geometry=F.col("geometry").isNull()
        )
        items.write.mode("overwrite").parquet(f"{args.out}/items")
    finally:
        out["validated"].unpersist()
    # from the items just written: cells and the PIP join do not run again
    collections, coll_obs = observed_counts(
        matched_collections(spark.read.parquet(f"{args.out}/items")), rows=F.lit(True)
    )
    collections.write.mode("overwrite").parquet(f"{args.out}/collections")
    n = item_obs.get["rows"]
    log.stage("items", n, null_geometry=item_obs.get["null_geometry"])
    log.stage("collections", coll_obs.get["rows"])
    n_err = log.failures("errors", err_obs.get)["failures"]
    print(f"items written: {n} (+{n_err} dead-lettered) -> {args.out}/items")
    return 0


def cmd_export(args) -> int:
    from pyspark.sql import functions as F

    from .runlog import RunLog, observed_counts
    from .session import get_spark
    from .sources.export import dedup_items_by_id, export_items_json

    # sibling path: the export tree itself must not pre-exist (the
    # fresh-export mode="error" contract, reference FileExistsError
    # export.py:95-118)
    log = RunLog(getattr(args, "runlog", None) or f"{args.out.rstrip('/')}._runlog.jsonl")
    log.event("run start", verb="export", items=args.items, out=args.out)
    spark = get_spark(app_name="stac-populator-export")
    items = spark.read.parquet(args.items)
    winners, report = dedup_items_by_id(items)
    winners, out_obs = observed_counts(winners, rows=F.lit(True))
    report, dup_obs = observed_counts(report, rows=F.lit(True))
    export_items_json(winners, args.out, mode="overwrite" if args.resume else "error")
    # the duplicate report is unbounded at scale — sink it, never collect it
    # (underscore prefix: Spark readers ignore it when reading the export)
    report.write.mode("overwrite").parquet(f"{args.out}/_duplicates")
    n_dups = dup_obs.get["rows"]
    n_out = out_obs.get["rows"]
    log.stage("export", n_out, duplicate_ids=n_dups)
    print(f"exported {n_out} items; duplicate ids: {n_dups}"
          f" (report at {args.out}/_duplicates)")
    return 0


def cmd_update_collection(args) -> int:
    from pyspark.sql import functions as F

    from .operators.collection_agg import update_collections
    from .runlog import observed_counts
    from .session import get_spark

    spark = get_spark(app_name="stac-populator-update-collection")
    items = spark.read.parquet(args.items)
    out = update_collections(items, mode=args.mode, exclude_summaries=tuple(args.exclude or ()))
    for name, df in out.items():
        df, obs = observed_counts(df, rows=F.lit(True))
        df.write.mode("overwrite").parquet(f"{args.out}/{name}")
        print(f"{name}: {obs.get['rows']} rows -> {args.out}/{name}")
    if not out:
        print("mode=none: nothing to do")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="stac_populator_spark")
    sub = p.add_subparsers(dest="command", required=True)

    r = sub.add_parser("run", help="pages parquet → STAC items + collection extents")
    r.add_argument("--pages", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--footprints", default=None)
    r.add_argument("--checkpoint", default=None)
    r.add_argument("--catalog", default=None,
                   help="destination STAC catalog root; preflight-checked (P24)")
    r.add_argument("--runlog", default=None,
                   help="per-run JSONL structured log path (default <out>/_runlog.jsonl)")
    r.set_defaults(fn=cmd_run)

    e = sub.add_parser("export", help="items parquet → per-collection JSON tree")
    e.add_argument("--items", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--resume", action="store_true")
    e.add_argument("--runlog", default=None)
    e.set_defaults(fn=cmd_export)

    u = sub.add_parser("update-collection", help="A1-A4 aggregation verb")
    u.add_argument("--items", required=True)
    u.add_argument("--out", required=True)
    u.add_argument("--mode", default="all", choices=["extents", "summaries", "all", "none"])
    u.add_argument("--exclude", nargs="*", default=None)
    u.set_defaults(fn=cmd_update_collection)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
