"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship STAC pipeline (pages derived
deterministically from the sf0.001 documents table → extract → cell encode
→ broadcast PIP join → tiles → STAC JSON). ``queries()`` exposes one entry
per implemented operator family from SURVEY.md §2; ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for every SQL-expressible one.

Determinism rules used throughout so Spark and DuckDB hash identically:
- derived inputs are integer-mod arithmetic on driver-provided keys
- money aggregates go through DECIMAL(18,4) (exact) and round once
- interval bounds are emitted as formatted strings
- every rank window orders by (key, id) with an id tie-break
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# shared deterministic derivations (Spark side; SQL mirrors in oracle_sql)
# ---------------------------------------------------------------------------

def _doc_points(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        (((F.col("doc_id") * 37) % 3600) / 10.0 - 179.95).alias("lon"),
        (((F.col("doc_id") * 53) % 1700) / 10.0 - 84.95).alias("lat"),
    )

_DOC_POINTS_SQL = (
    "SELECT doc_id, ((doc_id*37)%3600)/10.0 - 179.95 AS lon, "
    "((doc_id*53)%1700)/10.0 - 84.95 AS lat FROM documents"
)


def _nation_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    lon_min = ((F.col("n_nationkey") * 67) % 300) - 159.5
    lat_min = ((F.col("n_nationkey") * 41) % 140) - 74.5
    return n.select(
        F.concat(F.lit("col-"), F.col("n_nationkey").cast("string")).alias("collection_id"),
        lon_min.alias("f_lon_min"),
        lat_min.alias("f_lat_min"),
        (lon_min + 12 + (F.col("n_nationkey") % 9)).alias("f_lon_max"),
        (lat_min + 8 + (F.col("n_nationkey") % 7)).alias("f_lat_max"),
    )

_FOOTPRINTS_SQL = (
    "SELECT 'col-' || CAST(n_nationkey AS VARCHAR) AS collection_id, "
    "((n_nationkey*67)%300) - 159.5 AS f_lon_min, "
    "((n_nationkey*41)%140) - 74.5 AS f_lat_min, "
    "((n_nationkey*67)%300) - 159.5 + 12 + (n_nationkey%9) AS f_lon_max, "
    "((n_nationkey*41)%140) - 74.5 + 8 + (n_nationkey%7) AS f_lat_max "
    "FROM nation"
)


def _part_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    tx = F.col("p_partkey") % 16
    ty = F.floor(F.col("p_partkey") / 16.0).cast("int")
    lon_min = -180.0 + tx * 22.5
    lat_max = 85.0 - ty * 10.625
    return p.select(
        F.concat(F.lit("z4/x"), tx.cast("string"), F.lit("/y"), ty.cast("string")).alias("tile_id"),
        F.array(lon_min, lat_max - 10.625, lon_min + 22.5, lat_max).alias("bbox"),
    )

_TILES_SQL = (
    "SELECT 'z4/x' || CAST(p_partkey % 16 AS VARCHAR) || '/y' || "
    "CAST(CAST(FLOOR(p_partkey/16.0) AS INT) AS VARCHAR) AS tile_id, "
    "-180.0 + (p_partkey % 16)*22.5 AS t_lon_min, "
    "85.0 - CAST(FLOOR(p_partkey/16.0) AS INT)*10.625 - 10.625 AS t_lat_min, "
    "-180.0 + (p_partkey % 16)*22.5 + 22.5 AS t_lon_max, "
    "85.0 - CAST(FLOOR(p_partkey/16.0) AS INT)*10.625 AS t_lat_max "
    "FROM part"
)

_DOC_TS_SQL = (
    "CASE WHEN doc_id % 11 = 0 THEN NULL "
    "ELSE TIMESTAMP '2020-01-01 00:00:00' + (doc_id*977) * INTERVAL 1 SECOND END"
)


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 documents → derived pages → full STAC pipeline."""
    from stac_populator_spark.datagen import pages_from_documents
    from stac_populator_spark.plans.pipeline import build_items
    from stac_populator_spark.operators.spatial_join import footprint_cover_df

    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    fps = _nation_footprints(spark, sf_dir).toPandas()
    fps = fps.rename(columns={c: c[2:] for c in ("f_lon_min", "f_lat_min", "f_lon_max", "f_lat_max")})
    fps["bbox"] = fps[["lon_min", "lat_min", "lon_max", "lat_max"]].values.tolist()
    fps["ring"] = None
    cover = footprint_cover_df(spark, fps[["collection_id", "bbox", "ring"]])
    items = build_items(pages, cover, exact="rect")
    return items.select(
        "id", "url", "lang", "collection_id", "cell_s2", "cell_hex", "tile_id", "bbox", "stac_json"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).cast("double"),
                2,
            ).alias("sum_disc_price"),
            F.round((F.sum(_dec("l_quantity")) / F.count(F.lit(1))).cast("double"), 2).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q3_topk_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1997-06-01").cast("date"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-06-01").cast("date"))
    rev = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).cast("double"), 2).alias("revenue")
        )
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(10)


def _q5_nation_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def _top_customer_per_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    top = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return top.join(F.broadcast(n), top.c_nationkey == n.n_nationkey).select(
        "n_name", "c_custkey", "c_name", F.round(F.col("c_acctbal"), 2).alias("acctbal")
    )


def _events_daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(_dec("value")).cast("double"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def _orders_semi(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-06-01").cast("date"))
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def _customers_no_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def _doc_points_tiles(spark, sf_dir):
    from stac_populator_spark.operators.cells import grid_cell_col
    from stac_populator_spark.operators.tiles import tile_xy_cols

    pts = _doc_points(_t(spark, sf_dir, "documents"))
    x, y = tile_xy_cols(7)
    return pts.select(
        "doc_id",
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
        x.alias("tile_x"),
        y.alias("tile_y"),
        grid_cell_col("lon", "lat").alias("cell_grid"),
    )


def _pip_points(spark, sf_dir):
    from stac_populator_spark.operators.cells import grid_cell_col
    from stac_populator_spark.operators.spatial_join import footprint_cover_df, pip_join

    pts = _doc_points(_t(spark, sf_dir, "documents")).withColumn(
        "cell_grid", grid_cell_col("lon", "lat")
    )
    fps = _nation_footprints(spark, sf_dir).toPandas()
    fps = fps.rename(columns={c: c[2:] for c in ("f_lon_min", "f_lat_min", "f_lon_max", "f_lat_max")})
    fps["bbox"] = fps[["lon_min", "lat_min", "lon_max", "lat_max"]].values.tolist()
    fps["ring"] = None
    cover = footprint_cover_df(spark, fps[["collection_id", "bbox", "ring"]])
    return pip_join(pts, cover, exact="pip").select("doc_id", "collection_id")


def _tiles_footprints(spark, sf_dir):
    from stac_populator_spark.operators.tiles import assign_tiles_to_footprints

    tiles = _part_tiles(spark, sf_dir)
    fps = _nation_footprints(spark, sf_dir)
    return assign_tiles_to_footprints(tiles, fps)


def _knn_docs_bruteforce(spark, sf_dir):
    """Brute-force crossJoin kNN — the small-input CORRECTNESS ORACLE shape
    only (mirrors the DuckDB side exactly). The engine's scale paths are
    knn_join (bucketed, `knn_exact_docs` query) — never this crossJoin."""
    pts = _doc_points(_t(spark, sf_dir, "documents")).filter(F.col("doc_id") % 7 == 0)
    l = pts.select(F.col("doc_id").alias("doc_id"), F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"))
    r = pts.select(F.col("doc_id").alias("neighbor_id"), F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat"))
    pairs = l.crossJoin(r).filter(F.col("doc_id") != F.col("neighbor_id"))
    dist2 = (F.col("l_lon") - F.col("r_lon")) ** 2 + (F.col("l_lat") - F.col("r_lat")) ** 2
    w = Window.partitionBy("doc_id").orderBy(F.col("dist2").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("dist2", dist2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "neighbor_id", "rank", F.round("dist2", 4).alias("dist2_r"))
    )


def _collection_extent(spark, sf_dir):
    from stac_populator_spark.operators.collection_agg import collection_extent

    matched = _pip_points(spark, sf_dir)
    pts = _doc_points(_t(spark, sf_dir, "documents"))
    items = (
        matched.join(pts, "doc_id")
        .withColumn("lon_min", F.col("lon"))
        .withColumn("lat_min", F.col("lat"))
        .withColumn("lon_max", F.col("lon"))
        .withColumn("lat_max", F.col("lat"))
        .withColumn(
            "datetime",
            F.when(
                F.col("doc_id") % 11 != 0,
                F.expr("timestampadd(SECOND, doc_id*977, timestamp'2020-01-01 00:00:00')"),
            ),
        )
    )
    ext = collection_extent(items)
    return ext.select(
        "collection_id",
        F.round(F.element_at("bbox", 1), 6).alias("lon_min"),
        F.round(F.element_at("bbox", 2), 6).alias("lat_min"),
        F.round(F.element_at("bbox", 3), 6).alias("lon_max"),
        F.round(F.element_at("bbox", 4), 6).alias("lat_max"),
        F.date_format("interval_start", "yyyy-MM-dd HH:mm:ss").alias("interval_start"),
        F.date_format("interval_end", "yyyy-MM-dd HH:mm:ss").alias("interval_end"),
        "item_count",
    )


def _dedup_exact(spark, sf_dir):
    from stac_populator_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _token_stats(spark, sf_dir):
    from stac_populator_spark.operators.textstats import with_token_stats

    d = with_token_stats(_t(spark, sf_dir, "documents"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_tokens") / F.count(F.lit(1)), 4).alias("avg_tokens"),
        F.sum("n_bpe_tokens").alias("total_bpe"),
        F.min("n_chars_calc").alias("min_chars"),
        F.max("n_chars_calc").alias("max_chars"),
    )


def _quality_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    length = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    distinct_ratio = F.size(F.array_distinct(toks)) / F.size(toks)
    d = d.select(
        "source",
        (alpha / length).alias("alpha_ratio"),
        distinct_ratio.alias("distinct_ratio"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha_ratio"),
        F.round(F.avg("distinct_ratio"), 4).alias("avg_distinct_ratio"),
    )


def _summaries_typed(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _lang_skew_counts(spark, sf_dir):
    from stac_populator_spark.operators.skew import two_phase_count

    d = _t(spark, sf_dir, "documents")
    return two_phase_count(d, "lang", "doc_id", n_salts=8).select(
        "lang", F.col("cnt").alias("n_docs")
    )


def _ann_cosine(spark, sf_dir):
    from stac_populator_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5)


def _ivfpq_cosine(spark, sf_dir):
    """IVF-PQ composed ANN (FAISS pairing): IVF probe pruning decides
    WHICH rows are scanned, PQ codes decide WHAT is scanned, exact cosine
    rerank touches only the shortlist — recall-gated against the exact
    top-k like ``pq_cosine`` (recall_ok is part of the hashed output).

    The driver embeddings are near-isotropic gaussians (no natural IVF
    structure), so the query PLANTS separable clusters SQL-expressibly
    (the ``cosine_neardup`` planted-twins pattern): cluster g = vec_id%8
    adds +3.0 on dims [8g, 8g+8) over 0.25-scaled noise — exactly
    orthogonal block centroids, same arithmetic in the DuckDB mirror.
    The IVF centroids are the planted blocks (no training noise in the
    gate); PQ codebooks come from pq_train on the constructed corpus."""
    import numpy as np

    from stac_populator_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
        pq_train,
    )

    emb = _t(spark, sf_dir, "embeddings")
    g = F.col("vec_id") % 8
    corpus = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, j: x.cast("double") * 0.25
            + F.when(F.floor(j / 8) == g, F.lit(3.0)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    centroids = np.zeros((8, 64))
    for c in range(8):
        centroids[c, c * 8 : (c + 1) * 8] = 3.0
    queries = corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = corpus.count()
    books = pq_train(corpus, m=8, ksub=64)
    approx = ivfpq_topk(
        corpus, queries, books, centroids, k=5, n_probe=2,
        shortlist=max(50, n // 10),
    )
    exact = cosine_topk(corpus, queries, k=5)
    overlap = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per_q = exact.groupBy("query_id").agg(
        F.round(F.sum("cos"), 4).alias("exact_cos_mass"), F.count(F.lit(1)).alias("k")
    )
    return per_q.join(overlap, "query_id", "left").select(
        "query_id",
        "exact_cos_mass",
        (F.coalesce(F.col("n_hit"), F.lit(0)) >= 4).alias("recall_ok"),  # ≥0.8 recall@5
    )


def _pq_cosine(spark, sf_dir):
    """Product-quantization ANN (code-only asymmetric-distance scan →
    shortlist → exact rerank) gated by recall against the exact top-k
    computed in the same job: the oracle emits the exact per-query top-k
    cosine mass + literal TRUE, so any recall drop below the bound flips
    recall_ok and breaks the value hash — the same error-bound-as-gate
    pattern as approx_quantiles_check."""
    from stac_populator_spark.operators.similarity import cosine_topk, pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # m=8 × ksub=256 → 64-bit codes. Shortlist scales with the corpus
    # (≥5%): recall@5 = 1.0 at sf0.1 and ≥0.8 for every query at the
    # 10×-sf1 probe (tools/gen_sf1 data). At real scale PQ composes with
    # IVF partition pruning (IVF-PQ) so the 5% applies per probed list,
    # not to the full corpus.
    books = pq_train(emb, m=8, ksub=256)
    approx = pq_topk(emb, queries, books, k=5, shortlist=max(200, emb.count() // 20))
    exact = cosine_topk(emb, queries, k=5)
    overlap = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per_q = exact.groupBy("query_id").agg(
        F.round(F.sum("cos"), 4).alias("exact_cos_mass"), F.count(F.lit(1)).alias("k")
    )
    return per_q.join(overlap, "query_id", "left").select(
        "query_id",
        "exact_cos_mass",
        (F.coalesce(F.col("n_hit"), F.lit(0)) >= 4).alias("recall_ok"),  # ≥0.8 recall@5
    )


def _top_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    terms = d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(20)
    )


def _sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # exact integer microseconds (a seconds-truncating cast would disagree
    # with the oracle on gaps like 1800.5s)
    micros = F.unix_micros(F.col("ts").cast("timestamp"))  # parquet ts is NTZ
    gap = micros - F.lag(micros).over(w)
    marked = e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0))
    sess = marked.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(_dec("value")).cast("double"), 2).alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.sum("session_value"), 2).alias("total_value"),
        )
    )


def _running_total(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = o.withColumn("running_spend", F.round(F.sum(_dec("o_totalprice")).over(w).cast("double"), 2))
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "running_spend",
    )


def _lineitem_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


def _dead_letter_split(spark, sf_dir):
    from stac_populator_spark.operators.validate import split_valid_invalid

    d = _t(spark, sf_dir, "documents")
    # deterministically corrupt some rows to exercise each rule
    items = d.select(
        F.when(F.col("doc_id") % 17 == 0, F.lit("")).otherwise(F.col("doc_id").cast("string")).alias("id"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(-200.0)).otherwise(F.lit(0.0)).alias("lon_min"),
        F.when(F.col("doc_id") % 19 == 0, F.lit(95.0)).otherwise(F.lit(0.0)).alias("lat_min"),
        F.lit(1.0).alias("lon_max"),
        F.lit(1.0).alias("lat_max"),
        F.lit(None).cast("timestamp").alias("datetime"),
        F.col("doc_id"),
    )
    _, dead = split_valid_invalid(items)
    return dead.select("doc_id", "failure_reason")


# jsonschema-subset document driving the schema-validation stage — the
# schema is DATA (reference loads per-extension schema files and runs
# jsonschema.iter_errors, extensions/base.py:107-125); the engine compiles
# it to column predicates (operators/validate.compile_jsonschema)
_DOC_JSONSCHEMA = {
    "required": ["title", "lang", "source", "text"],
    "properties": {
        "lang": {"type": "string", "enum": ["de", "en", "es", "fr"]},
        "source": {"type": "string", "pattern": "^src[0-9]$"},
        "n_chars": {"type": "integer", "minimum": 60},
        "text": {"type": "string", "minLength": 10},
    },
}


def _stac_schema_split(spark, sf_dir):
    from stac_populator_spark.operators.validate import schema_failure_reason

    d = _t(spark, sf_dir, "documents")
    items = d.withColumn(
        "title",
        F.when(
            F.col("doc_id") % 13 != 0, F.concat(F.lit("T"), F.col("doc_id").cast("string"))
        ),
    )
    return items.select(
        "doc_id", schema_failure_reason(_DOC_JSONSCHEMA, items).alias("failure_reason")
    )


def _events_pivot(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    return e.groupBy(day).agg(
        *[
            F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
            for t in ("click", "view", "purchase", "signup", "error")
        ]
    )


# --- rows-only (non-SQL-expressible) ---

def _ivf_cosine(spark, sf_dir):
    """IVF with full probe (n_probe = k_centroids): must equal brute-force
    top-k EXACTLY — verifies the cluster-assignment + inverted-list-union
    machinery loses nothing (a wrong assignment or dropped list breaks it).
    Pruned-probe recall (n_probe < k) is pytest-verified
    (tests/test_dedup_textstats.py::test_ivf_topk_recall)."""
    from stac_populator_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_probe=16, dim=64, k_centroids=16)


def _doc_fingerprints(spark, sf_dir):
    """Whitespace-normalized md5 fingerprint (cross-engine-verifiable; the
    xxhash64 rolling-hash variant stays the fast default in
    textstats.with_fingerprint, pytest-pinned) + stopword-vote language ID."""
    from stac_populator_spark.operators.textstats import with_lang_id

    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    fp64 = F.conv(F.substring(F.md5(norm.cast("binary")), 1, 15), 16, 10).cast("long")
    return with_lang_id(d).select(
        "doc_id", fp64.alias("fp64"), "lang", "lang_pred"
    )


def _tile_pyramid(spark, sf_dir):
    from stac_populator_spark.operators.tiles import assign_items_to_tiles, tile_pyramid

    pts = _doc_points(_t(spark, sf_dir, "documents"))
    tiled = assign_items_to_tiles(pts, z=7)
    return tile_pyramid(tiled, base_z=7)


def _quantity_percentiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("price_p25"),
        F.count(F.lit(1)).alias("n"),
    )


def _approx_quantiles_check(spark, sf_dir):
    """Approx sketch beside the exact operator (SURVEY §2.5 closing note):
    ``approx_percentile`` (a t-digest-style mergeable sketch — the
    10^12-row path where exact percentile's full sort-per-group is
    unaffordable) checked against exact ``percentile`` within the sketch's
    stated accuracy. The oracle emits the exact values + a literal TRUE:
    if the sketch ever drifts outside the bound, within_bounds flips and
    the value hash mismatches — the error bound IS the correctness gate."""
    li = _t(spark, sf_dir, "lineitem")
    acc = 10000  # 1/acc relative-rank accuracy
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("_p50"),
        F.expr(f"approx_percentile(l_quantity, 0.5, {acc})").alias("_a50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("_p90"),
        F.expr(f"approx_percentile(l_extendedprice, 0.9, {acc})").alias("_a90"),
        F.count(F.lit(1)).alias("n"),
    )
    # rank-accuracy bound translated to a value bound: ±2% of the exact
    # value + one unit (approx returns a data value; exact interpolates
    # between adjacent values, so allow one inter-value gap)
    ok = (
        (F.abs(F.col("_a50") - F.col("_p50")) <= 0.02 * F.abs(F.col("_p50")) + 1.0)
        & (F.abs(F.col("_a90") - F.col("_p90")) <= 0.02 * F.abs(F.col("_p90")) + 1.0)
    )
    return agg.select(
        "l_returnflag",
        F.round("_p50", 4).alias("p50_exact"),
        F.round("_p90", 4).alias("p90_price_exact"),
        "n",
        ok.alias("within_bounds"),
    )


def _approx_distinct_check(spark, sf_dir):
    """HyperLogLog++ ``approx_count_distinct`` vs exact countDistinct per
    group, within the configured relative standard deviation ×5 (a hard
    bound at ~5 sigma). Oracle: exact counts + literal TRUE."""
    o = _t(spark, sf_dir, "orders")
    rsd = 0.01
    agg = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", rsd).alias("_approx"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    ok = (
        F.abs(F.col("_approx") - F.col("exact_customers"))
        <= 5 * rsd * F.col("exact_customers") + 1
    )
    return agg.select(
        "o_orderpriority", "exact_customers", "n_orders", ok.alias("within_bounds")
    )


def _domain_stats(spark, sf_dir):
    """Registered-domain grouping over deterministically-derived urls
    (hosts exercise userinfo/port/path stripping and two-level public
    suffixes — news.example.co.uk → example.co.uk)."""
    from stac_populator_spark.functions.urls import url_registered_domain

    d = _t(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("news.Example.co.uk"))
        .when(F.col("doc_id") % 5 == 1, F.lit("a.example.com"))
        .when(F.col("doc_id") % 5 == 2, F.lit("b.cdn.example.com"))
        .when(F.col("doc_id") % 5 == 3, F.lit("shop.acme.com.au"))
        .otherwise(F.lit("x.mysite.org"))
    )
    url = F.concat(
        F.lit("https://user@"), host, F.lit(":443/p/"), F.col("doc_id").cast("string"),
        F.lit("?q=1"),
    )
    docs = d.select("doc_id", "n_chars", url.alias("url"))
    return (
        docs.groupBy(url_registered_domain(F.col("url")).alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _domain_budget(spark, sf_dir):
    """Per-domain crawl/keep budget: cap each registered domain at its N
    best documents (here: longest text, id tie-break) — the standard
    anti-domination stage of a web corpus (one boilerplate-heavy domain
    must not swamp training data). One window over the domain key."""
    from stac_populator_spark.functions.urls import registered_domain

    d = _t(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("news.example.co.uk"))
        .when(F.col("doc_id") % 5 == 1, F.lit("a.example.com"))
        .when(F.col("doc_id") % 5 == 2, F.lit("b.cdn.example.com"))
        .when(F.col("doc_id") % 5 == 3, F.lit("shop.acme.com.au"))
        .otherwise(F.lit("x.mysite.org"))
    )
    docs = d.select("doc_id", "n_chars", registered_domain(host).alias("domain"))
    w = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rank_in_domain", F.row_number().over(w))
        .filter(F.col("rank_in_domain") <= 100)
        .select("domain", "doc_id", "n_chars", "rank_in_domain")
    )


def _pii_redact(spark, sf_dir):
    """PII scrub over deterministically-planted PII (the synthetic corpus
    has none): regexp_replace/regexp_count chain, pure codegen. Patterns
    are RE2-compatible so the DuckDB mirror uses them verbatim."""
    from stac_populator_spark.operators.scrub import redact_pii

    d = _t(spark, sf_dir, "documents")
    plant = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" mail me at user"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            F.concat(F.lit(" server 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".5 up")),
        )
        .when(F.col("doc_id") % 7 == 2, F.lit(" call +123-456-7890 ok"))
        .otherwise(F.lit(""))
    )
    # explicit pruning before the Arrow kernel: Catalyst cannot prune
    # through mapInArrow, and only (doc_id, text) are consumed downstream
    aug = d.select("doc_id", F.concat("text", plant).alias("text"))
    out = redact_pii(aug)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone", F.md5("text_redacted").alias("redacted_md5")
    )


def _decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style n-gram overlap filter): docs
    sharing any word 5-gram with the deterministic 'eval set'
    (doc_id % 101 == 0) are routed out with hit counts."""
    from stac_populator_spark.operators.scrub import decontaminate

    d = _t(spark, sf_dir, "documents").filter(
        F.size(F.split(F.trim("text"), r"\s+")) >= 5
    )
    eval_set = d.filter(F.col("doc_id") % 101 == 0)
    corpus = d.filter(F.col("doc_id") % 101 != 0)
    # plant contamination: docs with doc_id % 13 == 4 get an eval doc's
    # full text appended (broadcast join on the deterministic eval key) —
    # random 5-grams almost never collide, planted ones must be caught
    ev = eval_set.select(F.col("doc_id").alias("e_id"), F.col("text").alias("e_text"))
    aug = (
        corpus.withColumn(
            "e_id", F.when(F.col("doc_id") % 13 == 4, (F.col("doc_id") % 5) * 101)
        )
        .join(F.broadcast(ev), "e_id", "left")
        .withColumn(
            "text",
            F.when(
                F.col("e_text").isNotNull(), F.concat("text", F.lit(" "), "e_text")
            ).otherwise(F.col("text")),
        )
        .drop("e_id", "e_text")
    )
    _, contaminated = decontaminate(aug, eval_set, n=5)
    return contaminated.select("doc_id", "n_hits")


def _segment_setops(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    buyers = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    both = building.intersect(buyers).withColumn("grp", F.lit("building_buyers"))
    silent = building.exceptAll(buyers).withColumn("grp", F.lit("building_no_orders"))
    return both.unionByName(silent).groupBy("grp").agg(F.count(F.lit(1)).alias("n_customers"))


def _events_props_json(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


def _jaccard_pairs(spark, sf_dir):
    from stac_populator_spark.operators.dedup import _shingles_from_sql, _toks_sql

    d = _t(spark, sf_dir, "documents").filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
    # two-stage: token array materialized before the shingle lambda (the
    # inline split re-evaluates per element — r6 finding); values identical
    a = (
        d.filter(F.col("doc_id") % 10 == 0)
        .selectExpr("doc_id AS a", f"{_toks_sql('text')} AS _w")
        .selectExpr("a", f"{_shingles_from_sql('_w', 2)} AS sh_a")
    )
    b = d.selectExpr(
        "doc_id - 1 AS a", "doc_id AS b", f"{_toks_sql('text')} AS _w"
    ).selectExpr("a", "b", f"{_shingles_from_sql('_w', 2)} AS sh_b")
    j = a.join(b, "a")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select("a", "b", F.round(inter / union, 4).alias("jaccard"))


def _stac_collections_items(spark, sf_dir):
    """Fact side of stac_collections: ONE scan of documents carrying
    lon/lat (derived) + lang/source straight through the broadcast PIP
    join — zero joins, zero exchanges before the final aggregation
    (pinned in tests/test_plans.py)."""
    from stac_populator_spark.operators.cells import grid_cell_col
    from stac_populator_spark.operators.spatial_join import footprint_cover_df, pip_join

    docs = _t(spark, sf_dir, "documents")
    pts = docs.select(
        "doc_id",
        "lang",
        "source",
        (((F.col("doc_id") * 37) % 3600) / 10.0 - 179.95).alias("lon"),
        (((F.col("doc_id") * 53) % 1700) / 10.0 - 84.95).alias("lat"),
    ).withColumn("cell_grid", grid_cell_col("lon", "lat"))
    fps = _nation_footprints(spark, sf_dir).toPandas()
    fps = fps.rename(columns={c: c[2:] for c in ("f_lon_min", "f_lat_min", "f_lon_max", "f_lat_max")})
    fps["bbox"] = fps[["lon_min", "lat_min", "lon_max", "lat_max"]].values.tolist()
    fps["ring"] = None
    cover = footprint_cover_df(spark, fps[["collection_id", "bbox", "ring"]])
    matched = pip_join(pts, cover, exact="pip")
    return (
        matched.withColumn("lon_min", F.col("lon"))
        .withColumn("lat_min", F.col("lat"))
        .withColumn("lon_max", F.col("lon"))
        .withColumn("lat_max", F.col("lat"))
        .withColumn(
            "datetime",
            F.when(
                F.col("doc_id") % 11 != 0,
                F.expr("timestampadd(SECOND, doc_id*977, timestamp'2020-01-01 00:00:00')"),
            ),
        )
        .withColumn("props", F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")))
    )


def _stac_collections(spark, sf_dir):
    """One scan → broadcast PIP join → ONE HashAggregate pair → one
    projection: extent + summaries + JSON assembly with zero fact-side
    exchanges and zero post-agg joins (VERDICT r2 ask #1; plan pinned in
    tests/test_plans.py)."""
    from stac_populator_spark.operators.stac_collection import stac_collection_json_onepass

    items = _stac_collections_items(spark, sf_dir)
    return stac_collection_json_onepass(items, ["lang", "source"]).select(
        "collection_id", "item_count", "stac_collection_json"
    )


def _minhash_neardup(spark, sf_dir):
    from stac_populator_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(d, threshold=0.5).select(
        "a", "b", F.round("jaccard", 4).alias("jaccard")
    )


def _simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs over md5-bit signatures (cross-engine
    verifiable — DuckDB mirrors the exact bit arithmetic); the banded
    candidate join is pigeonhole-exact for hamming ≤ 3 at EVERY block
    count, so the result must equal the oracle's brute-force all-pairs
    Hamming scan regardless of the corpus-size-adaptive block choice
    (choose_simhash_blocks: the raw-table count is parquet-metadata
    cheap; small corpus → 4 wide bands, 10^12 rows → 20 narrow ones).
    The xxhash64 signature variant stays the fast default
    (pytest-pinned)."""
    from stac_populator_spark.operators.dedup import (
        choose_simhash_blocks, simhash_candidates, simhash_signature_md5,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = simhash_signature_md5(d)
    return simhash_candidates(
        sigs, max_hamming=3, n_blocks=choose_simhash_blocks(d.count())
    )


def _knn_exact_docs(spark, sf_dir):
    """The provably-exact kNN variant (ring pass + per-point distance
    guarantee + targeted brute-force redo, knn.py) vs the oracle's
    haversine brute force."""
    from stac_populator_spark.operators.knn import knn_join_exact

    pts = _doc_points(_t(spark, sf_dir, "documents")).filter(F.col("doc_id") % 7 == 0)
    # res=None: density-adaptive bucket size (knn.choose_res) — a fixed
    # res is only right at one scale
    out = knn_join_exact(pts.withColumnRenamed("doc_id", "id"), k=3, res=None, radius=1)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("neighbor_id"),
        "rank",
        F.round("dist_km", 3).alias("dist_km_r"),
    )


def _stac_valid_split(spark, sf_dir):
    """Structural STAC validation gate (reference extensions/base.py:
    107-125): required id, WGS84 ranges, bbox⇔geometry consistency,
    datetime-vs-range exclusivity, plus a controlled-vocabulary check on
    lang (reference CV validation, cmip6.py:47-67). Returns every doc with
    its first failure_reason (null = valid)."""
    from stac_populator_spark.operators.validate import cv_check, split_valid_invalid

    d = _t(spark, sf_dir, "documents")
    ts = F.expr("timestampadd(SECOND, doc_id*977, timestamp'2020-01-01 00:00:00')")
    items = d.select(
        F.when(F.col("doc_id") % 17 == 0, F.lit("")).otherwise(F.col("doc_id").cast("string")).alias("id"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(-200.0)).otherwise(F.lit(0.0)).alias("lon_min"),
        F.when(F.col("doc_id") % 19 == 0, F.lit(95.0)).otherwise(F.lit(0.0)).alias("lat_min"),
        F.lit(1.0).alias("lon_max"),
        F.lit(1.0).alias("lat_max"),
        F.when(F.col("doc_id") % 29 != 0, F.lit('{"type":"Point"}')).alias("geometry"),
        F.when(F.col("doc_id") % 31 != 0, F.array(F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(1.0))).alias("bbox"),
        F.when(F.col("doc_id") % 11 != 0, ts).alias("datetime"),
        F.when(F.col("doc_id") % 7 == 0, ts).alias("start_datetime"),
        F.col("doc_id"),
        F.col("lang"),
    )
    valid, dead = split_valid_invalid(items, structural=True)
    valid_tagged = valid.withColumn(
        "failure_reason",
        F.when(cv_check("lang", ("en", "es", "de", "fr", "pt", "ja", "ru")), F.lit("cv_lang")),
    )
    return valid_tagged.unionByName(dead).select("doc_id", "failure_reason")


def _stac_flagship(spark, sf_dir):
    """The FULL flagship pipeline INCLUDING both spatial cell ids —
    oracle-checked end to end: the DuckDB mirror recomputes S2 level-12
    (recursive-CTE Hilbert walk) and the icosa hex res-7 (gnomonic
    projection SQL) bit-exactly (see ``_flagship_oracle_sql``)."""
    from stac_populator_spark.datagen import pages_from_documents
    from stac_populator_spark.plans.pipeline import build_items
    from stac_populator_spark.operators.spatial_join import footprint_cover_df

    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    fps = _nation_footprints(spark, sf_dir).toPandas()
    fps = fps.rename(columns={c: c[2:] for c in ("f_lon_min", "f_lat_min", "f_lon_max", "f_lat_max")})
    fps["bbox"] = fps[["lon_min", "lat_min", "lon_max", "lat_max"]].values.tolist()
    fps["ring"] = None
    cover = footprint_cover_df(spark, fps[["collection_id", "bbox", "ring"]])
    items = build_items(pages, cover, exact="rect")
    return items.select("id", "collection_id", "cell_s2", "cell_hex", "tile_id", "stac_json")


def _q2_cheapest_supplier(spark, sf_dir):
    """TPC-H Q2 shape: argmin join-back — per-part minimum price computed
    as a grouped aggregate, then re-joined on (key, min) equality to
    recover the achieving rows, deterministic supplier tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    per_part = li.groupBy("l_partkey").agg(
        F.min(_dec("l_extendedprice")).alias("min_price")
    )
    winners = (
        li.join(per_part, (li.l_partkey == per_part.l_partkey)
                & (_dec("l_extendedprice") == F.col("min_price")))
        .drop(per_part.l_partkey)
        .groupBy("l_partkey", "min_price")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
    )
    return (
        winners.join(p, winners.l_partkey == p.p_partkey)
        .select(
            "p_partkey", "p_name", "best_suppkey",
            F.round(F.col("min_price").cast("double"), 2).alias("min_price"),
        )
    )


def _q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: the fact joined against TWO roles of the same
    dimension (supplier nation and customer nation, both broadcast) with a
    symmetric nation-pair filter and per-year rollup."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
    return j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")).agg(
        F.round(rev.cast("double"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def _events_lag_delta(spark, sf_dir):
    """Per-user event-time gap + value delta via lag windows (the
    change-point-feature shape; one shuffle keyed on user_id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            (F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.col("prev_ts").cast("timestamp"))).alias("gap_us"),
            F.round(F.col("value").cast("double") - F.col("prev_value").cast("double"), 4).alias("value_delta"),
        )
    )


def _events_cube(spark, sf_dir):
    """CUBE over (event_type, lang-ish segment): all four grouping-set
    combinations with map-side partial aggregation."""
    e = _t(spark, sf_dir, "events")
    seg = (F.col("user_id") % 3).alias("user_seg")
    return (
        e.select("event_type", seg, "value")
        .cube("event_type", "user_seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value")).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("user_seg").cast("string"), F.lit("ALL")).alias("user_seg"),
            "n",
            "total_value",
        )
    )


def _q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING over a grouped fact, then re-join — the
    plan must aggregate map-side before the having filter."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_q"))
        .filter(F.col("_q") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.round(_dec("o_totalprice").cast("double"), 2).alias("totalprice"),
            F.col("_q").cast("double").alias("sum_qty"),
        )
    )


def _q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-column predicate — Catalyst must
    still push the common conjuncts to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (_dec("l_quantity") >= 1) & (_dec("l_quantity") <= 15))
        | ((F.col("p_brand") == "Brand#2") & (_dec("l_quantity") >= 10) & (_dec("l_quantity") <= 25))
        | ((F.col("p_brand") == "Brand#3") & (_dec("l_quantity") >= 20) & (_dec("l_quantity") <= 36))
    )
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
    return j.filter(cond).groupBy("p_brand").agg(
        F.round(rev.cast("double"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def _q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar-subquery average + anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(_dec("c_acctbal") > 0).agg(
        F.avg(_dec("c_acctbal")).alias("_a")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(_dec("c_acctbal") > F.col("_a"))
    # "idle" = no RECENT orders (the unfiltered anti-join is empty in this
    # data — every customer has some order)
    recent = o.filter(F.col("o_orderdate") >= F.lit("1998-06-01").cast("date"))
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    seg = F.substring("c_name", 1, 9)
    return idle.groupBy(seg.alias("name_prefix")).agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.round(F.sum(_dec("c_acctbal")).cast("double"), 2).alias("total_bal"),
    )


def _q16_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: COUNT(DISTINCT) per group with a NOT-IN filter."""
    ps = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    bad = s.filter(_dec("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        li.join(ps, li.l_partkey == ps.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .filter(F.col("p_size").isin(1, 4, 7))
    )
    return pairs.groupBy("p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


def _cosine_neardup(spark, sf_dir):
    """Embedding near-dup pairs via banded hyperplane LSH + exact cosine
    verify. The embeddings table is random gaussian (max natural cosine
    ~0.51), so the query plants a deterministic twin per vector
    (x → x·1.0001 + 0.002, SQL-expressible) — every (i, i+100000) pair
    has cosine ≈ 0.9999 and must survive; nothing else may."""
    from stac_populator_spark.operators.similarity import cosine_near_duplicates

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001 + 0.002).alias("embedding"),
    )
    corpus = emb.unionByName(twin)
    return cosine_near_duplicates(corpus, threshold=0.98, dim=64)


def _stac_items_sql(spark, sf_dir):
    """The FULL flagship pipeline (documents → derived pages → mapInArrow
    regex extraction → cells → left broadcast PIP join → tiles → STAC
    JSON), selecting every SQL-expressible column — id rule, collection
    match, tile id, char count and the byte-exact stac_json document are
    all verified against a DuckDB mirror that re-derives the pages and
    re-builds the JSON with string ops. ``stac_flagship`` additionally
    mirrors cell_s2/cell_hex in SQL (recursive-CTE Hilbert + gnomonic
    icosa — see ``_flagship_oracle_sql``); this narrower variant is kept
    as the fast mirror."""
    from stac_populator_spark.datagen import pages_from_documents
    from stac_populator_spark.plans.pipeline import build_items
    from stac_populator_spark.operators.spatial_join import footprint_cover_df

    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    fps = _nation_footprints(spark, sf_dir).toPandas()
    fps = fps.rename(columns={c: c[2:] for c in ("f_lon_min", "f_lat_min", "f_lon_max", "f_lat_max")})
    fps["bbox"] = fps[["lon_min", "lat_min", "lon_max", "lat_max"]].values.tolist()
    fps["ring"] = None
    cover = footprint_cover_df(spark, fps[["collection_id", "bbox", "ring"]])
    items = build_items(pages, cover, exact="rect")
    return items.select("id", "collection_id", "tile_id", "n_chars", "stac_json")


def _q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS — orders in a date window that
    have at least one lineitem shipped after the order date. The
    correlated subquery becomes a LEFT SEMI join (one shuffle on
    orderkey, no fact-side duplication) followed by a tiny agg."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    hit = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


def _q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: ratio of a conditional aggregate to the total
    (promo revenue share for one ship month). Single join + single-row
    result; numerator/denominator both exact DECIMAL before one division
    in double."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = _t(spark, sf_dir, "part")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    j = li.join(p, li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
            / F.sum(disc).cast("double"),
            6,
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def _q13_order_histogram(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution. LEFT OUTER
    join with a predicate restricted to the join's right side (non-urgent
    orders), per-customer count, then a histogram over the counts —
    two shuffles total, the second over a tiny key space."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def _q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: argmax against a derived revenue view — the
    scalar MAX is computed once (single-row broadcast) and equality-joined
    back on the EXACT decimal total, so ties surface deterministically."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))).alias("total_rev")
    )
    m = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(m), rev.total_rev == m.max_rev)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 2).alias("total_rev"),
        )
    )


def _q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into a grouped aggregate joined back to the
    fact; the threshold is derived in double from an exact decimal sum so
    both engines evaluate the same IEEE comparison."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_q = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_q, li.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity").cast("double") < F.lit(0.5) * F.col("avg_qty"))
    )
    return j.agg(
        F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 4).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def _q21_last_shippers(spark, sf_dir):
    """TPC-H Q21 shape: multi-supplier orders where one supplier shipped
    last. The double-EXISTS becomes a per-order distinct-supplier count
    plus a row_number window picking the latest ship line (shipdate DESC,
    suppkey ASC tie-break). Both windows share the orderkey partitioning,
    so lineitem is scanned once and shuffled ONCE (a groupBy-distinct +
    join-back formulation would scan and shuffle it twice)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    w_all = Window.partitionBy("l_orderkey")
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_shipdate").desc(), F.col("l_suppkey").asc()
    )
    j = (
        li.withColumn("n_suppliers", F.size(F.collect_set("l_suppkey").over(w_all)))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter((F.col("rn") == 1) & (F.col("n_suppliers") >= 2))
    )
    return (
        j.join(s, j.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def _q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: ratio-of-conditional-sum per year — one supplier
    nation's share of revenue to customers in one region. Two roles of
    the nation dim (both broadcast) + region, conditional numerator over
    the same rows as the denominator."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_regionkey").alias("c_rk"),
    )
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", disc).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
                / F.sum(disc).cast("double"),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def _q9_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape: profit rollup by supplier nation and year with a
    part-attribute LIKE filter; cost is synthesized from p_retailprice
    (the fixture has no partsupp table) — the join/agg shape is what's
    exercised: fact ⨝ part ⨝ supplier ⨝ broadcast nation, two-key agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev_term = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    # halving the retail price in DOUBLE is exact (x/2 never rounds) and the
    # result still fits scale 4, so cost stays an EXACT decimal — the whole
    # profit is then one exact decimal sum, rounded once with ROUND(dec, 2)
    # (half-away-from-zero in BOTH engines; decimal CAST truncates in
    # DuckDB, and rounding the group total as a DOUBLE had a genuine .xx5
    # tie at sf0.1 that the engines broke differently).
    cost_term = (F.col("p_retailprice") / 2).cast("decimal(18,4)") * _dec("l_quantity")
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return j.groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")).agg(
        F.round(F.sum(rev_term - cost_term), 2).cast("double").alias("sum_profit"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def _q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue of RETURNED lineitems
    in a quarter — 4-way join, per-customer agg, global top-k via
    TakeOrderedAndProject (no full sort)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(rev.cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def _docs_ntile(spark, sf_dir):
    """Per-language document-length quartiles via NTILE — the
    percentile-bucketing window shape (one shuffle keyed on lang; total
    order pinned by a doc_id tie-break so both engines bucket
    identically)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    return (
        d.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _doc_repetition(spark, sf_dir):
    """Gopher-style repetition filter signals per document — computed
    shuffle-free (sorted-array run-length scan inside one projection; see
    operators/textstats.py::with_repetition_stats). The DuckDB oracle
    recomputes the same numbers with unnest+groupBy — different mechanism,
    identical values."""
    from stac_populator_spark.operators.textstats import with_repetition_stats

    d = with_repetition_stats(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", "n_tokens", "n_distinct", "top_tok_share",
        "dup_2gram_frac", "rep_flag",
    )


def _doc_chunks(spark, sf_dir):
    """Token-window chunking (training-data assembly): each document →
    ceil(n/40) fixed 40-token windows, last ragged. Narrow fan-out —
    no shuffle; verified against a DuckDB generate_series + list_slice
    mirror including the chunk text md5."""
    from stac_populator_spark.operators.chunking import chunk_documents

    c = chunk_documents(_t(spark, sf_dir, "documents"), chunk_tokens=40)
    return c.select(
        "doc_id", "chunk_idx", "chunk_len", F.md5("chunk_text").alias("chunk_md5")
    )


def _train_val_split(spark, sf_dir):
    """Deterministic hash-stratified train/val/test split audit: per
    (lang, split) document counts — reproducible across runs, cluster
    sizes and partitionings (md5-bucket, no RNG)."""
    from stac_populator_spark.operators.chunking import with_train_val_split

    d = with_train_val_split(_t(spark, sf_dir, "documents"))
    return d.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _clicks_asof_purchase(spark, sf_dir):
    """AS-OF join: every click matched to the same user's latest purchase
    at-or-before the click (union + one sort + last-carry-forward — no
    range-join blowup; operators/asof.py). Oracle: DuckDB's NATIVE
    ASOF LEFT JOIN — a fully independent implementation."""
    from stac_populator_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    # one purchase row per (user, ts): keep the max event_id (ambiguity
    # guard both engines apply identically)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("p_event_id"))
    )
    out = asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="p_ts",
        right_payload=["p_event_id", "p_ts"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("asof_p_event_id").alias("purchase_event_id"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("asof_p_ts").cast("timestamp"))).alias("gap_us"),
    )


def _daily_activity_full_outer(spark, sf_dir):
    """FULL OUTER join of two daily aggregates (order volume vs event
    volume): days present on either side survive with nulls on the other
    — the reconciliation shape (a LEFT join would silently drop
    event-only days)."""
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        o.join(e, "day", "full_outer")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


def _events_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (not CUBE): exactly three aggregation
    granularities — (type, seg), (type), () — with grouping_id
    disambiguating which set each row came from (a null value vs a
    rolled-up level are different things)."""
    e = _t(spark, sf_dir, "events").withColumn("seg", F.col("user_id") % 3)
    return (
        e.groupingSets(
            [["event_type", "seg"], ["event_type"], []],
            "event_type",
            "seg",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
        )
    )


def _quality_zscore(spark, sf_dir):
    """Per-language z-score of document length via grouped-map
    applyInPandas (whole group as one pandas frame — the §2.7
    collection-parser surface); oracle = AVG/STDDEV window mirror."""
    from stac_populator_spark.operators.registry import zscore_by_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return zscore_by_group(d, "n_chars", "lang").select("doc_id", "lang", "zscore")


def _neardup_components(spark, sf_dir):
    """Iterative graph clustering: MinHash near-dup pairs → connected
    components (min-label propagation, driver-side convergence loop) —
    the transitive-closure step that pairwise dedup misses. The oracle
    recomputes the SAME pair set with brute-force all-pairs Jaccard and
    the components with a recursive-CTE transitive closure."""
    from stac_populator_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, threshold=0.7)
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


def _embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization audit per embedding — the compression
    step a training pipeline runs before shipping vectors: per-vector
    scale = 127 / max|x|, worst-case reconstruction error, and L2 norm.
    Entirely JVM higher-order array functions (aggregate / transform /
    zip_with) — no UDF, no shuffle."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.lit(127.0) / absmax
    q = F.transform(v, lambda x: F.round(x * scale).cast("int"))
    recon_err = F.array_max(
        F.zip_with(v, q, lambda x, qi: F.abs(x - qi.cast("double") / scale))
    )
    l2 = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return e.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.round(recon_err, 6).alias("max_recon_err"),
        F.round(l2, 6).alias("l2_norm"),
    )


def _events_trailing_1h(spark, sf_dir):
    """Time-RANGE sliding window: per event, count + exact-decimal sum of
    the same user's events in the trailing hour (inclusive) — the
    feature-engineering frame (one shuffle keyed on user_id; the range
    frame scans each partition once, no self-join)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.round(F.sum(_dec("value")).over(w).cast("double"), 4).alias("sum_trailing_1h"),
    )


def _funnel_counts(spark, sf_dir):
    """Ordered-funnel analysis (view → click → purchase): per user, the
    first view, the first click AFTER that view, the first purchase AFTER
    that click — three chained conditional mins, two passes over one
    user-keyed shuffle (the decorrelated form of three correlated
    subqueries). Emits per-stage user counts + median-ish latency."""
    e = _t(spark, sf_dir, "events")
    t_view = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    clicks = e.filter(F.col("event_type") == "click").join(t_view, "user_id")
    t_click = clicks.filter(F.col("ts") > F.col("t_view")).groupBy("user_id").agg(
        F.min("ts").alias("t_click"), F.first("t_view").alias("t_view")
    )
    buys = e.filter(F.col("event_type") == "purchase").join(t_click, "user_id")
    t_buy = buys.filter(F.col("ts") > F.col("t_click")).groupBy("user_id").agg(
        F.min("ts").alias("t_buy"), F.first("t_view").alias("t_view")
    )
    return (
        t_view.join(t_click.select("user_id", F.lit(1).alias("clicked")), "user_id", "left")
        .join(t_buy.select("user_id", F.lit(1).alias("bought"),
                           F.col("t_buy"), F.col("t_view").alias("tv2")), "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_viewed"),
            F.sum(F.coalesce(F.col("clicked"), F.lit(0))).alias("n_clicked"),
            F.sum(F.coalesce(F.col("bought"), F.lit(0))).alias("n_purchased"),
            F.round(
                F.avg(
                    (F.unix_micros(F.col("t_buy").cast("timestamp"))
                     - F.unix_micros(F.col("tv2").cast("timestamp"))) / 1000000.0
                ),
                3,
            ).alias("avg_funnel_secs"),
        )
    )


def _q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-side filter + single aggregate — the
    predicate-pushdown showcase (every filter reaches the parquet scan,
    no join, no shuffle beyond the final single-row combine)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double"), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def _training_prep(spark, sf_dir):
    """The composed training-data prep pipeline in one plan: repetition
    quality gate → exact-dup collapse (canonical = min doc_id per text
    hash) → deterministic split assignment → per (lang, split) corpus
    accounting. Every stage is an operator verified on its own
    (`doc_repetition`, `dedup_exact`, `train_val_split`); this query
    verifies their COMPOSITION against one DuckDB mirror."""
    from stac_populator_spark.operators.chunking import with_train_val_split
    from stac_populator_spark.operators.textstats import with_repetition_stats

    d = with_repetition_stats(_t(spark, sf_dir, "documents"))
    ok = d.filter(F.col("rep_flag") == "ok")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    canon = ok.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    s = with_train_val_split(canon)
    return s.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is deliberate (driver samples the FIRST 50 keys): rotated
    # each round so every query is driver-hash-checked within two
    # consecutive rounds — round 6 leads with the 29 entries outside the
    # round-5 sample (CORRECTNESS_r05.json), then the 50 it covered.
    # tools/check_oracle.py replays all 79 under the same comparator.
    return {
        "events_trailing_1h": _events_trailing_1h,
        "embed_quantize": _embed_quantize,
        "neardup_components": _neardup_components,
        "quality_zscore": _quality_zscore,
        "daily_activity_full_outer": _daily_activity_full_outer,
        "events_grouping_sets": _events_grouping_sets,
        "clicks_asof_purchase": _clicks_asof_purchase,
        "domain_stats": _domain_stats,
        "ivfpq_cosine": _ivfpq_cosine,
        "stac_flagship": _stac_flagship,
        "minhash_neardup": _minhash_neardup,
        "simhash_pairs": _simhash_pairs,
        "pq_cosine": _pq_cosine,
        "cosine_neardup": _cosine_neardup,
        "knn_exact_docs": _knn_exact_docs,
        "stac_collections": _stac_collections,
        "decontaminate": _decontaminate,
        "pii_redact": _pii_redact,
        "ivf_cosine": _ivf_cosine,
        "stac_items_sql": _stac_items_sql,
        "stac_valid_split": _stac_valid_split,
        "collection_extent": _collection_extent,
        "pip_points": _pip_points,
        "sessionize": _sessionize,
        "domain_budget": _domain_budget,
        "jaccard_pairs": _jaccard_pairs,
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_topk_revenue": _q3_topk_revenue,
        "q5_nation_revenue": _q5_nation_revenue,
        "top_customer_per_nation": _top_customer_per_nation,
        "events_daily": _events_daily,
        "orders_semi": _orders_semi,
        "customers_no_orders": _customers_no_orders,
        "doc_points_tiles": _doc_points_tiles,
        "tiles_footprints": _tiles_footprints,
        "knn_docs_bruteforce": _knn_docs_bruteforce,
        "dedup_exact": _dedup_exact,
        "token_stats": _token_stats,
        "quality_by_source": _quality_by_source,
        "summaries_typed": _summaries_typed,
        "lang_skew_counts": _lang_skew_counts,
        "ann_cosine": _ann_cosine,
        "top_terms": _top_terms,
        "running_total": _running_total,
        "lineitem_rollup": _lineitem_rollup,
        "dead_letter_split": _dead_letter_split,
        "stac_schema_split": _stac_schema_split,
        "events_pivot": _events_pivot,
        "tile_pyramid": _tile_pyramid,
        "quantity_percentiles": _quantity_percentiles,
        "approx_quantiles_check": _approx_quantiles_check,
        "approx_distinct_check": _approx_distinct_check,
        "segment_setops": _segment_setops,
        "events_props_json": _events_props_json,
        "doc_fingerprints": _doc_fingerprints,
        "q2_cheapest_supplier": _q2_cheapest_supplier,
        "q7_nation_volume": _q7_nation_volume,
        "events_lag_delta": _events_lag_delta,
        "events_cube": _events_cube,
        "q18_large_orders": _q18_large_orders,
        "q19_disjunctive_revenue": _q19_disjunctive_revenue,
        "q22_idle_customers": _q22_idle_customers,
        "q16_part_supplier_counts": _q16_part_supplier_counts,
        "q4_order_priority": _q4_order_priority,
        "q14_promo_revenue": _q14_promo_revenue,
        "q13_order_histogram": _q13_order_histogram,
        "q15_top_supplier": _q15_top_supplier,
        "q17_small_qty_revenue": _q17_small_qty_revenue,
        "q21_last_shippers": _q21_last_shippers,
        "q8_market_share": _q8_market_share,
        "q9_profit_by_nation": _q9_profit_by_nation,
        "q10_returned_revenue": _q10_returned_revenue,
        "docs_ntile": _docs_ntile,
        "doc_repetition": _doc_repetition,
        "doc_chunks": _doc_chunks,
        "train_val_split": _train_val_split,
        "training_prep": _training_prep,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "funnel_counts": _funnel_counts,
    }


def _simhash_oracle_sql() -> str:
    """Brute-force SimHash mirror: identical md5-hex-digit bit arithmetic,
    signatures as two 32-bit halves (DuckDB BIGINT can't shift to bit 63),
    all-pairs Hamming ≤ 3 scan."""
    sums = ",\n                 ".join(
        f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, {i // 4 + 1}, 1)) - 1)"
        f" // {2 ** (3 - i % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    lo = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)" for i in range(32))
    hi = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << (i - 32)}::BIGINT ELSE 0 END)" for i in range(32, 64))
    return f"""
        WITH toks AS (
          SELECT doc_id, md5(unnest(string_split_regex(trim(text), '\\s+'))) AS hx
          FROM documents
        ), sums AS (
          SELECT doc_id, {sums}
          FROM toks GROUP BY doc_id
        ), sig AS (
          SELECT doc_id, {lo} AS lo, {hi} AS hi FROM sums
        )
        SELECT a.doc_id AS a, b.doc_id AS b,
               (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::INT AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
    """


_LANGS = {
    "de": ["der", "die", "und", "das", "von", "zu", "den", "ist"],
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "ja": ["の", "に", "は", "を", "た", "が", "で", "て"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em"],
    "ru": ["и", "в", "не", "на", "что", "с", "это", "как"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "不"],
}


def _flagship_oracle_sql() -> str:
    """DuckDB mirror of the FULL flagship output including both spatial
    cell ids — the last two columns that round 2 left rows-only.

    - ``cell_s2``: the complete S2 level-12 encoding in SQL — lat/lon →
      unit XYZ → cube face/(u,v) → quadratic (s,t) → 30-bit (i,j) →
      Hilbert position via a 30-step RECURSIVE CTE carrying (pos,
      orientation) with the public S2 lookup tables inlined as CASE
      expressions → lsb-marked 64-bit id (signed wrap for faces ≥ 4).
    - ``cell_hex``: the icosahedral gnomonic aperture-7 encoding in SQL —
      the 20 face centers/tangent bases (deterministic golden-ratio
      construction, same data the engine uses — embedded at full float
      repr, exact round-trip) as a VALUES table, argmax-face by dot
      product (row_number, face tie-break), gnomonic projection, axial
      coords, cube rounding with BANKER'S rounding (numpy round-half-even;
      DuckDB ROUND is half-away) and the two-step cube fix.

    Both verified bit-exact against the numpy encoders on 10k random
    points AND the flagship's actual coordinate lattice before wiring.
    Float-parity note: DuckDB's cos/sin/sqrt and numpy's agree bit-for-bit
    on this platform (both libm doubles); the inputs are fixed test data,
    so the comparison is deterministic either way."""
    from stac_populator_spark.functions import icosa as I

    C, U, V = I._CENTERS, I._US, I._VS
    size, ca, sa = I._res_basis(7)
    sqrt3 = I._SQRT3
    faces_rows = ",\n              ".join(
        f"({fi}, {C[fi,0]!r}, {C[fi,1]!r}, {C[fi,2]!r}, "
        f"{U[fi,0]!r}, {U[fi,1]!r}, {U[fi,2]!r}, "
        f"{V[fi,0]!r}, {V[fi,1]!r}, {V[fi,2]!r})"
        for fi in range(20)
    )

    def bround(x: str) -> str:
        # numpy round-half-EVEN; DuckDB ROUND() is half-away — spell it out
        return (
            f"(floor({x}) + CASE WHEN {x} - floor({x}) > 0.5 THEN 1 "
            f"WHEN {x} - floor({x}) < 0.5 THEN 0 "
            f"ELSE CAST(CAST(floor({x}) AS BIGINT) % 2 != 0 AS INT) END)"
        )

    ij2pos = (
        "CASE bits * 4 + (((i >> k) & 1) * 2 + ((j >> k) & 1)) "
        "WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 2 "
        "WHEN 4 THEN 0 WHEN 5 THEN 3 WHEN 6 THEN 1 WHEN 7 THEN 2 "
        "WHEN 8 THEN 2 WHEN 9 THEN 3 WHEN 10 THEN 1 WHEN 11 THEN 0 "
        "WHEN 12 THEN 2 WHEN 13 THEN 1 WHEN 14 THEN 3 ELSE 0 END"
    )

    return f"""
            WITH RECURSIVE base AS (
              SELECT doc_id, lang, source,
                     length('Doc ' || doc_id) + 1 + length(text) AS n_chars,
                     'https://docs.example/' || source || '/' || doc_id || '.html' AS url,
                     'docs.example__' || source || '__' || doc_id || '.html' AS id,
                     (doc_id % 5) != 0 AS has_geo,
                     ((doc_id*37)%3600)/10.0 - 179.95 AS lon,
                     ((doc_id*53)%1700)/10.0 - 84.95 AS lat,
                     STRFTIME(TIMESTAMP '2020-01-01 00:00:00' + (doc_id*977) * INTERVAL 1 SECOND,
                              '%Y-%m-%dT%H:%M:%SZ') AS dt_str,
                     STRFTIME(TIMESTAMP '2024-01-01 00:00:00' + (doc_id*137) * INTERVAL 1 SECOND,
                              '%Y-%m-%dT%H:%M:%SZ') AS crawl_str
              FROM documents
            ),
            -- ==== S2 level-12 (Hilbert via recursive CTE) ====
            s2xyz AS (
              SELECT doc_id,
                     cos(radians(lat))*cos(radians(lon)) AS x,
                     cos(radians(lat))*sin(radians(lon)) AS y,
                     sin(radians(lat)) AS z
              FROM base WHERE has_geo
            ), s2face AS (
              SELECT doc_id, x, y, z,
                     CASE WHEN (CASE bf WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
                          THEN bf + 3 ELSE bf END AS face
              FROM (SELECT *, CASE WHEN abs(x) >= abs(y)
                                   THEN CASE WHEN abs(x) >= abs(z) THEN 0 ELSE 2 END
                                   ELSE CASE WHEN abs(y) >= abs(z) THEN 1 ELSE 2 END END AS bf
                    FROM s2xyz)
            ), s2uv AS (
              SELECT doc_id, face,
                CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                          WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
                CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                          WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
              FROM s2face
            ), s2ij AS (
              SELECT doc_id, face,
                least(greatest(CAST(floor((CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u)
                    ELSE 1-0.5*sqrt(1-3*u) END) * 1073741824.0) AS BIGINT), 0), 1073741823) AS i,
                least(greatest(CAST(floor((CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v)
                    ELSE 1-0.5*sqrt(1-3*v) END) * 1073741824.0) AS BIGINT), 0), 1073741823) AS j
              FROM s2uv
            ), s2rec AS (
              SELECT doc_id, face, i, j, 29 AS k, CAST(0 AS HUGEINT) AS pos, face & 1 AS bits
              FROM s2ij
              UNION ALL
              SELECT doc_id, face, i, j, k - 1,
                pos * 4 + ({ij2pos}),
                xor(bits, CASE ({ij2pos}) WHEN 0 THEN 1 WHEN 1 THEN 0 WHEN 2 THEN 0 ELSE 3 END)
              FROM s2rec WHERE k >= 0
            ), s2cell AS (
              SELECT doc_id,
                CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616
                          ELSE h END AS BIGINT) AS cell_s2
              FROM (SELECT doc_id,
                           q * 68719476736 + CASE WHEN q % 2 = 0 THEN 68719476736 ELSE 0 END AS h
                    FROM (SELECT doc_id,
                                 (CAST(face AS HUGEINT) * 2305843009213693952 + pos * 2 + 1)
                                   // 68719476736 AS q
                          FROM s2rec WHERE k = -1))
            ),
            -- ==== icosahedral hex res-7 (gnomonic aperture-7) ====
            hfaces(face, cx, cy, cz, ux, uy, uz, vx, vy, vz) AS (VALUES
              {faces_rows}),
            hbest AS (
              SELECT doc_id, x, y, z, face, ux, uy, uz, vx, vy, vz,
                     x*cx + y*cy + z*cz AS dot,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY x*cx + y*cy + z*cz DESC, face ASC) AS rn
              FROM s2xyz CROSS JOIN hfaces
            ), huv AS (
              SELECT doc_id, face,
                     (x/dot)*ux + (y/dot)*uy + (z/dot)*uz AS u,
                     (x/dot)*vx + (y/dot)*vy + (z/dot)*vz AS v
              FROM hbest WHERE rn = 1
            ), hax AS (
              SELECT doc_id, face,
                     ({sqrt3!r}/3.0)*(({ca!r}*u + {sa!r}*v)/{size!r})
                       - ((-({sa!r})*u + {ca!r}*v)/{size!r})/3.0 AS xf,
                     (2.0/3.0)*((-({sa!r})*u + {ca!r}*v)/{size!r}) AS zf
              FROM huv
            ), hcube AS (
              SELECT doc_id, face, xf, zf, -xf - zf AS yf,
                     {bround('xf')} AS rx, {bround('-xf - zf')} AS ry, {bround('zf')} AS rz
              FROM hax
            ), hdiff AS (
              SELECT *, abs(rx - xf) AS dx, abs(ry - yf) AS dy, abs(rz - zf) AS dz FROM hcube
            ), hfixx AS (
              SELECT doc_id, face,
                     CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS rx,
                     ry, rz, dx, dy, dz
              FROM hdiff
            ), hcell AS (
              SELECT doc_id,
                     CAST(7 AS BIGINT) * 36028797018963968
                     + CAST(face AS BIGINT) * 1125899906842624
                     + (CAST(rx AS BIGINT) + 16777216) * 33554432
                     + (CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy
                                  THEN -rx - ry ELSE rz END AS BIGINT) + 16777216) AS cell_hex
              FROM hfixx
            ),
            joined AS (
              SELECT b.*, f.collection_id
              FROM base b LEFT JOIN (SELECT 'col-' || CAST(n_nationkey AS VARCHAR) AS collection_id, ((n_nationkey*67)%300) - 159.5 AS f_lon_min, ((n_nationkey*41)%140) - 74.5 AS f_lat_min, ((n_nationkey*67)%300) - 159.5 + 12 + (n_nationkey%9) AS f_lon_max, ((n_nationkey*41)%140) - 74.5 + 8 + (n_nationkey%7) AS f_lat_max FROM nation) f
                ON b.has_geo
               AND b.lon >= f.f_lon_min AND b.lon <= f.f_lon_max
               AND b.lat >= f.f_lat_min AND b.lat <= f.f_lat_max
            ), tiled AS (
              SELECT *,
                     GREATEST(0, LEAST(127, CAST(FLOOR((lon + 180.0) / (360.0/128)) AS INT))) AS tx,
                     GREATEST(0, LEAST(127, CAST(FLOOR((85.0 - lat) / (170.0/128)) AS INT))) AS ty,
                     lon::VARCHAR AS ls, lat::VARCHAR AS ts
              FROM joined
            )
            SELECT t.id, t.collection_id,
                   s2cell.cell_s2 AS cell_s2,
                   hcell.cell_hex AS cell_hex,
                   CASE WHEN t.has_geo THEN 'z7/x' || tx || '/y' || ty END AS tile_id,
                   '{{"type":"Feature","stac_version":"1.0.0","id":"' || t.id || '"'
                   || CASE WHEN t.collection_id IS NOT NULL
                           THEN ',"collection":"' || t.collection_id || '"' ELSE '' END
                   || CASE WHEN t.has_geo
                           THEN ',"bbox":[' || ls || ',' || ts || ',' || ls || ',' || ts || ']'
                           ELSE '' END
                   || ',"properties":{{'
                   || CASE WHEN t.has_geo THEN '"datetime":"' || dt_str || '",' ELSE '' END
                   || '"page:title":"Doc ' || t.doc_id
                   || '","page:language":"' || t.lang
                   || '","page:n_chars":' || t.n_chars
                   || ',"page:crawl_ts":"' || crawl_str || '"}}'
                   || ',"assets":{{"source":{{"href":"' || t.url
                   || '","type":"text/html","roles":["data"]}}}}'
                   || ',"geometry":'
                   || CASE WHEN t.has_geo THEN
                        '{{"type":"Polygon","coordinates":[[['
                        || ls || ',' || ts || '],[' || ls || ',' || ts || '],['
                        || ls || ',' || ts || '],[' || ls || ',' || ts || '],['
                        || ls || ',' || ts || ']]]}}'
                      ELSE 'null' END
                   || '}}' AS stac_json
            FROM tiled t
            LEFT JOIN s2cell ON t.doc_id = s2cell.doc_id
            LEFT JOIN hcell ON t.doc_id = hcell.doc_id
    """


def _lang_pred_sql() -> str:
    """Stopword-vote language ID mirror (textstats.with_lang_id): hits =
    distinct stopwords present; argmax, tie → lexicographically first."""
    hit_cols = ",\n                 ".join(
        "length(list_intersect(toks, ["
        + ", ".join(f"'{w}'" for w in ws)
        + f"])) AS h_{lang}"
        for lang, ws in sorted(_LANGS.items())
    )
    langs = sorted(_LANGS)
    g = "greatest(" + ", ".join(f"h_{la}" for la in langs) + ")"
    case = " ".join(f"WHEN h_{la} = g THEN '{la}'" for la in langs)
    return f"""
        WITH toks AS (
          SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS toks
          FROM documents
        ), hits AS (
          SELECT doc_id, lang, text, {hit_cols}
          FROM toks
        ), best AS (
          SELECT *, {g} AS g FROM hits
        )
        SELECT doc_id,
               ('0x' || substr(md5(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 15))::BIGINT AS fp64,
               lang,
               CASE WHEN g <= 0 THEN 'unknown' {case} END AS lang_pred
        FROM best
    """


def oracle_sql() -> dict[str, str]:
    dec = "CAST({c} AS DECIMAL(18,4))"
    rev = (
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
        "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)"
    )
    return {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   ROUND(CAST(SUM({dec.format(c='l_quantity')}) AS DOUBLE), 2) AS sum_qty,
                   ROUND(CAST(SUM({dec.format(c='l_extendedprice')}) AS DOUBLE), 2) AS sum_base_price,
                   ROUND({rev}, 2) AS sum_disc_price,
                   ROUND(CAST(SUM({dec.format(c='l_quantity')}) / COUNT(*) AS DOUBLE), 2) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_topk_revenue": f"""
            SELECT o_orderkey, o_orderpriority, ROUND({rev}, 2) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1997-06-01' AND l_shipdate > DATE '1997-06-01'
            GROUP BY o_orderkey, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "q5_nation_revenue": f"""
            SELECT n_name, ROUND({rev}, 2) AS revenue, COUNT(*) AS n_lineitems
            FROM customer JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "top_customer_per_nation": """
            SELECT n_name, c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer
            ) t JOIN nation ON c_nationkey = n_nationkey
            WHERE rn = 1
        """,
        "events_daily": """
            SELECT STRFTIME(ts, '%Y-%m-%d') AS day, event_type,
                   COUNT(*) AS n_events,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "orders_semi": """
            SELECT o_orderpriority, COUNT(*) AS n_orders
            FROM orders WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > DATE '1998-06-01')
            GROUP BY o_orderpriority
        """,
        "customers_no_orders": """
            SELECT c_mktsegment, COUNT(*) AS n_customers
            FROM customer WHERE NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment
        """,
        "doc_points_tiles": f"""
            SELECT doc_id, ROUND(lon, 6) AS lon, ROUND(lat, 6) AS lat,
                   GREATEST(0, LEAST(127, CAST(FLOOR((lon + 180.0) / (360.0/128)) AS INT))) AS tile_x,
                   GREATEST(0, LEAST(127, CAST(FLOOR((85.0 - lat) / (170.0/128)) AS INT))) AS tile_y,
                   GREATEST(0, LEAST(89, CAST(FLOOR((lon + 180.0) / 4.0) AS BIGINT))) * 1000
                     + GREATEST(0, LEAST(44, CAST(FLOOR((lat + 90.0) / 4.0) AS BIGINT))) AS cell_grid
            FROM ({_DOC_POINTS_SQL}) pts
        """,
        "pip_points": f"""
            SELECT doc_id, collection_id
            FROM ({_DOC_POINTS_SQL}) p
            JOIN ({_FOOTPRINTS_SQL}) f
              ON p.lon >= f.f_lon_min AND p.lon <= f.f_lon_max
             AND p.lat >= f.f_lat_min AND p.lat <= f.f_lat_max
        """,
        "tiles_footprints": f"""
            SELECT tile_id, collection_id
            FROM ({_TILES_SQL}) t JOIN ({_FOOTPRINTS_SQL}) f
              ON t.t_lon_min <= f.f_lon_max AND t.t_lon_max >= f.f_lon_min
             AND t.t_lat_min <= f.f_lat_max AND t.t_lat_max >= f.f_lat_min
        """,
        "knn_docs_bruteforce": f"""
            WITH pts AS (SELECT * FROM ({_DOC_POINTS_SQL}) WHERE doc_id % 7 = 0),
            pairs AS (
              SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id,
                     (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS dist2
              FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
            )
            SELECT doc_id, neighbor_id, rank, ROUND(dist2, 4) AS dist2_r FROM (
              SELECT doc_id, neighbor_id, dist2, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY dist2 ASC, neighbor_id ASC) AS rank
              FROM pairs
            ) WHERE rank <= 3
        """,
        "collection_extent": f"""
            WITH matched AS (
              SELECT doc_id, collection_id, lon, lat
              FROM ({_DOC_POINTS_SQL}) p
              JOIN ({_FOOTPRINTS_SQL}) f
                ON p.lon >= f.f_lon_min AND p.lon <= f.f_lon_max
               AND p.lat >= f.f_lat_min AND p.lat <= f.f_lat_max
            ), items AS (
              SELECT *, {_DOC_TS_SQL} AS ts FROM matched
            )
            SELECT collection_id,
                   ROUND(MIN(lon), 6) AS lon_min, ROUND(MIN(lat), 6) AS lat_min,
                   ROUND(MAX(lon), 6) AS lon_max, ROUND(MAX(lat), 6) AS lat_max,
                   CASE WHEN BOOL_OR(ts IS NULL) THEN NULL
                        ELSE STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') END AS interval_start,
                   CASE WHEN BOOL_OR(ts IS NULL) THEN NULL
                        ELSE STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') END AS interval_end,
                   COUNT(*) AS item_count
            FROM items GROUP BY collection_id
        """,
        "dedup_exact": """
            SELECT MD5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
            FROM documents GROUP BY MD5(text)
        """,
        "token_stats": r"""
            WITH d AS (
              SELECT lang,
                     ARRAY_LENGTH(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_tokens,
                     ARRAY_LENGTH(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS n_bpe_tokens,
                     LENGTH(text) AS n_chars_calc
              FROM documents
            )
            SELECT lang, COUNT(*) AS n_docs,
                   ROUND(CAST(SUM(n_tokens) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 4) AS avg_tokens,
                   CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe,
                   MIN(n_chars_calc) AS min_chars, MAX(n_chars_calc) AS max_chars
            FROM d GROUP BY lang
        """,
        "quality_by_source": r"""
            WITH d AS (
              SELECT source,
                     CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                       / LENGTH(text) AS alpha_ratio,
                     CAST(ARRAY_LENGTH(LIST_DISTINCT(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS DOUBLE)
                       / ARRAY_LENGTH(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS distinct_ratio
              FROM documents
            )
            SELECT source, COUNT(*) AS n_docs,
                   ROUND(AVG(alpha_ratio), 4) AS avg_alpha_ratio,
                   ROUND(AVG(distinct_ratio), 4) AS avg_distinct_ratio
            FROM d GROUP BY source
        """,
        "summaries_typed": """
            SELECT lang,
                   (SELECT STRING_AGG(s, ',' ORDER BY s)
                    FROM (SELECT DISTINCT source AS s FROM documents d2
                          WHERE d2.lang = d.lang)) AS sources,
                   MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                   COUNT(*) AS n_docs
            FROM documents d GROUP BY lang
        """,
        "lang_skew_counts": "SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang",
        "top_terms": r"""
            SELECT term, COUNT(*) AS cnt FROM (
              SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS term FROM documents
            ) GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 20
        """,
        "sessionize": """
            WITH marked AS (
              SELECT user_id, event_id, ts, value,
                CASE WHEN LAG(EPOCH_US(ts)) OVER w IS NULL
                       OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ), sess AS (
              SELECT *, SUM(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM marked
            ), per_sess AS (
              SELECT user_id, session_id, COUNT(*) AS n_events,
                     ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS session_value
              FROM sess GROUP BY user_id, session_id
            )
            SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
                   ROUND(SUM(session_value), 2) AS total_value
            FROM per_sess GROUP BY user_id
        """,
        "running_total": """
            SELECT o_custkey, o_orderkey,
                   STRFTIME(o_orderdate, '%Y-%m-%d') AS order_day,
                   ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
                     AS running_spend
            FROM orders
        """,
        "lineitem_rollup": """
            SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                   COALESCE(l_linestatus, 'ALL') AS linestatus,
                   COUNT(*) AS n_items,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "dead_letter_split": """
            SELECT doc_id,
                   CASE WHEN doc_id % 17 = 0 THEN 'missing_id'
                        WHEN doc_id % 13 = 0 THEN 'lon_out_of_range'
                        WHEN doc_id % 19 = 0 THEN 'lat_out_of_range'
                   END AS failure_reason
            FROM documents
            WHERE doc_id % 17 = 0 OR doc_id % 13 = 0 OR doc_id % 19 = 0
        """,
        "stac_schema_split": """
            -- DuckDB mirror of the compiled jsonschema rules, in rule
            -- order: required (schema order) then per-property checks
            SELECT doc_id,
                   CASE WHEN doc_id % 13 = 0 THEN 'required:title'
                        WHEN lang IS NULL THEN 'required:lang'
                        WHEN source IS NULL THEN 'required:source'
                        WHEN text IS NULL THEN 'required:text'
                        WHEN lang NOT IN ('de','en','es','fr') THEN 'lang:enum'
                        WHEN NOT regexp_matches(source, '^src[0-9]$') THEN 'source:pattern'
                        WHEN n_chars < 60 THEN 'n_chars:minimum'
                        WHEN LENGTH(text) < 10 THEN 'text:minLength'
                   END AS failure_reason
            FROM documents
        """,
        "events_pivot": """
            SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM events GROUP BY 1
        """,
        "tile_pyramid": f"""
            WITH pts AS ({_DOC_POINTS_SQL}),
            base AS (
              SELECT GREATEST(0, LEAST(127, CAST(FLOOR((lon + 180.0) / (360.0/128)) AS INT))) AS tile_x,
                     GREATEST(0, LEAST(127, CAST(FLOOR((85.0 - lat) / (170.0/128)) AS INT))) AS tile_y
              FROM pts
            ), levels AS (
              SELECT z, tile_x >> (7 - z) AS x, tile_y >> (7 - z) AS y
              FROM base, (SELECT UNNEST(RANGE(0, 8)) AS z)
            )
            SELECT z, x, y, COUNT(*) AS n_items FROM levels GROUP BY z, x, y
        """,
        "approx_quantiles_check": """
            -- the sketch's error bound is the gate: the Spark side emits
            -- within_bounds from |approx - exact| <= 2% of exact; any
            -- sketch drift flips the flag and breaks the value hash
            SELECT l_returnflag,
                   ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS p50_exact,
                   ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price_exact,
                   COUNT(*) AS n,
                   TRUE AS within_bounds
            FROM lineitem GROUP BY l_returnflag
        """,
        "domain_stats": r"""
            WITH urls AS (
              SELECT doc_id, n_chars,
                     'https://user@' || CASE doc_id % 5
                        WHEN 0 THEN 'news.Example.co.uk'
                        WHEN 1 THEN 'a.example.com'
                        WHEN 2 THEN 'b.cdn.example.com'
                        WHEN 3 THEN 'shop.acme.com.au'
                        ELSE 'x.mysite.org' END
                     || ':443/p/' || CAST(doc_id AS VARCHAR) || '?q=1' AS url
              FROM documents
            ),
            hosts AS (
              SELECT doc_id, n_chars,
                     LOWER(REGEXP_EXTRACT(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
              FROM urls
            ),
            doms AS (
              SELECT doc_id, n_chars,
                     CASE WHEN REGEXP_EXTRACT(host, '([^.]+\.[^.]+)$', 1) IN
                               ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
                                'org.au','co.jp','or.jp','ne.jp','co.in','co.nz',
                                'co.za','com.br','com.mx','com.cn','com.sg')
                           AND LENGTH(REGEXP_EXTRACT(host, '([^.]+\.[^.]+\.[^.]+)$', 1)) > 0
                          THEN REGEXP_EXTRACT(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
                          ELSE REGEXP_EXTRACT(host, '([^.]+\.[^.]+)$', 1) END AS domain
              FROM hosts
            )
            SELECT domain, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM doms GROUP BY domain
        """,
        "domain_budget": r"""
            WITH doms AS (
              SELECT doc_id, n_chars,
                     CASE doc_id % 5
                        WHEN 0 THEN 'example.co.uk'
                        WHEN 1 THEN 'example.com'
                        WHEN 2 THEN 'example.com'
                        WHEN 3 THEN 'acme.com.au'
                        ELSE 'mysite.org' END AS domain
              FROM documents
            )
            SELECT domain, doc_id, n_chars, rank_in_domain FROM (
              SELECT domain, doc_id, n_chars, ROW_NUMBER() OVER (
                PARTITION BY domain ORDER BY n_chars DESC, doc_id ASC) AS rank_in_domain
              FROM doms
            ) WHERE rank_in_domain <= 100
        """,
        "pii_redact": r"""
            WITH aug AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 7 = 0 THEN ' mail me at user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                       WHEN doc_id % 7 = 1 THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.5 up'
                       WHEN doc_id % 7 = 2 THEN ' call +123-456-7890 ok'
                       ELSE '' END AS text
              FROM documents
            )
            , steps AS (
              -- counts run against the PROGRESSIVELY-redacted text (the same
              -- value each class' replace sees), mirroring redact_pii
              SELECT doc_id, text AS t0,
                     REGEXP_REPLACE(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
              FROM aug
            ), steps2 AS (
              SELECT *, REGEXP_REPLACE(t1,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS t2
              FROM steps
            )
            SELECT doc_id,
                   LEN(REGEXP_EXTRACT_ALL(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                   LEN(REGEXP_EXTRACT_ALL(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
                   LEN(REGEXP_EXTRACT_ALL(t2, '\+?\b\d{3}[-.]\d{3,4}[-.]\d{4}\b')) AS n_phone,
                   MD5(REGEXP_REPLACE(t2,
                       '\+?\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
            FROM steps2
        """,
        "decontaminate": r"""
            WITH base AS (
              SELECT doc_id, text FROM documents
              WHERE LEN(STRING_SPLIT(TRIM(text), ' ')) >= 5
            ),
            ev AS (SELECT doc_id AS e_id, text AS e_text FROM base WHERE doc_id % 101 = 0),
            aug AS (
              SELECT b.doc_id,
                     CASE WHEN e.e_text IS NOT NULL THEN b.text || ' ' || e.e_text
                          ELSE b.text END AS text
              FROM base b
              LEFT JOIN ev e
                ON b.doc_id % 13 = 4 AND e.e_id = (b.doc_id % 5) * 101
              WHERE b.doc_id % 101 <> 0
            ),
            grams AS (
              SELECT doc_id, ARRAY_TO_STRING(ws[i:i+4], ' ') AS gram
              FROM (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS ws,
                           UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(TRIM(text), ' ')) - 4)) AS i
                    FROM aug)
            ),
            eval_grams AS (
              SELECT DISTINCT ARRAY_TO_STRING(ws[i:i+4], ' ') AS gram
              FROM (SELECT STRING_SPLIT(TRIM(text), ' ') AS ws,
                           UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(TRIM(text), ' ')) - 4)) AS i
                    FROM base WHERE doc_id % 101 = 0)
            ),
            corpus_grams AS (SELECT DISTINCT doc_id, gram FROM grams)
            SELECT c.doc_id, COUNT(*) AS n_hits
            FROM corpus_grams c JOIN eval_grams e USING (gram)
            GROUP BY c.doc_id
        """,
        "approx_distinct_check": """
            SELECT o_orderpriority,
                   COUNT(DISTINCT o_custkey) AS exact_customers,
                   COUNT(*) AS n_orders,
                   TRUE AS within_bounds
            FROM orders GROUP BY o_orderpriority
        """,
        "quantity_percentiles": """
            SELECT l_returnflag,
                   ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS p50,
                   ROUND(QUANTILE_CONT(l_quantity, 0.9), 4) AS p90,
                   ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS price_p25,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "segment_setops": """
            WITH building AS (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            ), buyers AS (
              SELECT c_custkey FROM customer WHERE EXISTS (
                SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ), tagged AS (
              SELECT c_custkey, 'building_buyers' AS grp
              FROM (SELECT * FROM building INTERSECT SELECT * FROM buyers)
              UNION ALL
              SELECT c_custkey, 'building_no_orders' AS grp
              FROM (SELECT * FROM building EXCEPT ALL SELECT * FROM buyers)
            )
            SELECT grp, COUNT(*) AS n_customers FROM tagged GROUP BY grp
        """,
        "events_props_json": """
            SELECT event_type, COUNT(*) AS n,
                   MIN(CAST(JSON_EXTRACT(props, '$.k') AS INT)) AS min_k,
                   MAX(CAST(JSON_EXTRACT(props, '$.k') AS INT)) AS max_k,
                   CAST(SUM(CAST(JSON_EXTRACT(props, '$.k') AS INT)) AS BIGINT) AS sum_k
            FROM events GROUP BY event_type
        """,
        "jaccard_pairs": r"""
            WITH toks AS (
              SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t FROM documents
            ), sh AS (
              SELECT doc_id,
                     LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, ARRAY_LENGTH(t)),
                                                  i -> t[i] || ' ' || t[i+1])) AS s
              FROM toks WHERE ARRAY_LENGTH(t) >= 2
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   ROUND(CAST(ARRAY_LENGTH(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
                         / ARRAY_LENGTH(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))), 4) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
            WHERE a.doc_id % 10 = 0
        """,
        "ann_cosine": """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 100 = 0),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     LIST_DOT_PRODUCT(q.qv, e.v)
                       / (SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS cos
              FROM emb e CROSS JOIN q
            )
            SELECT query_id, vec_id, ROUND(cos, 6) AS cos, rank FROM (
              SELECT query_id, vec_id, cos, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ivfpq_cosine": """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
            con AS (
              SELECT vec_id,
                     [v0[j] * 0.25 + CASE WHEN CAST(FLOOR((j-1)/8) AS BIGINT) = vec_id % 8
                                          THEN 3.0 ELSE 0.0 END
                      for j in range(1, 65)] AS v
              FROM emb
            ),
            q AS (SELECT vec_id AS query_id, v AS qv FROM con WHERE vec_id % 100 = 0),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     LIST_DOT_PRODUCT(q.qv, e.v)
                       / (SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS cos
              FROM con e CROSS JOIN q
            ),
            topk AS (
              SELECT query_id, cos FROM (
                SELECT query_id, cos, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 5
            )
            SELECT query_id, ROUND(SUM(ROUND(cos, 6)), 4) AS exact_cos_mass,
                   TRUE AS recall_ok
            FROM topk GROUP BY query_id
        """,
        "pq_cosine": """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 100 = 0),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     LIST_DOT_PRODUCT(q.qv, e.v)
                       / (SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS cos
              FROM emb e CROSS JOIN q
            ),
            topk AS (
              SELECT query_id, cos FROM (
                SELECT query_id, cos, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 5
            )
            SELECT query_id, ROUND(SUM(ROUND(cos, 6)), 4) AS exact_cos_mass,
                   TRUE AS recall_ok
            FROM topk GROUP BY query_id
        """,
        "ivf_cosine": """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     LIST_DOT_PRODUCT(q.qv, e.v)
                       / (SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS cos
              FROM emb e CROSS JOIN q
            )
            SELECT query_id, vec_id, ROUND(cos, 6) AS cos, rank FROM (
              SELECT query_id, vec_id, cos, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "minhash_neardup": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                                    for i in range(1, greatest(length(toks)-2, 1)+1)]) AS s
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
            ), p AS (
              SELECT a.doc_id AS a, b.doc_id AS b,
                     length(list_intersect(a.s, b.s))::DOUBLE
                       / length(list_distinct(list_concat(a.s, b.s))) AS j
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            SELECT a, b, ROUND(j, 4) AS jaccard FROM p WHERE j >= 0.5
        """,
        "simhash_pairs": _simhash_oracle_sql(),
        "doc_fingerprints": _lang_pred_sql(),
        "knn_exact_docs": f"""
            WITH pts AS (SELECT * FROM ({_DOC_POINTS_SQL}) WHERE doc_id % 7 = 0),
            pairs AS (
              SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id,
                     6371.0088 * 2.0 * asin(sqrt(least(greatest(
                       pow(sin((radians(b.lat) - radians(a.lat)) / 2.0), 2)
                       + cos(radians(a.lat)) * cos(radians(b.lat))
                         * pow(sin((radians(b.lon) - radians(a.lon)) / 2.0), 2),
                     0.0), 1.0))) AS d_km
              FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
            )
            SELECT doc_id, neighbor_id, rank, ROUND(d_km, 3) AS dist_km_r FROM (
              SELECT doc_id, neighbor_id, d_km, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY d_km ASC, neighbor_id ASC) AS rank
              FROM pairs
            ) WHERE rank <= 3
        """,
        # byte-exact JSON mirror: DuckDB's DOUBLE::VARCHAR and Spark's
        # to_json both print shortest-roundtrip decimals (verified for the
        # full value range here: |coord| ∈ [0.05, 180) — no E-notation
        # divergence), and summary lists are sorted-distinct both sides
        "stac_collections": f"""
            WITH matched AS (
              SELECT p.doc_id, collection_id, lon, lat
              FROM ({_DOC_POINTS_SQL}) p
              JOIN ({_FOOTPRINTS_SQL}) f
                ON p.lon >= f.f_lon_min AND p.lon <= f.f_lon_max
               AND p.lat >= f.f_lat_min AND p.lat <= f.f_lat_max
            ), items AS (
              SELECT m.*, {_DOC_TS_SQL} AS ts, d.lang, d.source
              FROM matched m JOIN documents d USING (doc_id)
            ), agg AS (
              SELECT collection_id,
                     MIN(lon) AS lon_min, MIN(lat) AS lat_min,
                     MAX(lon) AS lon_max, MAX(lat) AS lat_max,
                     CASE WHEN BOOL_OR(ts IS NULL) THEN NULL
                          ELSE STRFTIME(MIN(ts), '%Y-%m-%dT%H:%M:%SZ') END AS t0,
                     CASE WHEN BOOL_OR(ts IS NULL) THEN NULL
                          ELSE STRFTIME(MAX(ts), '%Y-%m-%dT%H:%M:%SZ') END AS t1,
                     COUNT(*) AS item_count,
                     list_sort(list_distinct(list(lang))) AS langs,
                     list_sort(list_distinct(list(source))) AS srcs
              FROM items GROUP BY collection_id
            )
            SELECT collection_id, item_count,
                   '{{"type":"Collection","stac_version":"1.0.0","id":"' || collection_id
                   || '","title":"' || collection_id
                   || '","description":"Collection ' || collection_id
                   || '","license":"proprietary","keywords":[],"extent":{{"spatial":{{"bbox":[['
                   || lon_min::VARCHAR || ',' || lat_min::VARCHAR || ','
                   || lon_max::VARCHAR || ',' || lat_max::VARCHAR
                   || ']]}},"temporal":{{"interval":[['
                   || COALESCE('"' || t0 || '"', 'null') || ','
                   || COALESCE('"' || t1 || '"', 'null')
                   || ']]}}}},"custom:item_count":' || item_count::VARCHAR
                   || ',"summaries":{{"lang":["' || array_to_string(langs, '","')
                   || '"],"source":["' || array_to_string(srcs, '","')
                   || '"]}}}}' AS stac_collection_json
            FROM agg
        """,
        # full-pipeline mirror: re-derives what the html carries (the page
        # generator is integer-mod arithmetic on doc_id by design), then
        # rebuilds the exact stac_json bytes — double→string is
        # shortest-roundtrip in both engines for this value range, and
        # Spark's to_json drops null fields, mirrored with CASE chunks
        "stac_items_sql": f"""
            WITH base AS (
              -- extracted text = title + single separator + body
              SELECT doc_id, lang, source,
                     length('Doc ' || doc_id) + 1 + length(text) AS n_chars,
                     'https://docs.example/' || source || '/' || doc_id || '.html' AS url,
                     'docs.example__' || source || '__' || doc_id || '.html' AS id,
                     (doc_id % 5) != 0 AS has_geo,
                     ((doc_id*37)%3600)/10.0 - 179.95 AS lon,
                     ((doc_id*53)%1700)/10.0 - 84.95 AS lat,
                     STRFTIME(TIMESTAMP '2020-01-01 00:00:00' + (doc_id*977) * INTERVAL 1 SECOND,
                              '%Y-%m-%dT%H:%M:%SZ') AS dt_str,
                     STRFTIME(TIMESTAMP '2024-01-01 00:00:00' + (doc_id*137) * INTERVAL 1 SECOND,
                              '%Y-%m-%dT%H:%M:%SZ') AS crawl_str
              FROM documents
            ), joined AS (
              SELECT b.*, f.collection_id
              FROM base b LEFT JOIN ({_FOOTPRINTS_SQL}) f
                ON b.has_geo
               AND b.lon >= f.f_lon_min AND b.lon <= f.f_lon_max
               AND b.lat >= f.f_lat_min AND b.lat <= f.f_lat_max
            ), tiled AS (
              SELECT *,
                     GREATEST(0, LEAST(127, CAST(FLOOR((lon + 180.0) / (360.0/128)) AS INT))) AS tx,
                     GREATEST(0, LEAST(127, CAST(FLOOR((85.0 - lat) / (170.0/128)) AS INT))) AS ty,
                     lon::VARCHAR AS ls, lat::VARCHAR AS ts
              FROM joined
            )
            SELECT id, collection_id,
                   CASE WHEN has_geo THEN 'z7/x' || tx || '/y' || ty END AS tile_id,
                   n_chars::INT AS n_chars,
                   '{{"type":"Feature","stac_version":"1.0.0","id":"' || id || '"'
                   || CASE WHEN collection_id IS NOT NULL
                           THEN ',"collection":"' || collection_id || '"' ELSE '' END
                   || CASE WHEN has_geo
                           THEN ',"bbox":[' || ls || ',' || ts || ',' || ls || ',' || ts || ']'
                           ELSE '' END
                   || ',"properties":{{'
                   || CASE WHEN has_geo THEN '"datetime":"' || dt_str || '",' ELSE '' END
                   || '"page:title":"Doc ' || doc_id
                   || '","page:language":"' || lang
                   || '","page:n_chars":' || n_chars
                   || ',"page:crawl_ts":"' || crawl_str || '"}}'
                   || ',"assets":{{"source":{{"href":"' || url
                   || '","type":"text/html","roles":["data"]}}}}'
                   || ',"geometry":'
                   || CASE WHEN has_geo THEN
                        '{{"type":"Polygon","coordinates":[[['
                        || ls || ',' || ts || '],[' || ls || ',' || ts || '],['
                        || ls || ',' || ts || '],[' || ls || ',' || ts || '],['
                        || ls || ',' || ts || ']]]}}'
                      ELSE 'null' END
                   || '}}' AS stac_json
            FROM tiled
        """,
        "q2_cheapest_supplier": f"""
            WITH per_part AS (
              SELECT l_partkey, MIN({dec.format(c='l_extendedprice')}) AS min_price
              FROM lineitem GROUP BY l_partkey
            ), winners AS (
              SELECT li.l_partkey, per_part.min_price, MIN(li.l_suppkey) AS best_suppkey
              FROM lineitem li JOIN per_part
                ON li.l_partkey = per_part.l_partkey
               AND {dec.format(c='li.l_extendedprice')} = per_part.min_price
              GROUP BY li.l_partkey, per_part.min_price
            )
            SELECT p_partkey, p_name, best_suppkey,
                   ROUND(CAST(min_price AS DOUBLE), 2) AS min_price
            FROM winners JOIN part ON l_partkey = p_partkey
            WHERE p_size <= 5
        """,
        "q7_nation_volume": f"""
            SELECT supp_nation, cust_nation, l_year,
                   ROUND({rev}, 2) AS revenue, COUNT(*) AS n_lineitems
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     EXTRACT(year FROM l_shipdate) AS l_year,
                     l_extendedprice, l_discount
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                 OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
            ) GROUP BY supp_nation, cust_nation, l_year
        """,
        "events_lag_delta": """
            SELECT user_id, event_id,
                   epoch_us(ts) - epoch_us(prev_ts) AS gap_us,
                   ROUND(CAST(value AS DOUBLE) - CAST(prev_value AS DOUBLE), 4) AS value_delta
            FROM (
              SELECT user_id, event_id, ts, value,
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts,
                     LAG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_value
              FROM events
            ) WHERE prev_ts IS NOT NULL
        """,
        "events_cube": """
            SELECT COALESCE(event_type, 'ALL') AS event_type,
                   COALESCE(CAST(user_seg AS VARCHAR), 'ALL') AS user_seg,
                   COUNT(*) AS n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value
            FROM (SELECT event_type, user_id % 3 AS user_seg, value FROM events)
            GROUP BY CUBE (event_type, user_seg)
        """,
        "q18_large_orders": f"""
            WITH big AS (
              SELECT l_orderkey, SUM({dec.format(c='l_quantity')}) AS q
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM({dec.format(c='l_quantity')}) > 300
            )
            SELECT c_name, c_custkey, o_orderkey,
                   CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                   ROUND(CAST({dec.format(c='o_totalprice')} AS DOUBLE), 2) AS totalprice,
                   CAST(q AS DOUBLE) AS sum_qty
            FROM big JOIN orders ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q19_disjunctive_revenue": f"""
            SELECT p_brand, ROUND({rev}, 2) AS revenue, COUNT(*) AS n_lineitems
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND {dec.format(c='l_quantity')} BETWEEN 1 AND 15)
               OR (p_brand = 'Brand#2' AND {dec.format(c='l_quantity')} BETWEEN 10 AND 25)
               OR (p_brand = 'Brand#3' AND {dec.format(c='l_quantity')} BETWEEN 20 AND 36)
            GROUP BY p_brand
        """,
        "q22_idle_customers": f"""
            WITH a AS (SELECT AVG({dec.format(c='c_acctbal')}) AS avg_bal
                       FROM customer WHERE {dec.format(c='c_acctbal')} > 0)
            SELECT SUBSTRING(c_name, 1, 9) AS name_prefix,
                   COUNT(*) AS n_custs,
                   ROUND(CAST(SUM({dec.format(c='c_acctbal')}) AS DOUBLE), 2) AS total_bal
            FROM customer, a
            WHERE {dec.format(c='c_acctbal')} > a.avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= DATE '1998-06-01')
            GROUP BY 1
        """,
        "q16_part_supplier_counts": f"""
            SELECT p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size IN (1, 4, 7)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE {dec.format(c='s_acctbal')} < 0)
            GROUP BY p_type, p_size
        """,
        "cosine_neardup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            u AS (
              SELECT vec_id, v FROM e
              UNION ALL
              SELECT vec_id + 100000, list_transform(v, x -> x * 1.0001 + 0.002) FROM e
            ), p AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     LIST_DOT_PRODUCT(a.v, b.v)
                       / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) AS cos
              FROM u a JOIN u b ON a.vec_id < b.vec_id
            )
            SELECT a, b, ROUND(cos, 6) AS cos FROM p WHERE cos >= 0.98
        """,
        "stac_valid_split": """
            SELECT doc_id,
                   CASE WHEN doc_id % 17 = 0 THEN 'missing_id'
                        WHEN doc_id % 13 = 0 THEN 'lon_out_of_range'
                        WHEN doc_id % 19 = 0 THEN 'lat_out_of_range'
                        WHEN (doc_id % 29 = 0) != (doc_id % 31 = 0) THEN 'bbox_geometry_mismatch'
                        WHEN doc_id % 11 != 0 AND doc_id % 7 = 0 THEN 'datetime_and_range_both_set'
                        WHEN doc_id % 11 = 0 AND doc_id % 7 != 0 THEN 'datetime_and_range_both_missing'
                        WHEN lang NOT IN ('en','es','de','fr','pt','ja','ru') THEN 'cv_lang'
                   END AS failure_reason
            FROM documents
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "q14_promo_revenue": f"""
            SELECT ROUND(
                     100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                           THEN {dec.format(c='l_extendedprice')} * (CAST(1 AS DECIMAL(18,4)) - {dec.format(c='l_discount')})
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                     / {rev}, 6) AS promo_pct,
                   COUNT(*) AS n_lineitems
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= DATE '1997-03-01' AND l_shipdate < DATE '1997-04-01'
        """,
        "q13_order_histogram": """
            SELECT c_count, COUNT(*) AS custdist
            FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey
            ) GROUP BY c_count
        """,
        "q15_top_supplier": f"""
            WITH r AS (
              SELECT l_suppkey, SUM({dec.format(c='l_extendedprice')} *
                     (CAST(1 AS DECIMAL(18,4)) - {dec.format(c='l_discount')})) AS total_rev
              FROM lineitem
              WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, ROUND(CAST(total_rev AS DOUBLE), 2) AS total_rev
            FROM r JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev = (SELECT MAX(total_rev) FROM r)
        """,
        "q17_small_qty_revenue": f"""
            WITH a AS (
              SELECT l_partkey AS a_partkey,
                     CAST(SUM({dec.format(c='l_quantity')}) AS DOUBLE) / COUNT(*) AS avg_qty
              FROM lineitem GROUP BY l_partkey
            )
            SELECT ROUND(CAST(SUM({dec.format(c='l_extendedprice')}) AS DOUBLE) / 7.0, 4) AS avg_yearly,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN a ON l_partkey = a_partkey
            WHERE p_brand = 'Brand#1'
              AND CAST(l_quantity AS DOUBLE) < 0.5 * avg_qty
        """,
        "q21_last_shippers": """
            WITH ns AS (
              SELECT l_orderkey AS o_key, COUNT(DISTINCT l_suppkey) AS n_suppliers
              FROM lineitem GROUP BY l_orderkey
            ), last AS (
              SELECT l_orderkey, l_suppkey
              FROM (
                SELECT l_orderkey, l_suppkey,
                       ROW_NUMBER() OVER (PARTITION BY l_orderkey
                         ORDER BY l_shipdate DESC, l_suppkey ASC) AS rn
                FROM lineitem
              ) WHERE rn = 1
            )
            SELECT s_suppkey, s_name, COUNT(*) AS numwait
            FROM last JOIN ns ON l_orderkey = o_key
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE n_suppliers >= 2
            GROUP BY s_suppkey, s_name
        """,
        "q8_market_share": f"""
            SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                   ROUND(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
                         THEN {dec.format(c='l_extendedprice')} * (CAST(1 AS DECIMAL(18,4)) - {dec.format(c='l_discount')})
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                     / {rev}, 6) AS mkt_share,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON n2.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY 1
        """,
        "q9_profit_by_nation": f"""
            SELECT n_name AS nation, EXTRACT(year FROM l_shipdate) AS o_year,
                   CAST(ROUND(SUM(
                     {dec.format(c='l_extendedprice')} * (CAST(1 AS DECIMAL(18,4)) - {dec.format(c='l_discount')})
                     - CAST(p_retailprice / 2 AS DECIMAL(18,4)) * {dec.format(c='l_quantity')}
                   ), 2) AS DOUBLE) AS sum_profit,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%bolt%'
            GROUP BY 1, 2
        """,
        "q10_returned_revenue": f"""
            SELECT c_custkey, c_name, n_name, ROUND({rev}, 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC LIMIT 20
        """,
        "docs_ntile": """
            SELECT lang, quartile, COUNT(*) AS n_docs,
                   MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
            FROM (
              SELECT lang, doc_id, n_chars,
                     NTILE(4) OVER (PARTITION BY lang
                       ORDER BY n_chars ASC, doc_id ASC) AS quartile
              FROM documents
            ) GROUP BY lang, quartile
        """,
        "doc_repetition": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents
            ), counts AS (
              SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok
            ), tokstats AS (
              SELECT doc_id, CAST(SUM(c) AS INT) AS n_tokens,
                     CAST(COUNT(*) AS INT) AS n_distinct,
                     MAX(c) AS max_c
              FROM counts GROUP BY doc_id
            ), gramstats AS (
              SELECT doc_id,
                     CASE WHEN len(t) < 2 THEN 0.0
                          ELSE 1.0 - len(list_distinct(
                                 list_transform(generate_series(1, len(t) - 1),
                                                i -> t[i] || ' ' || t[i + 1])))
                               / (len(t) - 1) END AS dup_raw
              FROM toks
            )
            SELECT ts.doc_id, ts.n_tokens, ts.n_distinct,
                   ROUND(max_c / greatest(n_tokens, 1), 6) AS top_tok_share,
                   ROUND(dup_raw, 6) AS dup_2gram_frac,
                   CASE WHEN ROUND(max_c / greatest(n_tokens, 1), 6) > 0.2 THEN 'repetitive'
                        WHEN ROUND(n_distinct / greatest(n_tokens, 1), 6) < 0.3 THEN 'low_diversity'
                        ELSE 'ok' END AS rep_flag
            FROM tokstats ts JOIN gramstats g ON ts.doc_id = g.doc_id
        """,
        "doc_chunks": r"""
            WITH d AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents
            ), c AS (
              SELECT doc_id, t,
                     unnest(generate_series(0,
                       greatest(CAST(ceil(len(t) / 40.0) AS INT) - 1, 0))) AS chunk_idx
              FROM d
            )
            SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                   CAST(len(list_slice(t, chunk_idx * 40 + 1, chunk_idx * 40 + 40)) AS INT) AS chunk_len,
                   md5(array_to_string(list_slice(t, chunk_idx * 40 + 1, chunk_idx * 40 + 40), ' ')) AS chunk_md5
            FROM c
        """,
        "train_val_split": """
            SELECT lang,
                   CASE WHEN b < 90 THEN 'train'
                        WHEN b < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM (
              SELECT lang, n_chars,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM documents
            ) GROUP BY 1, 2
        """,
        "stac_flagship": _flagship_oracle_sql(),
        "clicks_asof_purchase": """
            WITH clicks AS (
              SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
            ), purchases AS (
              SELECT user_id, ts AS p_ts, MAX(event_id) AS p_event_id
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT c.user_id, c.event_id,
                   p.p_event_id AS purchase_event_id,
                   epoch_us(c.ts) - epoch_us(p.p_ts) AS gap_us
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts >= p.p_ts
        """,
        "daily_activity_full_outer": """
            SELECT STRFTIME(COALESCE(o.day, e.day), '%Y-%m-%d') AS day,
                   COALESCE(n_orders, 0) AS n_orders,
                   COALESCE(n_events, 0) AS n_events
            FROM (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
                  FROM orders GROUP BY 1) o
            FULL OUTER JOIN
                 (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
                  FROM events GROUP BY 1) e
              ON o.day = e.day
        """,
        "events_grouping_sets": """
            SELECT event_type, seg, COUNT(*) AS n,
                   GROUPING(event_type) * 2 + GROUPING(seg) AS gid
            FROM (SELECT event_type, user_id % 3 AS seg FROM events)
            GROUP BY GROUPING SETS ((event_type, seg), (event_type), ())
        """,
        "quality_zscore": """
            SELECT doc_id, lang,
                   CASE WHEN s IS NULL OR s = 0 THEN NULL
                        ELSE ROUND((n_chars - m) / s, 6) END AS zscore
            FROM (
              SELECT doc_id, lang, n_chars,
                     AVG(n_chars) OVER (PARTITION BY lang) AS m,
                     STDDEV(n_chars) OVER (PARTITION BY lang) AS s
              FROM documents
            )
        """,
        "neardup_components": """
            WITH RECURSIVE sh AS MATERIALIZED (
              SELECT doc_id,
                     list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                                    for i in range(1, greatest(length(toks)-2, 1)+1)]) AS s
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
            ), p AS MATERIALIZED (
              SELECT a.doc_id AS a, b.doc_id AS b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE length(list_intersect(a.s, b.s))::DOUBLE
                      / length(list_distinct(list_concat(a.s, b.s))) >= 0.7
            ), e AS MATERIALIZED (
              SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p
            ), reach(node, r) AS (
              SELECT a AS node, a AS r FROM e
              UNION
              SELECT e.a AS node, reach.r
              FROM e JOIN reach ON e.b = reach.node
            )
            SELECT node AS doc_id, MIN(r) AS component
            FROM reach GROUP BY node
        """,
        "embed_quantize": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), s AS (
              SELECT vec_id, v,
                     127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
              FROM e
            )
            SELECT vec_id,
                   ROUND(scale, 6) AS scale,
                   ROUND(list_max(list_transform(v, x -> abs(x - round(x * scale) / scale))), 6) AS max_recon_err,
                   ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2_norm
            FROM s
        """,
        "events_trailing_1h": """
            SELECT user_id, event_id,
                   COUNT(*) OVER w AS n_trailing_1h,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE), 4) AS sum_trailing_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        "funnel_counts": """
            WITH v AS (
              SELECT user_id, MIN(ts) AS t_view FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), c AS (
              SELECT e.user_id, MIN(e.ts) AS t_click, MIN(v.t_view) AS t_view
              FROM events e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t_view
              GROUP BY e.user_id
            ), b AS (
              SELECT e.user_id, MIN(e.ts) AS t_buy, MIN(c.t_view) AS t_view
              FROM events e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t_click
              GROUP BY e.user_id
            )
            SELECT COUNT(*) AS n_viewed,
                   CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
                   CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased,
                   ROUND(AVG((epoch_us(b.t_buy) - epoch_us(b.t_view)) / 1000000.0), 3) AS avg_funnel_secs
            FROM v LEFT JOIN c ON v.user_id = c.user_id
            LEFT JOIN b ON v.user_id = b.user_id
        """,
        "q6_forecast_revenue": f"""
            SELECT ROUND(CAST(SUM({dec.format(c='l_extendedprice')} * {dec.format(c='l_discount')}) AS DOUBLE), 2) AS revenue,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
              AND l_discount BETWEEN 0.02 AND 0.04
              AND l_quantity < 24
        """,
        "training_prep": r"""
            WITH toks AS (
              SELECT doc_id, lang, text, string_split_regex(trim(text), '\s+') AS t
              FROM documents
            ), counts AS (
              SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok
            ), tokstats AS (
              SELECT doc_id, CAST(SUM(c) AS INT) AS n_tokens,
                     CAST(COUNT(*) AS INT) AS n_distinct, MAX(c) AS max_c
              FROM counts GROUP BY doc_id
            ), flagged AS (
              SELECT k.doc_id, k.lang, k.text, ts.n_tokens,
                     CASE WHEN ROUND(max_c / greatest(n_tokens, 1), 6) > 0.2 THEN 'repetitive'
                          WHEN ROUND(n_distinct / greatest(n_tokens, 1), 6) < 0.3 THEN 'low_diversity'
                          ELSE 'ok' END AS rep_flag
              FROM toks k JOIN tokstats ts ON k.doc_id = ts.doc_id
            ), ok AS (
              SELECT * FROM flagged WHERE rep_flag = 'ok'
            ), canon AS (
              SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM ok
              ) WHERE rn = 1
            )
            SELECT lang,
                   CASE WHEN b < 90 THEN 'train'
                        WHEN b < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM (
              SELECT lang, n_tokens,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM canon
            ) GROUP BY 1, 2
        """,
    }


if __name__ == "__main__":
    from stac_populator_spark.session import get_spark

    spark = get_spark()
    df = entry(spark)
    print("entry rows:", df.count())
    df.show(5, truncate=80)
