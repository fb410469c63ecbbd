"""Physical-plan assertions: predicate pushdown reaches the parquet scan,
column pruning narrows ReadSchema, the PIP join broadcasts (never
sort-merge), aggregations combine map-side. These pin the scale-critical
plan properties — a regression here is a 100× cost at 100 TB even if
results stay correct."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def python_nodes(df) -> int:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()  # simple mode: each physical node printed once
    return buf.getvalue().count("ArrowEvalPython")


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from stac_populator_spark.datagen import pages_df

    p = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    pages_df(spark, 500, partitions=2).write.parquet(p)
    return p


def test_filter_pushdown_and_pruning(spark, pages_path):
    df = spark.read.parquet(pages_path).filter(F.col("lang") == "en").select("url", "lang")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # ReadSchema must not include the heavy html/text columns
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in rs and "text" not in rs


def test_pip_join_is_broadcast(spark, pages_path):
    from stac_populator_spark.datagen import footprints_pdf
    from stac_populator_spark.operators.cells import encode_cells
    from stac_populator_spark.operators.extract import extract_items
    from stac_populator_spark.operators.spatial_join import footprint_cover_df, pip_join

    pages = spark.read.parquet(pages_path)
    items = encode_cells(extract_items(pages)).filter(F.col("lon").isNotNull())
    cover = footprint_cover_df(spark, footprints_pdf())
    plan = plan_of(pip_join(items, cover))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # and the fact side must not exchange (no shuffle of items; the only
    # exchange is the broadcast of the tiny cover table)
    assert " Exchange (" not in plan


def test_tile_assign_broadcast_no_shuffle(spark):
    from stac_populator_spark.datagen import footprints_pdf, tiles_pdf
    from stac_populator_spark.operators.spatial_join import footprint_cover_df
    from stac_populator_spark.operators.tiles import assign_tiles_to_footprints

    tiles = spark.createDataFrame(tiles_pdf(z=4))
    cover = footprint_cover_df(spark, footprints_pdf()).select(
        "collection_id", "f_lon_min", "f_lat_min", "f_lon_max", "f_lat_max"
    ).distinct()
    plan = plan_of(assign_tiles_to_footprints(tiles, cover))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_collection_agg_partial_aggregation(spark, pages_path):
    from stac_populator_spark.datagen import footprints_pdf
    from stac_populator_spark.operators.collection_agg import collection_extent
    from stac_populator_spark.plans.pipeline import build_items
    from stac_populator_spark.operators.spatial_join import footprint_cover_df

    pages = spark.read.parquet(pages_path)
    cover = footprint_cover_df(spark, footprints_pdf())
    plan = plan_of(collection_extent(build_items(pages, cover)))
    # map-side partial agg then final: two HashAggregate nodes around one
    # exchange — the only wide dependency in the whole pipeline
    assert plan.count("HashAggregate") >= 2
    assert plan.count(" Exchange (") == 1


def test_minhash_signatures_zero_exchange(spark):
    # signatures are pure higher-order array expressions in one codegen
    # projection: no explode, no groupBy, no exchange at all
    import pandas as pd

    from stac_populator_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d", "b c d e"]}))
    plan = plan_of(minhash_signatures(docs))
    assert " Exchange (" not in plan
    assert "Generate" not in plan  # no explode


def test_pip_join_left_stays_broadcast_no_fact_shuffle(spark, pages_path):
    # the corpus-complete path: LeftOuter broadcast join with the refine
    # folded into the join condition — still zero fact-side exchange (only
    # the broadcast of the cover table), for box and general rings alike
    import pandas as pd

    from stac_populator_spark.datagen import footprints_pdf
    from stac_populator_spark.operators.cells import encode_cells, grid_cell_col
    from stac_populator_spark.operators.extract import extract_items
    from stac_populator_spark.operators.spatial_join import footprint_cover_df, pip_join

    pages = spark.read.parquet(pages_path)
    items = encode_cells(extract_items(pages))
    cover = footprint_cover_df(spark, footprints_pdf())
    plan = plan_of(pip_join(items, cover, how="left"))
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan
    assert "SortMergeJoin" not in plan
    assert " Exchange (" not in plan
    # a general ring: the ray cast sits in the same join's condition, and
    # nothing crosses into Python for it
    triangle = pd.DataFrame({
        "collection_id": ["tri"],
        "bbox": [[0.0, 0.0, 10.0, 10.0]],
        "ring": [[[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [0.0, 0.0]]],
    })
    ring_cover = footprint_cover_df(spark, triangle)
    points = extract_items(pages).withColumn("cell_grid", grid_cell_col("lon", "lat"))
    plan = plan_of(pip_join(points, ring_cover, how="left"))
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 1
    assert "Join type: LeftOuter" in plan
    assert "aggregate(edges" in plan
    assert " Exchange (" not in plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan


def test_box_cover_join_stays_in_whole_stage_codegen(spark, pages_path):
    # every datagen footprint is a box, so the cover carries no edges and
    # the join condition is the bbox test alone: the executed plan keeps
    # the BroadcastHashJoin inside a *(n) codegen stage (the ray cast's
    # aggregate would push it out of codegen)
    from stac_populator_spark.datagen import footprints_pdf
    from stac_populator_spark.operators.spatial_join import footprint_cover_df
    from stac_populator_spark.plans.pipeline import build_items

    cover = footprint_cover_df(spark, footprints_pdf())
    items = build_items(spark.read.parquet(pages_path), cover)
    items.collect()
    aqe = items._jdf.queryExecution().executedPlan()
    assert aqe.isFinalPlan()
    plan = aqe.executedPlan().toString()
    joins = re.findall(r"(\*\(\d+\) )?BroadcastHashJoin", plan)
    assert joins and all(codegen for codegen in joins), plan


def test_lsh_bucket_cap_plan_bounded(spark):
    # r4 shape: the hot-bucket cap is a slice inside ONE bucket-grain
    # groupBy (collect_list + member×rep expansion) — no window sort, no
    # bucket self-join, no CartesianProduct; exchanges are exactly the
    # bucket groupBy + the final distinct
    import pandas as pd

    from stac_populator_spark.operators.dedup import minhash_candidates, minhash_signatures

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "text": [f"a b c d e f g h {i}" for i in range(20)]})
    )
    plan = plan_of(minhash_candidates(minhash_signatures(docs)))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange") <= 4  # groupBy + distinct (AQE may double-list)


def test_repetition_stats_zero_exchange(spark, pages_path):
    # the repetition quality filter must pipeline with the scan: all
    # signals come from array expressions in ONE narrow projection —
    # any Exchange here would mean a wordcount-style shuffle snuck in
    import pandas as pd

    from stac_populator_spark.operators.textstats import with_repetition_stats

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(10), "text": [f"w{i} x y z w{i}" for i in range(10)]})
    )
    plan = plan_of(
        with_repetition_stats(docs).select("doc_id", "top_tok_share", "dup_2gram_frac")
    )
    assert " Exchange (" not in plan
    assert "CartesianProduct" not in plan


def test_exists_shape_is_semi_join(spark):
    # the Q4 correlated-EXISTS shape must compile to one LEFT SEMI join
    # (no fact duplication, no subquery re-scan per row)
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    df = E.queries()["q4_order_priority"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_stac_collections_fact_side_shuffle_free(spark):
    # VERDICT r2 ask #1: stac_collections must not re-join the corpus on
    # doc_id. The fact side (documents scan → derived point cols → broadcast
    # PIP join → item cols) carries lang/source through with ZERO exchanges;
    # the only shuffles in the full query are collection-grain
    # (hashpartitioning on collection_id), never doc-grain.
    import contextlib
    import io
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    items = E._stac_collections_items(spark, "/root/testdata/sf0.001")
    pre = plan_of(items)
    assert "BroadcastHashJoin" in pre
    assert "SortMergeJoin" not in pre
    assert " Exchange (" not in pre

    full = E.queries()["stac_collections"](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        full.explain()  # simple mode: Exchange lines show their keys inline
    simple = buf.getvalue()
    assert "hashpartitioning(doc_id" not in simple
    assert "SortMergeJoin" not in simple
    # extent + summaries + JSON from ONE aggregation pass: a single scan of
    # documents, a single shuffle (collection-grain), zero post-agg joins
    assert simple.count("FileScan parquet") == 1
    assert simple.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(collection_id" in simple


def test_session_scale_configs_pinned(spark):
    # these defaults ARE the scale story (AQE re-planning, Arrow batching,
    # forced-broadcast headroom, bounded scan partitions) — a session
    # refactor that drops one should fail a test, not a production run
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    # 10 MB (the Spark default) — NOT higher: scan size estimates are
    # discounted by column pruning, so a generous ceiling makes pruned
    # FACT scans broadcast-eligible (observed: the 6M-row lineitem built
    # as a driver hash relation under the former 64 MB pin). Explicit
    # F.broadcast() dim sides ignore the threshold entirely.
    assert int(conf.get("spark.sql.autoBroadcastJoinThreshold")) == 10 * 1024 * 1024
    assert conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert int(conf.get("spark.sql.files.maxPartitionBytes")) <= 256 * 1024 * 1024
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_pii_redact_is_pure_projection(spark):
    # the scrub stage must pipeline with the scan: regexp chain in one
    # narrow projection, zero exchanges
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    plan = plan_of(E.queries()["pii_redact"](spark, "/root/testdata/sf0.001"))
    assert " Exchange (" not in plan
    assert "BatchEvalPython" not in plan  # no row-Python anywhere


def test_domain_budget_single_window_exchange(spark):
    # per-domain cap: exactly one exchange (the window's domain-grain
    # hashpartitioning), nothing else
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    plan = plan_of(E.queries()["domain_budget"](spark, "/root/testdata/sf0.001"))
    assert plan.count(" Exchange (") == 1
    assert "Window" in plan


def test_point_grid_cell_stays_in_the_jvm(spark):
    # the point→grid formula is a JVM expression (cells.grid_cell_col) and
    # the nation footprints are boxes, refined with the JVM bbox test in
    # the join condition: none of these queries crosses into Python
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    assert python_nodes(E._doc_points_tiles(spark, sf)) == 0
    assert python_nodes(E._pip_points(spark, sf)) == 0
    assert python_nodes(E._stac_collections_items(spark, sf)) == 0


def test_knn_exact_brute_path_stays_in_the_jvm(spark):
    # a few dozen points: n² is far below brute_budget, so knn_join_exact
    # skips the ring and polar passes and ranks the broadcast brute
    # remnant alone, as the entry query knn_exact_docs does at small
    # scale; the distance is a JVM expression, so nothing crosses into
    # Python
    import numpy as np
    import pandas as pd

    from stac_populator_spark.operators.knn import knn_join_exact

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(pd.DataFrame({
        "id": range(40), "lon": rng.uniform(-180, 180, 40), "lat": rng.uniform(-85, 85, 40),
    }))
    out = knn_join_exact(pts, k=3, res=None)
    plan = plan_of(out)
    assert "Generate" not in plan  # no k-ring explode: the brute path alone
    assert "Window" in plan
    assert python_nodes(out) == 0


def test_similarity_plans_cross_into_python_only_by_kernel(spark, tmp_path):
    # the partitioned top-k paths and the encode paths run the mapInArrow
    # kernels; no per-row pandas UDF is left in their plans
    import numpy as np
    import pandas as pd

    from stac_populator_spark.operators import similarity as S

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(64),
        "embedding": [r.tolist() for r in rng.standard_normal((64, 16))],
    }))
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = S.pq_train(corpus, dim=16, m=4, ksub=8)
    cents = S.ivf_train(corpus, k_centroids=4, sample_n=64)
    ivf_path, ivfpq_path = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    S.ivf_write_partitioned(corpus, ivf_path, dim=16, k_centroids=4)
    S.ivfpq_write_partitioned(corpus, ivfpq_path, books, cents)

    frames = {
        "ivf_topk_partitioned": S.ivf_topk_partitioned(
            spark, ivf_path, queries, n_probe=2, dim=16, k_centroids=4),
        "ivfpq_topk_partitioned": S.ivfpq_topk_partitioned(
            spark, ivfpq_path, queries, books, cents, n_probe=2, shortlist=20),
        "ivf_assign": S.ivf_assign(corpus, dim=16, k_centroids=4),
        "pq_encode": S.pq_encode(corpus, books),
        "ivfpq_write_partitioned": S._ivfpq_layout(corpus, books, cents, "vec_id", "embedding"),
    }
    for name, df in frames.items():
        plan = plan_of(df)
        assert "ArrowEvalPython" not in plan, name
        assert "MapInArrow" in plan, name
