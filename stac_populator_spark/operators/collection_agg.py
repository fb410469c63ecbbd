"""Collection extent/summaries aggregation (A1–A4 in SURVEY.md §2.5).

The reference folds items one at a time into a collection dict
(/root/reference/STACpopulator/collection_update.py:43-139); here the same
semantics are one ``groupBy(collection_id)`` over the items table:

- **bbox union** (A1, collection_update.py:43-68): elementwise min over
  (lon_min, lat_min, z_min), max over (lon_max, lat_max, z_max); items
  without bbox are ignored; mixed 4/6-dim reconciliation = null-safe z
  (z bounds aggregate over the items that have them).
- **temporal interval** (A2, collection_update.py:71-85): item interval is
  [datetime, datetime] when ``datetime`` is set else
  [start_datetime, end_datetime]; a null bound is *sticky open* — if any
  item's bound is null the collection bound is null. (The reference's
  fold-order behavior depends on which item seeds the interval; we define
  the order-free semantics — any-null ⇒ open — and document the
  divergence, per SURVEY.md §2.5 A3 note.)
- **summaries** (A3, collection_update.py:88-139): per property —
  bool/plain string → sorted distinct list; numeric / ISO-datetime string →
  {minimum, maximum}; ``datetime/start_datetime/end_datetime`` + user
  excludes dropped. Type is decided per property over the whole group
  (the reference's "append numeric to an existing list" fold-order artifact
  is deliberately not replicated; divergence documented in SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXCLUDE_ALWAYS = ("datetime", "start_datetime", "end_datetime")


def collected_items(items: DataFrame, collection_col: str = "collection_id") -> DataFrame:
    """The items that belong to a collection. Geometry-less and
    footprint-unmatched items pass through ``run`` with a null collection
    id; they stay out of every collection aggregate."""
    return items.filter(F.col(collection_col).isNotNull())


def collection_extent(items: DataFrame, collection_col: str = "collection_id") -> DataFrame:
    """groupBy collection → spatial bbox union + sticky-open temporal
    interval. Input columns: lon_min/lat_min/lon_max/lat_max (nullable),
    optional z_min/z_max, datetime/start_datetime/end_datetime."""
    cols = set(items.columns)
    z_min = F.col("z_min") if "z_min" in cols else F.lit(None).cast("double")
    z_max = F.col("z_max") if "z_max" in cols else F.lit(None).cast("double")
    start = F.coalesce(
        F.col("datetime"),
        F.col("start_datetime") if "start_datetime" in cols else F.lit(None).cast("timestamp"),
    )
    end = F.coalesce(
        F.col("datetime"),
        F.col("end_datetime") if "end_datetime" in cols else F.lit(None).cast("timestamp"),
    )
    agg = items.groupBy(F.col(collection_col).alias("collection_id")).agg(
        F.min("lon_min").alias("lon_min"),
        F.min("lat_min").alias("lat_min"),
        F.max("lon_max").alias("lon_max"),
        F.max("lat_max").alias("lat_max"),
        F.min(z_min).alias("z_min"),
        F.max(z_max).alias("z_max"),
        F.min(start).alias("_start_min"),
        F.max(end).alias("_end_max"),
        # sticky-open bounds: any item with a null bound opens the interval
        F.max(start.isNull().cast("int")).alias("_start_open"),
        F.max(end.isNull().cast("int")).alias("_end_open"),
        F.count(F.lit(1)).alias("item_count"),
    )
    return agg.select(
        "collection_id",
        F.when(
            F.col("z_min").isNotNull(),
            F.array("lon_min", "lat_min", "z_min", "lon_max", "lat_max", "z_max"),
        )
        .otherwise(F.array("lon_min", "lat_min", "lon_max", "lat_max"))
        .alias("bbox"),
        F.when(F.col("_start_open") == 1, F.lit(None).cast("timestamp"))
        .otherwise(F.col("_start_min"))
        .alias("interval_start"),
        F.when(F.col("_end_open") == 1, F.lit(None).cast("timestamp"))
        .otherwise(F.col("_end_max"))
        .alias("interval_end"),
        "item_count",
    )


_ISO_RE = r"^\d{4}-\d{2}-\d{2}([T ].*)?$"
_NUM_RE = r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$"


def extent_summaries_agg(
    items: DataFrame,
    prop_keys: list[str] | tuple,
    collection_col: str = "collection_id",
    props_col: str = "props",
    exclude: tuple = (),
) -> tuple[DataFrame, list[str]]:
    """The shared single-groupBy aggregate behind
    ``collection_extent_summaries`` / ``stac_collection_json_onepass``:
    extent partials (A1+A2) and per-property summary partials (A3) as agg
    expressions of ONE HashAggregate, for a statically-known property-key
    list (the reference's summaries are likewise config-enumerated,
    collection_update.py:88-139 driven by the collection YAML).

    Map-side partials do all the work; the exchange carries one row per
    (collection, partial). Returns ``(agg_df, keys)`` where ``agg_df`` has
    the raw extent columns plus ``_s{i}_*`` summary stat columns per key.
    """
    excl = set(exclude) | set(EXCLUDE_ALWAYS)
    keys = [k for k in prop_keys if k not in excl]
    cols = set(items.columns)
    z_min = F.col("z_min") if "z_min" in cols else F.lit(None).cast("double")
    z_max = F.col("z_max") if "z_max" in cols else F.lit(None).cast("double")
    start = F.coalesce(
        F.col("datetime"),
        F.col("start_datetime") if "start_datetime" in cols else F.lit(None).cast("timestamp"),
    )
    end = F.coalesce(
        F.col("datetime"),
        F.col("end_datetime") if "end_datetime" in cols else F.lit(None).cast("timestamp"),
    )
    aggs = [
        F.min("lon_min").alias("lon_min"),
        F.min("lat_min").alias("lat_min"),
        F.max("lon_max").alias("lon_max"),
        F.max("lat_max").alias("lat_max"),
        F.min(z_min).alias("z_min"),
        F.max(z_max).alias("z_max"),
        F.min(start).alias("_start_min"),
        F.max(end).alias("_end_max"),
        F.max(start.isNull().cast("int")).alias("_start_open"),
        F.max(end.isNull().cast("int")).alias("_end_open"),
        F.count(F.lit(1)).alias("item_count"),
    ]
    for i, k in enumerate(keys):
        v = F.col(props_col).getItem(k)
        num = F.when(v.rlike(_NUM_RE), v).cast("double")
        aggs += [
            F.min(F.when(v.isNotNull(), v.rlike(_NUM_RE).cast("int"))).alias(f"_s{i}_num"),
            F.min(F.when(v.isNotNull(), v.rlike(_ISO_RE).cast("int"))).alias(f"_s{i}_iso"),
            F.array_sort(F.collect_set(v)).alias(f"_s{i}_vals"),
            F.min(num).alias(f"_s{i}_nmin"),
            F.max(num).alias(f"_s{i}_nmax"),
            F.min(v).alias(f"_s{i}_smin"),
            F.max(v).alias(f"_s{i}_smax"),
        ]
    return items.groupBy(F.col(collection_col).alias("collection_id")).agg(*aggs), keys


def extent_select(agg: DataFrame, keep_stats: bool = False) -> DataFrame:
    """Project an ``extent_summaries_agg`` result down to the
    ``collection_extent`` output schema (``keep_stats=True`` keeps the
    ``_s{i}_*`` summary stat columns alongside, for one-pass JSON
    assembly)."""
    bbox = (
        F.when(
            F.col("z_min").isNotNull(),
            F.array("lon_min", "lat_min", "z_min", "lon_max", "lat_max", "z_max"),
        )
        .otherwise(F.array("lon_min", "lat_min", "lon_max", "lat_max"))
        .alias("bbox")
    )
    istart = (
        F.when(F.col("_start_open") == 1, F.lit(None).cast("timestamp"))
        .otherwise(F.col("_start_min"))
        .alias("interval_start")
    )
    iend = (
        F.when(F.col("_end_open") == 1, F.lit(None).cast("timestamp"))
        .otherwise(F.col("_end_max"))
        .alias("interval_end")
    )
    import re

    stats = [c for c in agg.columns if re.match(r"_s\d+_", c)] if keep_stats else []
    return agg.select("collection_id", bbox, istart, iend, "item_count", *stats)


def collection_extent_summaries(
    items: DataFrame,
    prop_keys: list[str] | tuple,
    collection_col: str = "collection_id",
    props_col: str = "props",
    exclude: tuple = (),
) -> tuple[DataFrame, DataFrame]:
    """A1+A2+A3 in ONE groupBy (see ``extent_summaries_agg``): returns
    ``(extents, summaries)`` with schemas identical to
    ``collection_extent`` and ``collection_summaries``; summaries rows are
    exploded from the per-collection aggregate, i.e. from O(#collections)
    rows, not O(#items)."""
    agg, keys = extent_summaries_agg(items, prop_keys, collection_col, props_col, exclude)
    extents = extent_select(agg)

    per_key = F.array(
        *[
            F.struct(
                F.lit(k).alias("prop"),
                F.col(f"_s{i}_num").alias("all_num"),
                F.col(f"_s{i}_iso").alias("all_iso"),
                F.col(f"_s{i}_vals").alias("vals"),
                F.col(f"_s{i}_nmin").alias("nmin"),
                F.col(f"_s{i}_nmax").alias("nmax"),
                F.col(f"_s{i}_smin").alias("smin"),
                F.col(f"_s{i}_smax").alias("smax"),
            )
            for i, k in enumerate(keys)
        ]
    )
    s = agg.select("collection_id", F.explode(per_key).alias("s")).filter(
        F.size("s.vals") > 0
    )
    summaries = s.select(
        "collection_id",
        F.col("s.prop").alias("prop"),
        F.when((F.col("s.all_num") == 1) | (F.col("s.all_iso") == 1), F.lit("minmax"))
        .otherwise(F.lit("list"))
        .alias("kind"),
        F.when((F.col("s.all_num") == 0) & (F.col("s.all_iso") == 0), F.col("s.vals")).alias(
            "values"
        ),
        F.when(F.col("s.all_num") == 1, F.col("s.nmin").cast("string"))
        .when(F.col("s.all_iso") == 1, F.col("s.smin"))
        .alias("minimum"),
        F.when(F.col("s.all_num") == 1, F.col("s.nmax").cast("string"))
        .when(F.col("s.all_iso") == 1, F.col("s.smax"))
        .alias("maximum"),
    )
    return extents, summaries


def collection_summaries(
    items: DataFrame,
    collection_col: str = "collection_id",
    props_col: str = "props",
    exclude: tuple = (),
) -> DataFrame:
    """Typed per-property summaries over a MAP<STRING,STRING> props column.

    Output rows: (collection_id, prop, kind, values, minimum, maximum) where
    kind ∈ {'list','minmax'}: list → sorted distinct values; minmax → string
    min/max (numeric compare for numerics, ISO-lexicographic for datetimes,
    matching the reference's string comparisons collection_update.py:124-127).
    """
    excl = tuple(exclude) + EXCLUDE_ALWAYS
    kv = items.select(
        F.col(collection_col).alias("collection_id"),
        F.explode(F.col(props_col)).alias("prop", "value"),
    ).filter(~F.col("prop").isin(*excl) & F.col("value").isNotNull())

    typed = kv.withColumn(
        "is_num", F.col("value").rlike(_NUM_RE)
    ).withColumn("is_iso", F.col("value").rlike(_ISO_RE))

    agg = typed.groupBy("collection_id", "prop").agg(
        F.min(F.col("is_num").cast("int")).alias("all_num"),
        F.min(F.col("is_iso").cast("int")).alias("all_iso"),
        F.array_sort(F.collect_set("value")).alias("values"),
        F.min(F.expr("try_cast(value AS double)")).alias("_num_min"),
        F.max(F.expr("try_cast(value AS double)")).alias("_num_max"),
        F.min("value").alias("_str_min"),
        F.max("value").alias("_str_max"),
    )
    return agg.select(
        "collection_id",
        "prop",
        F.when((F.col("all_num") == 1) | (F.col("all_iso") == 1), F.lit("minmax"))
        .otherwise(F.lit("list"))
        .alias("kind"),
        F.when((F.col("all_num") == 0) & (F.col("all_iso") == 0), F.col("values")).alias("values"),
        F.when(F.col("all_num") == 1, F.col("_num_min").cast("string"))
        .when(F.col("all_iso") == 1, F.col("_str_min"))
        .alias("minimum"),
        F.when(F.col("all_num") == 1, F.col("_num_max").cast("string"))
        .when(F.col("all_iso") == 1, F.col("_str_max"))
        .alias("maximum"),
    )


def update_collections(
    items: DataFrame,
    mode: str = "all",
    collection_col: str = "collection_id",
    props_col: str = "props",
    exclude_summaries: tuple = (),
) -> dict:
    """A4 dispatcher (collection_update.py:142-167): mode ∈ {extents,
    summaries, all, none} → dict of the requested aggregate DataFrames,
    over the :func:`collected_items` only."""
    if mode not in ("extents", "summaries", "all", "none"):
        raise ValueError(f"invalid mode {mode!r}")
    items = collected_items(items, collection_col)
    out: dict = {}
    if mode in ("extents", "all"):
        out["extents"] = collection_extent(items, collection_col)
    if mode in ("summaries", "all") and props_col in items.columns:
        out["summaries"] = collection_summaries(
            items, collection_col, props_col, exclude_summaries
        )
    return out


def merge_with_initial(initial: dict, agg_row) -> dict:
    """Fold the groupBy result into an existing collection dict using the
    reference's exact update rules (collection_update.py:43-85):

    - bbox: elementwise min/max vs the existing collection bbox (seeded
      from the first item when the collection has none);
    - interval: an existing **None bound is sticky** — it is never
      tightened (`if collection_interval[0] is not None and ...`).

    ``initial`` = {"bbox": [...] | None, "interval": [start|None, end|None]}
    (ISO strings, compared lexicographically exactly like the reference's
    string comparisons). ``agg_row`` = a Row from collection_extent.
    """
    agg_bbox = list(agg_row["bbox"]) if agg_row["bbox"] is not None else None
    if agg_bbox is not None and any(v is None for v in agg_bbox):
        # an all-geometry-less collection aggregates to [null,null,...] —
        # truthy as a list, but min(float, None) would TypeError below
        agg_bbox = None
    out_bbox = list(initial.get("bbox") or [])
    if not out_bbox:
        out_bbox = agg_bbox or []
    elif agg_bbox:
        half = len(agg_bbox) // 2
        for i in range(half):
            out_bbox[i] = min(out_bbox[i], agg_bbox[i])
        for i in range(half, len(agg_bbox)):
            out_bbox[i] = max(out_bbox[i], agg_bbox[i])

    def iso(ts):
        return ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts is not None else None

    a_start, a_end = iso(agg_row["interval_start"]), iso(agg_row["interval_end"])
    init_int = initial.get("interval") or [None, None]
    if initial.get("interval") is None:
        out_int = [a_start, a_end]
    else:
        out_int = list(init_int)
        if out_int[0] is not None and a_start is not None and a_start < out_int[0]:
            out_int[0] = a_start
        if out_int[1] is not None and a_end is not None and a_end > out_int[1]:
            out_int[1] = a_end
    return {"bbox": out_bbox, "interval": out_int}


def wgs84_violations(items: DataFrame) -> DataFrame:
    """Rows whose bbox leaves WGS84 ranges — the metrics/warning path of
    check_wgs84_compliance (collection_update.py:18-40)."""
    bad = (
        (F.col("lon_min") < -180) | (F.col("lon_min") > 180)
        | (F.col("lon_max") < -180) | (F.col("lon_max") > 180)
        | (F.col("lat_min") < -90) | (F.col("lat_min") > 90)
        | (F.col("lat_max") < -90) | (F.col("lat_max") > 90)
    )
    return items.filter(bad)
