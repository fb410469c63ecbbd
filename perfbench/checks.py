"""Output checks made apart from the engine, run outside the timed window.

Every check returns a list of failure messages; an empty list means the
output passed. The reference computations are DuckDB SQL or numpy over the
generator's planted values, never a stored copy of an earlier output.
"""

from __future__ import annotations

import importlib.util
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

TILE_Z = 7


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def _rows(con, sql: str) -> int:
    return con.execute(sql).fetchone()[0]


def _diff(con, left: str, right: str, what: str) -> list[str]:
    """Multiset difference of two SELECTs with the same columns."""
    extra = _rows(con, f"SELECT count(*) FROM (({left}) EXCEPT ALL ({right}))")
    missing = _rows(con, f"SELECT count(*) FROM (({right}) EXCEPT ALL ({left}))")
    if extra or missing:
        return [f"{what}: {extra} unexpected, {missing} missing"]
    return []


# ---------------------------------------------------------------------------
# populate
# ---------------------------------------------------------------------------

def footprint_parts(footprints: pd.DataFrame) -> pd.DataFrame:
    """Footprint bboxes as non-wrapping parts: a footprint whose lon_min
    exceeds its lon_max crosses the antimeridian and splits at +-180."""
    rows = []
    for cid, bbox in zip(footprints["collection_id"], footprints["bbox"]):
        lon_min, lat_min, lon_max, lat_max = (float(v) for v in bbox)
        spans = [(lon_min, 180.0), (-180.0, lon_max)] if lon_min > lon_max else [(lon_min, lon_max)]
        for a, b in spans:
            rows.append((cid, a, lat_min, b, lat_max))
    return pd.DataFrame(rows, columns=["collection_id", "p_lon_min", "p_lat_min", "p_lon_max", "p_lat_max"])


def _cell_encoder_sql() -> str:
    """The S2 level-12 and hex res-7 encoders in DuckDB SQL, cut out of
    ``__spark_entry__._flagship_oracle_sql`` and pointed at a ``base``
    relation of (doc_id, lon, lat, has_geo)."""
    import __spark_entry__ as entry

    sql = entry._flagship_oracle_sql()
    start = sql.index("s2xyz AS (")
    end = sql.index("joined AS (")
    ctes = sql[start:end].rstrip().rstrip(",")
    return (
        "WITH RECURSIVE base AS (SELECT doc_id, lon, lat, TRUE AS has_geo FROM cell_sample), "
        + ctes
        + " SELECT s2cell.doc_id, s2cell.cell_s2, hcell.cell_hex"
        " FROM s2cell JOIN hcell ON s2cell.doc_id = hcell.doc_id"
    )


def check_catalog(con, out_dir: str, truth: pd.DataFrame, parts: pd.DataFrame,
                  seed: int, cell_sample: int = 200) -> list[str]:
    """Check one ``run`` output directory against the planted truth."""
    fails: list[str] = []
    con.register("truth_df", truth)
    con.register("parts", parts)
    con.execute(f"CREATE OR REPLACE TEMP VIEW items AS SELECT * FROM read_parquet('{out_dir}/items/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW errors AS SELECT * FROM read_parquet('{out_dir}/errors/*.parquet')")
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW collections AS "
        f"SELECT * FROM read_parquet('{out_dir}/collections/*.parquet')"
    )
    # the representative point of each planted page: the bbox centre, with
    # the antimeridian-wrapping span (lon > lon2) taken the long way round
    con.execute(
        """
        CREATE OR REPLACE TEMP VIEW truth AS
        SELECT url,
               replace(regexp_replace(url, '^https?://', ''), '/', '__') AS id,
               has_geo, reason,
               CASE WHEN NOT has_geo THEN NULL
                    WHEN lon + (CASE WHEN lon > lon2 THEN lon2 - lon + 360.0 ELSE lon2 - lon END) / 2.0 >= 180.0
                    THEN lon + (CASE WHEN lon > lon2 THEN lon2 - lon + 360.0 ELSE lon2 - lon END) / 2.0 - 360.0
                    ELSE lon + (CASE WHEN lon > lon2 THEN lon2 - lon + 360.0 ELSE lon2 - lon END) / 2.0
               END AS rep_lon,
               CASE WHEN has_geo THEN (lat + lat2) / 2.0 END AS rep_lat
        FROM truth_df
        """
    )

    # 1. every input url is in items or errors, once per page, nothing else
    fails += _diff(
        con,
        "SELECT DISTINCT url FROM items UNION ALL SELECT DISTINCT url FROM errors",
        "SELECT url FROM truth",
        "urls in items+errors vs input",
    )
    # the closed-rectangle PIP of the representative points over the split
    # footprint parts; a point in no footprint keeps one row, with a null
    # collection
    pip = """SELECT t.url, t.id, t.reason, p.collection_id FROM truth t LEFT JOIN parts p
               ON t.has_geo AND t.rep_lon BETWEEN p.p_lon_min AND p.p_lon_max
                  AND t.rep_lat BETWEEN p.p_lat_min AND p.p_lat_max"""
    # 2. planted invalid pages, and only those, are dead-lettered with
    #    their planted reason, as an exact multiset. Validation runs after
    #    the footprint join, so today a page whose longitude is wrapped
    #    into range gets one row per footprint the wrapped point falls in:
    #    that shape is pinned. One row per page, the shape a fix of that
    #    would give, passes too; any other count fails.
    per_footprint = _diff(
        con,
        "SELECT url, failure_reason, collection_id FROM errors",
        f"SELECT url, reason, collection_id FROM ({pip}) WHERE reason IS NOT NULL",
        "errors (url, failure_reason, collection_id) vs planted reasons x PIP",
    )
    if per_footprint:
        per_page = _diff(
            con,
            "SELECT url, failure_reason FROM errors",
            "SELECT url, reason FROM truth WHERE reason IS NOT NULL",
            "errors (url, failure_reason) vs one row per planted page",
        )
        if per_page:
            fails += per_footprint + per_page
    # 3. (id, collection_id) multiset of items == the PIP of the valid pages
    fails += _diff(
        con,
        "SELECT id, collection_id FROM items",
        f"SELECT id, collection_id FROM ({pip}) WHERE reason IS NULL",
        "items (id, collection_id) vs PIP",
    )
    # 4. tile_id == z=7 equirectangular arithmetic of the planted point
    n = 1 << TILE_Z
    bad = _rows(
        con,
        f"""SELECT count(*) FROM items i JOIN truth t ON i.url = t.url
            WHERE i.tile_id IS DISTINCT FROM (CASE WHEN t.has_geo THEN
              'z{TILE_Z}/x' || greatest(0, least({n - 1}, CAST(floor((t.rep_lon + 180.0) / (360.0 / {n})) AS INT)))
              || '/y' || greatest(0, least({n - 1}, CAST(floor((85.0 - t.rep_lat) / (170.0 / {n})) AS INT)))
            END)""",
    )
    if bad:
        fails.append(f"tile_id: {bad} items differ from the z={TILE_Z} arithmetic")
    # 5. collection extents and counts == group-by over the written items
    #    (an item without a datetime opens its collection's interval)
    fails += _diff(
        con,
        """SELECT collection_id, bbox, interval_start, interval_end, item_count
           FROM collections""",
        """SELECT collection_id,
                  [min(lon_min), min(lat_min), max(lon_max), max(lat_max)] AS bbox,
                  CASE WHEN bool_or(datetime IS NULL) THEN NULL ELSE min(datetime) END,
                  CASE WHEN bool_or(datetime IS NULL) THEN NULL ELSE max(datetime) END,
                  count(*)
           FROM items WHERE collection_id IS NOT NULL GROUP BY collection_id""",
        "collections vs group-by over items",
    )
    # 6. every stac_json parses and agrees with its id/bbox/collection
    bad = _rows(
        con,
        """SELECT count(*) FROM items
           WHERE NOT coalesce(json_valid(stac_json), FALSE)
              OR json_extract_string(stac_json, '$.id') IS DISTINCT FROM id
              OR json_extract_string(stac_json, '$.collection') IS DISTINCT FROM collection_id
              OR CAST(json_extract(stac_json, '$.bbox') AS DOUBLE[]) IS DISTINCT FROM bbox""",
    )
    if bad:
        fails.append(f"stac_json: {bad} items do not parse or disagree with their columns")
    # 7. cell_s2 / cell_hex on a seeded sample == the DuckDB encoders
    geo = truth.loc[truth["has_geo"] & truth["reason"].isna(), "url"].to_numpy()
    pick = np.random.default_rng([seed, 7]).choice(len(geo), size=min(cell_sample, len(geo)), replace=False)
    con.register("sample_urls", pd.DataFrame({"url": geo[pick], "doc_id": np.arange(len(pick))}))
    con.execute(
        "CREATE OR REPLACE TEMP VIEW cell_sample AS SELECT s.doc_id, t.rep_lon AS lon, t.rep_lat AS lat "
        "FROM sample_urls s JOIN truth t USING (url)"
    )
    con.execute(f"CREATE OR REPLACE TEMP TABLE cell_expected AS {_cell_encoder_sql()}")
    fails += _diff(
        con,
        """SELECT DISTINCT s.doc_id, i.cell_s2, i.cell_hex
           FROM items i JOIN sample_urls s USING (url)""",
        "SELECT doc_id, cell_s2, cell_hex FROM cell_expected",
        "cell_s2/cell_hex on the sample vs DuckDB encoders",
    )
    for v in ("items", "errors", "collections", "truth", "cell_sample"):
        con.execute(f"DROP VIEW IF EXISTS {v}")
    for v in ("truth_df", "parts", "sample_urls"):
        con.unregister(v)
    return fails


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _oracle_norm():
    """``norm`` from tools/check_oracle.py: the canonical lexical form the
    oracle gate compares in."""
    path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


class QueryChecker:
    """Compares query outputs with ``__spark_entry__.oracle_sql()`` run on
    DuckDB over the same generated tables. The oracle frames are computed
    once, outside the timed window."""

    def __init__(self, con, sf_dir: str, names: list[str]):
        import __spark_entry__ as entry

        self.norm = _oracle_norm()
        for t in ("documents", "embeddings", "nation", "part"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        oracles = entry.oracle_sql()
        self.expected = {}
        for name in names:
            if name == "minhash_neardup":
                docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").df()
                self.expected[name] = MinhashProperties(docs)
            else:
                self.expected[name] = self.norm(con.execute(oracles[name]).df())

    def check(self, name: str, got: pd.DataFrame) -> list[str]:
        exp = self.expected[name]
        if isinstance(exp, MinhashProperties):
            return exp.check(got)
        s = self.norm(got)
        if list(s.columns) != list(exp.columns):
            return [f"{name}: columns {list(s.columns)} vs oracle {list(exp.columns)}"]
        if len(s) != len(exp):
            return [f"{name}: {len(s)} rows vs oracle {len(exp)}"]
        if not s.equals(exp):
            n = int((s != exp).any(axis=1).sum())
            return [f"{name}: {n} rows differ from the oracle"]
        return []


MINHASH_THRESHOLD = 0.5
SHINGLE_N = 3


def _shingles(text: str) -> set[str]:
    w = text.strip().split()
    return {" ".join(w[i:i + SHINGLE_N]) for i in range(max(len(w) - SHINGLE_N, 0) + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def round_half_up(x: float, places: int = 4) -> float:
    """Spark's ``round``: HALF_UP on the double's shortest decimal form."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


class MinhashProperties:
    """Property check for ``minhash_neardup`` (its all-pairs oracle is too
    slow at this size): every reported pair's word-3-shingle Jaccard,
    recomputed here, is at or above the threshold and equals the reported
    value; every planted near-duplicate pair at or above the threshold is
    reported."""

    def __init__(self, docs: pd.DataFrame):
        from gen import planted_near_dups

        self.sh = dict(zip(docs["doc_id"].tolist(), (_shingles(t) for t in docs["text"])))
        self.must = set()
        for a, b in planted_near_dups(len(docs)):
            if jaccard(self.sh[a], self.sh[b]) >= MINHASH_THRESHOLD:
                self.must.add((a, b))

    def check(self, got: pd.DataFrame) -> list[str]:
        fails = []
        pairs = list(zip(got["a"].tolist(), got["b"].tolist(), got["jaccard"].tolist()))
        if len(set((a, b) for a, b, _ in pairs)) != len(pairs) or any(a >= b for a, b, _ in pairs):
            fails.append("minhash_neardup: pairs are not unique (a < b)")
        wrong = 0
        for a, b, j in pairs:
            true_j = jaccard(self.sh[a], self.sh[b])
            if true_j < MINHASH_THRESHOLD or round_half_up(true_j) != j:
                wrong += 1
        if wrong:
            fails.append(f"minhash_neardup: {wrong} reported pairs have a wrong or sub-threshold jaccard")
        missed = self.must - {(a, b) for a, b, _ in pairs}
        if missed:
            fails.append(f"minhash_neardup: {len(missed)} planted near-dup pairs missing")
        return fails
