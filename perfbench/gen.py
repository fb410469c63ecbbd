"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``--seed``; generation runs before any
timing and is not part of any metric.

- pages (populate): rows ``[seed * n, seed * n + n)`` of
  ``datagen.pages_pdf``, whose every value is a function of the row index,
  so the seed selects which rows of the infinite page sequence a run sees.
  A planted share of geolocated point pages gets an out-of-range
  ``geo.position`` so the dead-letter path has rows with a known reason.
- documents / embeddings (queries): the ``tools/gen_sf1.py`` shape
  (31-word vocabulary, 10-100 words per document, Zipf-ish languages,
  planted exact and near duplicates; 64-dim unit vectors in 10 clusters
  with planted twins), drawn from ``numpy.random.default_rng(seed)``.
- nation / part: the TPC-H dimension tables the queries derive footprints
  and tiles from; only their keys are read.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# share of geolocated point pages whose coordinates are made invalid
INVALID_SHARE = 0.004
# pages are written as a directory of this many files, as a crawl export
# would be; Spark packs them into local[4]-wide scan partitions
PAGE_FILES = 8

VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
DIM = 64
N_LABELS = 10


def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rg, coerce_timestamps="us")


def planted_pages(start: int, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages, truth) for page rows [start, start + n).

    ``truth`` holds what the generator planted per url: whether the page
    is geolocated, its corner coordinates (lon2/lat2 differ from lon/lat
    only for geo.box pages, where lon2 < lon marks an antimeridian wrap),
    and the dead-letter reason planted for it (null for valid pages).
    The coordinates restate ``datagen.pages_pdf``'s arithmetic; ``gen``
    checks every one against the html it wrote."""
    from stac_populator_spark.datagen import _rand01, pages_pdf

    pages = pages_pdf(start, n)
    i = np.arange(start, start + n, dtype=np.int64)
    has_geo = _rand01(i, 2) < 0.80
    lat = (_rand01(i, 3) * 170.0 - 85.0).round(6)
    lon = (_rand01(i, 4) * 360.0 - 180.0).round(6)
    is_box = has_geo & (_rand01(i, 5) < 0.005)
    lon = np.where(is_box, (170.0 + _rand01(i, 8) * 9.9).round(6), lon)
    box_w = (_rand01(i, 6) * 10.0 + 5.0).round(6)
    box_h = (_rand01(i, 7) * 8.0 + 1.0).round(6)
    lon2 = lon + box_w
    lon2 = np.where(lon2 >= 180.0, lon2 - 360.0, lon2)
    lat2 = np.clip(lat + box_h, -85.0, 85.0)

    # plant invalid coordinates on a seeded share of point pages: half get
    # a latitude in (90, 99], half a longitude in (180, 199]
    u = _rand01(i, 901)
    bad = has_geo & ~is_box & (u < INVALID_SHARE)
    bad_lat = bad & (u < INVALID_SHARE / 2)
    bad_lon = bad & ~bad_lat
    v = _rand01(i, 902)
    new_lat = np.where(bad_lat, (90.5 + v * 8.5).round(6), lat)
    new_lon = np.where(bad_lon, (180.5 + v * 18.5).round(6), lon)

    html = pages["html"].tolist()
    for k in np.flatnonzero(bad):
        old = f'content="{lat[k]};{lon[k]}"'.encode()
        new = f'content="{new_lat[k]};{new_lon[k]}"'.encode()
        if old not in html[k]:
            raise RuntimeError(f"page row {i[k]}: planted position not found")
        html[k] = html[k].replace(old, new)
    pages["html"] = html

    lat = np.where(is_box, lat, new_lat)
    lon = np.where(is_box, lon, new_lon)
    reason = np.where(bad_lat, "lat_out_of_range", np.where(bad_lon, "lon_out_of_range", None))
    truth = pd.DataFrame(
        {
            "url": pages["url"],
            "has_geo": has_geo,
            "lon": np.where(has_geo, lon, np.nan),
            "lat": np.where(has_geo, lat, np.nan),
            "lon2": np.where(has_geo, np.where(is_box, lon2, lon), np.nan),
            "lat2": np.where(has_geo, np.where(is_box, lat2, lat), np.nan),
            "reason": reason,
        }
    )
    # every planted coordinate must be the one the html carries
    for k in np.flatnonzero(has_geo):
        if is_box[k]:
            meta = f'name="geo.box" content="{lat[k]};{lon[k]};{lat2[k]};{lon2[k]}"'
        else:
            meta = f'name="geo.position" content="{lat[k]};{lon[k]}"'
        if meta.encode() not in html[k]:
            raise RuntimeError(f"page row {i[k]}: truth disagrees with html")
    return pages, truth


def write_pages(path: str, start: int, n: int) -> pd.DataFrame:
    """Pages [start, start + n) as a directory of ``PAGE_FILES`` parquet
    files; returns the planted truth."""
    pages, truth = planted_pages(start, n)
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pages, preserve_index=False)
    step = -(-n // PAGE_FILES)
    for k in range(PAGE_FILES):
        _write(table.slice(k * step, step), os.path.join(path, f"part-{k:02d}.parquet"))
    return truth


def documents(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, size=n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), size=k)]) for k in lengths]
    # plants: exact dups and near dups (last word replaced) of the
    # previous document, at the gen_sf1 cadence
    for i in range(1, n):
        if i % 631 == 5:
            texts[i] = texts[i - 1]
        elif i % 97 == 1:
            w = texts[i - 1].split(" ")
            w[-1] = "dup"
            texts[i] = " ".join(w)
    lang = LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]
    source = np.char.add("src", rng.integers(0, 20, size=n).astype(str))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang.tolist()),
            "source": pa.array(source.tolist()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def planted_near_dups(n: int) -> list[tuple[int, int]]:
    """(a, b) document pairs the generator planted as exact or near dups."""
    return [(i - 1, i) for i in range(1, n) if i % 631 == 5 or i % 97 == 1]


def embeddings(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(size=(N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = (np.arange(n) % N_LABELS).astype(np.int32)
    emb = centers[label] * 0.6 + rng.normal(scale=0.35, size=(n, DIM))
    twin = (np.arange(n) % 40 == 1) & (np.arange(n) > 0)
    emb[twin] = emb[np.flatnonzero(twin) - 1] + rng.normal(scale=0.003, size=(twin.sum(), DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(emb.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def nation() -> pa.Table:
    k = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": pa.array(k),
            "n_name": pa.array([f"NATION{j:02d}" for j in k]),
            "n_regionkey": pa.array(k % 5),
        }
    )


def part(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "p_name": pa.array([f"part{j}" for j in range(n)]),
            "p_size": pa.array(rng.integers(1, 51, size=n).astype(np.int32)),
            "p_retailprice": pa.array(rng.uniform(900.0, 2100.0, size=n).round(2)),
        }
    )


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int, n_parts: int) -> None:
    """The ``sf_dir`` layout ``__spark_entry__.queries()`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    _write(documents(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    _write(embeddings(seed, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
    _write(nation(), os.path.join(out_dir, "nation.parquet"))
    _write(part(seed, n_parts), os.path.join(out_dir, "part.parquet"))
