"""Similarity search over embedding columns (array<double>).

All six top-k operators stream their rows once through one ``mapInArrow``
top-k kernel (:func:`_scan`), scored either by the cosine fold (the
"cosine kernel") or by a PQ lookup-table sum (the "ADC kernel"):

- ``cosine_topk`` / ``ivf_topk``: exact cosine top-k; IVF adds a
  per-query probe mask over each row's inverted list.
- ``pq_topk`` / ``ivfpq_topk``: asymmetric-distance (ADC) shortlist, then
  an exact cosine rerank of the shortlist in the JVM.
- ``ivf_topk_partitioned`` / ``ivfpq_topk_partitioned``: the same two
  scans over an ``ivf*_write_partitioned`` layout. The probe lists
  become a partition filter, and each row's list (and PQ code) is read
  from the stored columns instead of being recomputed.
- ``ivf_assign`` / ``pq_encode`` / ``ivf*_write_partitioned``: one encode
  kernel appends ``ivf_cluster`` and/or the PQ code column.
- ``cosine_near_duplicates``: banded random-hyperplane LSH candidates,
  exact cosine verify in the JVM.

Every formula below is written once: the row → list assignment
(:func:`_assign_np`), the query → probe lists (:func:`_probe_mask`), the
row → PQ code (:func:`_pq_codes_np`), the query lookup tables
(:func:`_pq_luts`), the cosine fold (:func:`_seq_dots`,
:func:`_seq_norms`), the ADC gather-sum (in :func:`_adc_scores`), the
per-batch top-k (in :func:`_scan`) and the final rank
(:func:`_rank`). Queries are collected to the driver once per call
(:func:`_queries_np`); they are dim-table-small by contract, like the
footprint cover.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the vector column name inside the scan frames the kernels read
_VEC = "c_vec"


def dot_expr(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a, b) -> F.Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


# ---------------------------------------------------------------------------
# Batch scoring kernels. Scoring every (corpus row × query) PAIR costs one
# interpreted higher-order JVM cosine (~10µs/pair) or one per-pair pandas
# UDF row. Instead the corpus streams ONCE through mapInArrow, every query
# is scored per Arrow batch with vectorized numpy, and only the per-batch
# top-k (or top-shortlist) rows per query come back — the JVM↔Python
# boundary carries n rows in and ≈ batches·q·k rows out.
#
# Bit-exactness contract: dot products and norms accumulate with an
# explicit per-dimension left fold — acc = (((0 + x1·y1) + x2·y2) + …) —
# the IEEE-double operation order of zip_with+aggregate (cosine_expr), and
# cos = dot / (norm_q · norm_c). The per-batch top-k uses the final
# window's (score desc, id asc) total order with NaN greatest, so the
# union of per-batch top-k contains the global top-k and the window
# reproduces the pair formulation's rows.
# ---------------------------------------------------------------------------


def _queries_np(queries: DataFrame, query_id_col: str, vec_col: str):
    """The one query collect of a call: (ids int64, Q (q, d) float64)."""
    qpdf = queries.select(F.col(query_id_col), F.col(vec_col)).toPandas()
    qids = qpdf[query_id_col].to_numpy().astype(np.int64, copy=False)
    if len(qpdf) == 0:
        return qids, np.zeros((0, 0))
    Q = np.stack(qpdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
    return qids, Q


def _seq_dots(M: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, q) dot products in zip_with+aggregate's left-fold order."""
    acc = np.zeros((M.shape[0], Q.shape[0]))
    for j in range(M.shape[1]):
        acc += M[:, j : j + 1] * Q[:, j][None, :]
    return acc


def _seq_norms(M: np.ndarray) -> np.ndarray:
    """Row L2 norms in norm_expr's left-fold order (acc + v·v, then sqrt)."""
    acc = np.zeros(M.shape[0])
    for j in range(M.shape[1]):
        acc += M[:, j] * M[:, j]
    return np.sqrt(acc)


def _assign_np(M: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Row → IVF list: the centroid with the largest dot product, ties to
    the larger index (array_max(struct(d, i)) semantics)."""
    scores = M @ cents.T.copy()
    return scores.shape[1] - 1 - np.argmax(scores[:, ::-1], axis=1)


def _probe_mask(Q: np.ndarray, cents: np.ndarray, n_probe: int) -> np.ndarray:
    """Query → probe lists: (q, k_centroids) bool, True on each query's
    ``n_probe`` largest-dot centroids (stable order on ties)."""
    mask = np.zeros((len(Q), cents.shape[0]), dtype=bool)
    if len(Q):
        order = np.argsort(-(Q @ cents.T.copy()), axis=1, kind="stable")[:, :n_probe]
        np.put_along_axis(mask, order, True, axis=1)
    return mask


def _pq_codes_np(M: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Row → PQ code: (n, m) int32 — row L2-normalized, then per subspace
    the nearest codeword by squared distance (first minimum on ties)."""
    m, ksub, dsub = codebooks.shape
    M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    codes = np.empty((len(M), m), dtype=np.int32)
    for j in range(m):
        S = M[:, j * dsub : (j + 1) * dsub]
        d2 = ((S[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)
    return codes


def _pq_luts(Q: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(q, m, ksub) asymmetric-distance lookup tables, one query at a
    time: the unit query's subspace inner products with every codeword."""
    m, ksub, dsub = codebooks.shape
    luts = np.zeros((len(Q), m, ksub))
    for t, qv in enumerate(Q):
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        luts[t] = np.stack([qv[j * dsub : (j + 1) * dsub] @ codebooks[j].T for j in range(m)])
    return luts


def _batch_mat(batch, col: str, dtype=np.float64) -> np.ndarray:
    """Arrow list<…> column → (n, width) matrix."""
    arr = batch.column(col)
    flat = np.asarray(arr.flatten().to_numpy(zero_copy_only=False), dtype=dtype)
    return flat.reshape(len(arr), -1)


def _row_clusters(batch, M, cents):
    """Each row's IVF list: computed from ``cents``, else read from a
    stored ``ivf_cluster`` column, else None (no IVF)."""
    if cents is not None:
        return _assign_np(M, cents)
    if "ivf_cluster" in batch.schema.names:
        return batch.column("ivf_cluster").to_numpy(zero_copy_only=False)
    return None


def _cosine_scores(Q: np.ndarray, cents):
    """Batch scorer for the cosine kernel: (clusters, score(t, rows))."""
    qn = _seq_norms(Q)

    def prepare(batch):
        M = _batch_mat(batch, _VEC)
        cos = _seq_dots(M, Q) / (qn[None, :] * _seq_norms(M)[:, None])
        return _row_clusters(batch, M, cents), lambda t, rows: cos[rows, t]

    return prepare


def _adc_scores(luts: np.ndarray, codebooks: np.ndarray, cents):
    """Batch scorer for the ADC kernel: (clusters, score(t, rows)). Codes
    are read from a stored ``pq_code`` column when the frame carries one
    (the vectors then never leave the scan), else encoded from the rows."""
    marange = np.arange(codebooks.shape[0])[None, :]

    def prepare(batch):
        if "pq_code" in batch.schema.names:
            M, codes = None, _batch_mat(batch, "pq_code", np.int32)
        else:
            M = _batch_mat(batch, _VEC)
            codes = _pq_codes_np(M, codebooks)
        return (_row_clusters(batch, M, cents),
                lambda t, rows: luts[t][marange, codes[rows]].sum(axis=1))

    return prepare


def _rank(df: DataFrame, score: str, k: int, query_id_col: str, id_col: str) -> DataFrame:
    """Each query's top k rows by (score desc, id asc): (query_id, id,
    round(score, 6), rank)."""
    w = Window.partitionBy(query_id_col).orderBy(F.col(score).desc(), F.col(id_col).asc())
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round(score, 6).alias(score), "rank")
    )


def _scan(rows: DataFrame, qids: np.ndarray, k: int, prepare, score: str,
          query_id_col: str, id_col: str, probe_mask: np.ndarray | None = None) -> DataFrame:
    """Stream ``rows`` once through the top-k mapInArrow kernel and rank
    the candidates: the global top k per query.

    Per batch, the kernel keeps each query's top k rows by (score desc,
    id asc) among the rows its probe mask admits (all rows without IVF).
    ``prepare(batch)`` gives (row clusters, score(t, rows))."""
    import pyarrow as pa

    names = [query_id_col, id_col, score]

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0 or len(qids) == 0:
                continue
            ids = np.asarray(batch.column(id_col).to_numpy(zero_copy_only=False),
                             dtype=np.int64)
            clusters, scores = prepare(batch)
            out_t, out_id, out_s = [], [], []
            for t in range(len(qids)):
                sel = slice(None)
                if probe_mask is not None:
                    sel = np.nonzero(probe_mask[t][clusters])[0]
                    if len(sel) == 0:
                        continue
                s = scores(t, sel)
                # NaN → +inf: Spark orders NaN greatest
                key = np.where(np.isnan(s), np.inf, s)
                order = np.lexsort((ids[sel], -key))[:k]
                out_t.append(np.full(len(order), t))
                out_id.append(ids[sel][order])
                out_s.append(s[order])
            if not out_t:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[np.concatenate(out_t)], pa.int64()),
                    pa.array(np.concatenate(out_id), pa.int64()),
                    pa.array(np.concatenate(out_s), pa.float64()),
                ],
                names=names,
            )

    scored = rows.mapInArrow(run, schema=T.StructType([
        T.StructField(query_id_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField(score, T.DoubleType()),
    ]))
    return _rank(scored, score, k, query_id_col, id_col)


def _pq_rerank(rows: DataFrame, vectors: DataFrame, queries: DataFrame, qids, Q,
               codebooks: np.ndarray, k: int, shortlist: int, id_col: str,
               vec_col: str, query_id_col: str, probe_mask=None, cents=None) -> DataFrame:
    """ADC shortlist over ``rows``, then the exact cosine rerank in the JVM
    of the shortlisted ids' ``vectors`` (id, c_vec)."""
    short = _scan(rows, qids, shortlist, _adc_scores(_pq_luts(Q, codebooks), codebooks, cents),
                  "approx_ip", query_id_col, id_col, probe_mask).select(query_id_col, id_col)
    cand = (
        short.join(vectors, id_col)
        .join(
            F.broadcast(queries.select(query_id_col, F.col(vec_col).alias("q_vec"))),
            query_id_col,
        )
        .withColumn("cos", cosine_expr(F.col("q_vec"), F.col(_VEC)))
    )
    return _rank(cand, "cos", k, query_id_col, id_col)


def _corpus_rows(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, c_vec) scan frame of an in-memory corpus, widened when
    under-partitioned so the kernel runs at session width
    (skew.ensure_parallelism)."""
    from .skew import ensure_parallelism

    return ensure_parallelism(corpus.select(F.col(id_col), F.col(vec_col).alias(_VEC)))


def _probed(spark, corpus_path: str, probe_mask: np.ndarray) -> DataFrame:
    """A ``*_write_partitioned`` layout filtered to the union of the probe
    lists — an ``isin`` PARTITION filter, so unprobed cluster directories
    are never opened."""
    probes = [int(c) for c in np.flatnonzero(probe_mask.any(axis=0))]
    return spark.read.parquet(corpus_path).filter(F.col("ivf_cluster").isin(probes))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine. Returns (query_id, vec_id, cos, rank);
    deterministic tie-break on id. One corpus pass through the cosine
    kernel (queries ride the task closure); the final window ranks only
    batches·q·k candidate rows."""
    qids, Q = _queries_np(queries, query_id_col, vec_col)
    return _scan(_corpus_rows(corpus, id_col, vec_col), qids, k, _cosine_scores(Q, None),
                 "cos", query_id_col, id_col)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _centroids(dim: int, k_centroids: int, seed: int = 43) -> np.ndarray:
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((k_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _train_sample(df: DataFrame, vec_col: str, id_col: str, sample_n: int) -> np.ndarray:
    """The training sample of :func:`ivf_train` and :func:`pq_train`: the
    first ``sample_n`` rows in xxhash64(id) order (reproducible retrains),
    L2-normalized."""
    sample = (
        df.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(sample_n)
        .toPandas()
    )
    X = np.stack(sample["v"].map(lambda v: np.asarray(v, dtype=np.float64)))
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _encode(df: DataFrame, vec_col: str, centroids: np.ndarray | None = None,
            codebooks: np.ndarray | None = None, code_col: str = "pq_code") -> DataFrame:
    """One mapInArrow kernel that appends ``ivf_cluster`` (int, from
    :func:`_assign_np`) and/or ``code_col`` (array<int>, from
    :func:`_pq_codes_np`) to every row, replacing a column of the same
    name in place as ``withColumn`` does. The whole row crosses into
    Python (a scalar UDF would ship only the vector), so a narrow frame
    encodes cheapest."""
    import pyarrow as pa

    fields = {f.name: f for f in df.schema.fields}
    if centroids is not None:
        fields["ivf_cluster"] = T.StructField("ivf_cluster", T.IntegerType())
    if codebooks is not None:
        fields[code_col] = T.StructField(code_col, T.ArrayType(T.IntegerType()))

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = dict(zip(batch.schema.names, batch.columns))
            M = _batch_mat(batch, vec_col)
            if centroids is not None:
                cols["ivf_cluster"] = pa.array(_assign_np(M, centroids).astype(np.int32))
            if codebooks is not None:
                codes = _pq_codes_np(M, codebooks)
                offsets = np.arange(0, codes.size + 1, codes.shape[1], dtype=np.int32)
                cols[code_col] = pa.ListArray.from_arrays(offsets, codes.ravel())
            yield pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))

    return df.mapInArrow(run, schema=T.StructType(list(fields.values())))


def ivf_train(
    df: DataFrame,
    vec_col: str = "embedding",
    k_centroids: int = 16,
    sample_n: int = 20000,
    iters: int = 12,
    seed: int = 43,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Train IVF centroids with spherical k-means on a deterministic corpus
    sample (VERDICT r1: seeded-random centroids skew list sizes at scale).

    The sample (:func:`_train_sample`) is tiny relative to the corpus
    (k-means on ≤~100k × dim floats is driver-trivial) while list-size
    balance transfers because centroids follow the data density. k-means++
    seeding, cosine metric (vectors and centroids L2-normalized).
    """
    X = _train_sample(df, vec_col, id_col, sample_n)
    rng = np.random.default_rng(seed)

    # k-means++ init on cosine distance
    cents = [X[rng.integers(len(X))]]
    for _ in range(1, k_centroids):
        d = 1.0 - np.max(np.stack([X @ c for c in cents]), axis=0)
        d = np.maximum(d, 0.0)
        p = d / d.sum() if d.sum() > 0 else None
        cents.append(X[rng.choice(len(X), p=p)])
    C = np.stack(cents)

    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for k in range(k_centroids):
            members = X[assign == k]
            if len(members):
                C[k] = members.mean(axis=0)
            else:  # dead centroid → reseed at the farthest point
                far = np.argmin(np.max(X @ C.T, axis=1))
                C[k] = X[far]
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def ivf_assign(df: DataFrame, vec_col: str = "embedding", dim: int = 64,
               k_centroids: int = 16, seed: int = 43,
               centroids: np.ndarray | None = None) -> DataFrame:
    """IVF coarse quantization: append ``ivf_cluster``, each vector's
    nearest (by dot product) of k unit centroids — trained
    (:func:`ivf_train`) when given, else seeded-random — through the
    encode kernel. :func:`ivf_write_partitioned` lays the corpus out by
    this column so probes touch only matching partitions. The (scan-stage)
    input is widened when under-partitioned so the assignment matmul and
    everything downstream of it run at session width."""
    from .skew import ensure_parallelism

    cents = centroids if centroids is not None else _centroids(dim, k_centroids, seed)
    return _encode(ensure_parallelism(df), vec_col, centroids=cents)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    k_centroids: int = 16,
    seed: int = 43,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN: probe the query's n_probe nearest centroids' inverted
    lists only, exact cosine inside them. Probe cost ≈ n_probe/k_centroids
    of brute force; recall tested vs cosine_topk. Pass
    ``centroids=ivf_train(corpus)`` for data-trained lists (balanced at
    scale); default stays the seeded-random baseline.

    The corpus streams once through the cosine kernel, which assigns each
    row's list and scores it against only the queries probing that list —
    the inverted-list equi-join as an in-kernel mask, so no pair rows
    materialize."""
    cents = centroids if centroids is not None else _centroids(dim, k_centroids, seed)
    qids, Q = _queries_np(queries, query_id_col, vec_col)
    return _scan(_corpus_rows(corpus, id_col, vec_col), qids, k, _cosine_scores(Q, cents),
                 "cos", query_id_col, id_col, _probe_mask(Q, cents, n_probe))


def ivf_write_partitioned(corpus: DataFrame, path: str, vec_col: str = "embedding",
                          dim: int = 64, k_centroids: int = 16, seed: int = 43,
                          centroids: np.ndarray | None = None) -> None:
    """Materialize the corpus partitioned by ``ivf_cluster`` — the storage
    layout that turns IVF probing into PARTITION PRUNING: a probe query
    reads only its n_probe clusters' files, never the other k−n_probe
    directories. The inverted lists live in the table layout, not in
    memory."""
    ivf_assign(corpus, vec_col, dim, k_centroids, seed, centroids=centroids).write.mode(
        "overwrite"
    ).partitionBy("ivf_cluster").parquet(path)


def ivf_topk_partitioned(
    spark,
    corpus_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    k_centroids: int = 16,
    seed: int = 43,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """ivf_topk over an :func:`ivf_write_partitioned` layout: the union of
    the queries' probe lists becomes an ``isin`` partition filter, so the
    parquet scan prunes to ≤ n_probe·n_queries cluster directories
    (PartitionFilters pinned in tests). The probed rows then run through
    the same cosine kernel as :func:`ivf_topk`, with each row's list read
    from its stored ``ivf_cluster``."""
    cents = centroids if centroids is not None else _centroids(dim, k_centroids, seed)
    qids, Q = _queries_np(queries, query_id_col, vec_col)
    mask = _probe_mask(Q, cents, n_probe)
    rows = _probed(spark, corpus_path, mask).select(
        F.col(id_col), F.col(vec_col).alias(_VEC), "ivf_cluster"
    )
    return _scan(rows, qids, k, _cosine_scores(Q, None), "cos", query_id_col, id_col, mask)


def lsh_bands_udf(planes: np.ndarray, n_bands: int, bits_per_band: int):
    """All band signatures in one matmul per Arrow batch: planes is
    (n_bands·bits_per_band, dim); band b's signature packs bits
    [b·bits, (b+1)·bits) into a long."""
    from pyspark.sql.functions import pandas_udf

    P = planes.T.copy()  # (dim, n_bands*bits)
    weights = 1 << np.arange(bits_per_band, dtype=np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _udf(vec: pd.Series) -> pd.Series:
        M = np.stack(vec.map(lambda v: np.asarray(v, dtype=np.float64)))
        bits = (M @ P) > 0  # (n, n_bands*bits)
        bands = np.stack(
            [bits[:, b * bits_per_band:(b + 1) * bits_per_band] @ weights
             for b in range(n_bands)],
            axis=1,
        )  # (n, n_bands)
        return pd.Series(list(bands))

    return _udf


def cosine_near_duplicates(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 6,
    bits_per_band: int = 24,
    bucket_cap: int = 256,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold: banded hyperplane LSH →
    exact cosine verify.

    Round 1 joined on one 12-bit full signature — 4,096 buckets total,
    ~2.4e8 docs/bucket at 10^12 rows (VERDICT r1 scale-killer). Now each
    of ``n_bands`` bands is an independent 24-bit signature (2^24 buckets
    per band); a pair is a candidate when ANY band matches. Recall at
    cosine c: per-bit agreement p = 1 − acos(c)/π, band match p^24,
    overall 1 − (1−p^24)^6 — ≈0.999 at c=0.999 (true near-dups), falling
    fast below c≈0.9 (by design: this operator targets near-DUPLICATES,
    not broad similarity — use cosine_topk/ivf_topk for search). Hot
    buckets are capped at ``bucket_cap`` join representatives per bucket
    (see dedup.minhash_candidates recall note).
    """
    from .skew import ensure_parallelism

    planes = _hyperplanes(dim, n_bands * bits_per_band, seed)
    df = ensure_parallelism(df)
    b = df.select(
        F.col(id_col),
        F.col(vec_col).alias("_vec"),
        F.posexplode(lsh_bands_udf(planes, n_bands, bits_per_band)(F.col(vec_col))).alias(
            "band", "bhash"
        ),
    )
    w = Window.partitionBy("band", "bhash").orderBy(id_col)
    reps = b.withColumn("_rnk", F.row_number().over(w)).filter(F.col("_rnk") <= bucket_cap)
    l = b.select(F.col(id_col).alias("a"), F.col("_vec").alias("vec_a"), "band", "bhash")
    r = reps.select(F.col(id_col).alias("b"), F.col("_vec").alias("vec_b"), "band", "bhash")
    pairs = (
        l.join(r, ["band", "bhash"])
        .filter(F.col("a") != F.col("b"))
        .withColumn("cos", cosine_expr("vec_a", "vec_b"))
        .filter(F.col("cos") >= threshold)
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"),
                F.round("cos", 6).alias("cos"))
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# Product quantization (PQ): 64-dim float vector → m×log2(ksub)-bit code.
# The production ANN pattern at 10^12 rows: scan 4-byte CODES (not 256-byte
# vectors) with per-query lookup-table scoring, shortlist, then exact rerank
# on the shortlist only. Complements IVF (which prunes WHICH rows to scan;
# PQ shrinks WHAT is scanned — combined they are IVF-PQ à la FAISS).
# ---------------------------------------------------------------------------

def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    sample_n: int = 20000,
    iters: int = 10,
    seed: int = 47,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Codebooks (m, ksub, dim/m): independent k-means per subspace on the
    same hash-deterministic corpus sample as :func:`ivf_train` (retrains
    reproducible; k-means++ init, L2 metric on unit-normalized vectors so
    summed subspace inner products approximate cosine)."""
    dsub = dim // m
    X = _train_sample(df, vec_col, id_col, sample_n)
    rng = np.random.default_rng(seed)
    books = []
    # preallocated buffers (r6): the seeding loop ran 2,040 small
    # allocate-subtract-square-sum rounds and Lloyd churned a fresh 41 MB
    # (n × ksub) distance matrix per iteration — together ~5.5 s of
    # single-threaded DRIVER time inside the timed bench region. All the
    # arithmetic below is the same IEEE operation sequence into reused
    # out= buffers (np.subtract/np.multiply/np.sum/np.matmul produce
    # bit-identical values with or without out=), and the rng draw order
    # is untouched, so codebooks are bit-identical (asserted in
    # tests/test_similarity_pq.py::test_pq_train_deterministic_and_shapes).
    n = len(X)
    diff = np.empty((n, dsub))
    d2new = np.empty(n)
    sc = np.empty((n, ksub))
    for j in range(m):
        S = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        cents = [S[rng.integers(len(S))]]
        # k-means++ with an incrementally-maintained min-distance array:
        # O(ksub·n) instead of recomputing all pairs per new centroid
        # (O(ksub²·n) — dominated pq_train at ksub=256); identical values
        # and rng draw order, so codebooks are bit-identical
        d2min = ((S - cents[0]) ** 2).sum(axis=1)
        for _ in range(1, ksub):
            p = d2min / d2min.sum() if d2min.sum() > 0 else None
            nxt = S[rng.choice(len(S), p=p)]
            cents.append(nxt)
            np.subtract(S, nxt, out=diff)
            np.multiply(diff, diff, out=diff)
            np.sum(diff, axis=1, out=d2new)
            np.minimum(d2min, d2new, out=d2min)
        C = np.stack(cents)
        # Lloyd step in matmul form: |S-C|² = |S|² + |C|² − 2·S·Cᵀ avoids
        # the (n, ksub, dsub) broadcast array — at sample_n=20k, ksub=256
        # that intermediate was ~40M doubles PER subspace PER iteration
        # and dominated the pq_cosine bench entry. |S|² is constant across
        # the argmin row, so it is dropped from the comparison entirely.
        for _ in range(iters):
            np.matmul(S, C.T, out=sc)
            np.multiply(sc, 2.0, out=sc)
            np.subtract((C**2).sum(axis=1)[None, :], sc, out=sc)
            assign = np.argmin(sc, axis=1)
            # per-cluster means via one weighted bincount per dimension
            counts = np.bincount(assign, minlength=ksub)
            sums = np.stack(
                [np.bincount(assign, weights=S[:, j], minlength=ksub) for j in range(S.shape[1])],
                axis=1,
            )
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz, None]
        books.append(C)
    return np.stack(books)  # (m, ksub, dsub)


def pq_encode(df: DataFrame, codebooks: np.ndarray, vec_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    """Append ``out_col``: each vector's array<int> of m subspace code
    indices (:func:`_pq_codes_np`), through the encode kernel."""
    return _encode(df, vec_col, codebooks=codebooks, code_col=out_col)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ ANN with exact rerank: (1) asymmetric-distance scan — each query
    gets an (m × ksub) inner-product lookup table, built driver-side from
    the one query collect; the corpus streams once through the ADC kernel
    (over a code-only table the scan column-prunes the vectors away — see
    ivfpq_topk_partitioned); (2) the kernel emits per-batch
    top-``shortlist`` per query, the window keeps the global
    top-``shortlist``; (3) exact cosine rerank joins the shortlist ids (a
    tiny set) back to their true vectors. Returns (query_id, vec_id, cos,
    rank)."""
    qids, Q = _queries_np(queries, query_id_col, vec_col)
    return _pq_rerank(
        _corpus_rows(corpus, id_col, vec_col),
        corpus.select(id_col, F.col(vec_col).alias(_VEC)),
        queries, qids, Q, codebooks, k, shortlist, id_col, vec_col, query_id_col,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ (the FAISS pairing of the two indexes): IVF decides WHICH
    rows are scanned (each query probes its ``n_probe`` nearest centroid
    lists — with ``ivf_write_partitioned`` layout that is partition
    pruning), PQ decides WHAT is scanned (4-8 byte codes + a per-query
    lookup table instead of the raw vectors), and the exact cosine rerank
    touches only the per-query shortlist. At 10^12 rows the scan cost is
    (n_probe/k_centroids) × (code_bytes/vector_bytes) of brute force —
    two multiplicative reductions — while the recall gate stays the same
    shape as :func:`pq_topk`'s, whose body this is plus the probe mask.
    """
    qids, Q = _queries_np(queries, query_id_col, vec_col)
    return _pq_rerank(
        _corpus_rows(corpus, id_col, vec_col),
        corpus.select(id_col, F.col(vec_col).alias(_VEC)),
        queries, qids, Q, codebooks, k, shortlist, id_col, vec_col, query_id_col,
        probe_mask=_probe_mask(Q, centroids, n_probe), cents=centroids,
    )


def ivfpq_write_partitioned(corpus: DataFrame, path: str, codebooks: np.ndarray,
                            centroids: np.ndarray, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> None:
    """Materialize the IVF-PQ index AS A TABLE LAYOUT: rows live in their
    IVF list's partition directory and carry both the PQ code (the scan
    payload) and the raw vector (the rerank payload, column-pruned out of
    the code scan). One encode-kernel pass appends both columns."""
    _ivfpq_layout(corpus, codebooks, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("ivf_cluster").parquet(path)


def _ivfpq_layout(corpus: DataFrame, codebooks: np.ndarray, centroids: np.ndarray,
                  id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, ivf_cluster, pq_code): the frame ivfpq_write_partitioned
    writes, widened like :func:`ivf_assign`'s input."""
    from .skew import ensure_parallelism

    return _encode(ensure_parallelism(corpus.select(id_col, vec_col)), vec_col,
                   centroids=centroids, codebooks=codebooks)


def ivfpq_topk_partitioned(
    spark,
    corpus_path: str,
    queries: DataFrame,
    codebooks: np.ndarray,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """:func:`ivfpq_topk` over an :func:`ivfpq_write_partitioned` layout —
    the fully-composed scale path: (1) the union of the queries' probe
    lists becomes an ``isin`` PARTITION filter, so only n_probe·n_queries
    cluster directories are opened; (2) the same ADC kernel scans
    (id, ivf_cluster, pq_code) only, reading each row's list and code from
    the stored columns — the embedding column never leaves parquet
    (ReadSchema-pruned); (3) the exact rerank re-reads the probed
    partitions for just the shortlisted ids. Scan bytes ≈ brute-force ×
    (n_probe/k_centroids) × (code_bytes/vector_bytes)."""
    qids, Q = _queries_np(queries, query_id_col, vec_col)
    mask = _probe_mask(Q, centroids, n_probe)
    layout = _probed(spark, corpus_path, mask)
    return _pq_rerank(
        layout.select(id_col, "ivf_cluster", "pq_code"),
        layout.select(id_col, F.col(vec_col).alias(_VEC)),
        queries, qids, Q, codebooks, k, shortlist, id_col, vec_col, query_id_col,
        probe_mask=mask,
    )
