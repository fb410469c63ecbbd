"""Deduplication family for web-scale training-data pipelines.

All hot paths are JVM-side (xxhash64 / explode / groupBy with map-side
partial aggregation) — no Python in the per-row loop at all. This is the
Spark-first reading of the reference's dedup-by-ID rule
(/root/reference/STACpopulator/export.py:102-114) generalized to content
dedup at 10^12 rows:

- exact: content-hash groupBy (one shuffle of (hash, id) pairs only)
- MinHash+LSH: exact-dup collapse → shingle explode → per-seed min-hash
  aggregation → band buckets (hot-bucket capped) → bucket-local join
  (candidates ≪ n²) → exact Jaccard verify → group expansion
- SimHash: token explode → per-bit weighted sums → 64-bit signature →
  identical-signature collapse → pigeonhole block-combination band
  buckets (exact for hamming ≤ max_hamming at ANY block count ≥
  max_hamming+1; block count chosen from corpus size — see
  :func:`choose_simhash_blocks`) → Hamming verify → group expansion
- n-gram Jaccard: array_intersect/array_union on token shingle arrays
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_MINHASH = 64
LSH_BANDS = 16  # 16 bands × 4 rows
BUCKET_CAP = 256  # max join representatives per LSH bucket (hot-bucket cap)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_dups, canonical_id): groups of byte-identical content;
    canonical = smallest id (deterministic). One shuffle on the hash."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def shingles_col(text_col: str = "text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as array<string> (JVM transform).
    Single-expression spelling — the inline split re-evaluates per array
    element inside the transform lambda (see :func:`_shingles_from_sql`);
    hot paths should materialize the token array first."""
    return F.expr(_shingles_sql(text_col, n))


def _toks_sql(text_col: str = "text") -> str:
    return f"split(trim(`{text_col}`), '\\\\s+')"


def _shingles_from_sql(words_col: str, n: int = 3) -> str:
    """Shingle SQL over an already-materialized token-array column.

    The token array must live in its own child projection: lambda bodies
    re-evaluate embedded expressions PER ARRAY ELEMENT (higher-order
    functions are interpreted, no subexpression elimination), so an
    inline ``split`` inside the slice re-ran the regex once per shingle —
    O(tokens²) per doc (r6 finding, same as scrub.ngram_hashes_from_words).
    """
    return (
        f"array_distinct(transform("
        f"sequence(0, greatest(size(`{words_col}`) - {n}, 0)), "
        f"i -> concat_ws(' ', slice(`{words_col}`, i + 1, {n}))))"
    )


def _shingles_sql(text_col: str = "text", n: int = 3) -> str:
    """SQL spelling of :func:`shingles_col` (identical parsed expression;
    one JVM parse instead of ~40 py4j roundtrips)."""
    toks = _toks_sql(text_col)
    return (
        f"array_distinct(transform("
        f"sequence(0, greatest(size({toks}) - {n}, 0)), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {n}))))"
    )


def shingles_two_stage(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       out_col: str = "sh") -> DataFrame:
    """(id, shingles) with the token array materialized in a child
    projection — the fast spelling of ``select(id, shingles_col(...))``
    (identical values; see :func:`_shingles_from_sql`)."""
    return df.selectExpr(f"`{id_col}`", f"{_toks_sql(text_col)} AS _w").selectExpr(
        f"`{id_col}`", f"{_shingles_from_sql('_w', n)} AS `{out_col}`"
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_hashes: int = N_MINHASH) -> DataFrame:
    """(id, mh0..mh{n-1}): min over shingles of xxhash64(seed, h(shingle)).

    Each shingle string is hashed ONCE (h = xxhash64(sh)); the n seeded
    variants re-hash that single long — n× cheaper than re-hashing the
    string per seed, with the same min-wise independence.

    Shuffle profile: ZERO. The whole signature is higher-order array
    expressions (transform → array_min) inside one codegen projection —
    no explode, no groupBy, no exchange. (The previous formulation
    exploded shingles and aggregated 64 mins per doc: the same arithmetic
    plus a full shuffle of per-doc partials; values are bit-identical,
    pinned by tests/test_plans.py::test_minhash_signatures_zero_exchange.)
    """
    # token array → shingles → hashes across THREE projections: each
    # lambda references the previous stage's materialized column, never an
    # inline subexpression (per-element re-evaluation, see
    # :func:`_shingles_from_sql`); values are bit-identical
    out = (
        df.selectExpr(f"`{id_col}`", f"{_toks_sql(text_col)} AS _w")
        .selectExpr(f"`{id_col}`", f"{_shingles_from_sql('_w')} AS _sh")
        .selectExpr(f"`{id_col}`", "transform(_sh, s -> xxhash64(s)) AS _hs")
    )
    # SQL-string assembly (r5, same rationale as simhash_signature): the
    # former 64 Column-DSL lambda columns cost ~1.3 s of driver py4j per
    # plan build; the parsed expressions (and therefore the signatures)
    # are bit-identical — integer literals parse to INT in both spellings,
    # so the xxhash64(seed, h) input types match exactly.
    sig_cols = [
        f"array_min(transform(_hs, h -> xxhash64({i}, h))) AS mh{i}"
        for i in range(n_hashes)
    ]
    return out.selectExpr(f"`{id_col}`", *sig_cols)


def minhash_candidates(sigs: DataFrame, id_col: str = "doc_id",
                       n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
                       bucket_cap: int = BUCKET_CAP) -> DataFrame:
    """LSH banding: hash each band of rows, bucket-join ids sharing a band
    bucket. Returns candidate pairs (a, b) with a < b, distinct.

    Hot-bucket cap (VERDICT r1): a bucket of size s would emit s²/2 pairs —
    quadratic in boilerplate/duplicate-heavy corpora. Within each
    (band, bucket) only the first ``bucket_cap`` ids (deterministic id
    order) act as join *representatives*; every bucket member pairs with
    the representatives, so a bucket emits ≤ s·cap pairs and every member
    stays connected to its cluster. Recall note: a true near-dup pair is
    lost only when BOTH members rank beyond the cap in EVERY band the pair
    shares — callers should collapse byte-identical docs first
    (:func:`minhash_near_duplicates` does) so residual giant buckets are
    genuine near-dup clusters where representative connectivity suffices.

    Shuffle profile (r4 rework, identical pair set): ONE groupBy exchange
    per bucket grain + the final distinct — the former window(sort) +
    bucket self-join + distinct (4 exchanges of the exploded band rows)
    collapsed into collect_list + a higher-order member×rep expansion.
    Memory note: a bucket materializes its id list (s longs) in one agg
    row; exact-dup collapse upstream keeps s = distinct near-dup texts,
    and the expansion output stays capped at s·cap pairs.
    """
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bhash")))
    buckets = sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))
    grouped = buckets.groupBy("band", "bhash").agg(
        F.sort_array(F.collect_list(id_col)).alias("_ids")
    )
    reps = F.slice(F.col("_ids"), 1, bucket_cap)
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.col("_ids"),
                lambda m: F.transform(
                    reps,
                    lambda r: F.struct(
                        F.least(m, r).alias("a"), F.greatest(m, r).alias("b")
                    ),
                ),
            )
        ),
        lambda p: p["a"] != p["b"],
    )
    return (
        grouped.filter(F.size("_ids") > 1)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs (the
    verify-after-LSH stage). Join is on ids — candidates are few."""
    sh = shingles_two_stage(df, text_col, id_col, n, out_col="sh")
    j = (
        pairs.join(sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b")), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "a",
        "b",
        (inter / F.when(union > 0, union)).alias("jaccard"),
    )


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", threshold: float = 0.7) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → band candidates →
    exact-Jaccard verify → pairs above threshold.

    Byte-identical docs are collapsed to one representative BEFORE the LSH
    stages (an exact-dup group of size d shares every band → one d²/2-pair
    bucket otherwise; the reference's dedup-by-id contract export.py:
    102-114 generalized) and expanded back afterwards, so the returned
    pair set is identical to the uncollapsed pipeline: within-group pairs
    have jaccard exactly 1.0, cross-group pairs inherit the representative
    pair's jaccard (byte-identical text ⇒ identical shingle sets). The
    expansion output is quadratic only where the TRUE answer is quadratic;
    no intermediate shuffle is.

    The input (typically a raw table scan) is widened first when
    under-partitioned (:func:`skew.ensure_parallelism`): the collapse
    aggregate's map side hashes every text byte, and a single-row-group
    parquet source would run that in one task.
    """
    from .skew import ensure_parallelism

    df = ensure_parallelism(df)
    th = F.md5(F.col(text_col).cast("binary"))
    # ONE map-side-combined aggregate carries everything downstream needs:
    # the representative, the full (sorted) member-id list, and the
    # representative text — pinned with localCheckpoint(eager=False) so its
    # six consumers (signatures, both jaccard sides, within, cross ×2) read
    # ONE materialization. r6 measurement: AQE ReuseExchange does NOT dedupe
    # these subplans — each consumer prunes a different column subset out of
    # the aggregate (min only / collect_list only / all three), so the
    # canonicalized exchanges differ and the full text scan + md5 collapse
    # re-executed per consumer (guide §2.4: remove repeated passes). The r5
    # note claiming the pin was slower measured an EAGER variant confounded
    # by plan-build cost; the eager=False pin is 6.9 s → 2.0 s at sf1 by
    # itself. It is not lazy under AQE: the call itself runs the upstream
    # shuffle stages (the md5 collapse) to plan the pinned aggregate, so
    # that work lands inside this function, before any action.
    # Scale: the checkpoint materializes one row per distinct text — the
    # same bytes the collapse exchange already wrote, spilled to local disk
    # by storage level, vs 3-4 extra full-corpus scans without it.
    grp = df.groupBy(th.alias("_th")).agg(
        F.min(id_col).alias("_rep"),
        F.sort_array(F.collect_list(id_col)).alias("_ids"),
        F.min_by(F.col(text_col), F.col(id_col)).alias("_text"),
    ).localCheckpoint(eager=False)
    reps = grp.select(F.col("_rep").alias(id_col), F.col("_text").alias(text_col))
    sigs = minhash_signatures(reps, text_col, id_col)
    # candidates are consumed three times below (join key + both sides of
    # the id union) — checkpoint so banding runs once
    cands = minhash_candidates(sigs, id_col).localCheckpoint(eager=False)
    # exact-Jaccard verify touches only docs that appear in a candidate
    # pair: semi-join the reps down to those ids BEFORE shingling, so the
    # verify cost scales with |candidates|, not |corpus| (r6: the verify
    # stage shingled the full rep corpus TWICE — 1.4 s of the 4.6 s sf1
    # wall; with the restriction it is milliseconds). Result-identical:
    # shingle rows outside the candidate id set cannot join. Explicit
    # broadcast: hint-free, AQE converts the planned sort-merge semi to a
    # broadcast join at runtime but still executes the reps-side exchange
    # it already planned — a full shuffle of rep texts (measured +0.8 s at
    # sf1 in an interleaved A/B). cand_ids is bounded by 2·|candidate
    # pairs| — the same pair-scale object the cross-expansion below
    # already broadcasts (rep_pairs), so no new scale assumption.
    # no .distinct() on the id union: a left-semi join keeps a row if ANY
    # build-side key matches, so duplicate ids change nothing — and the
    # distinct cost an exchange + an AQE stage-job (cands is already
    # pair-distinct, so the union holds ≤ 2·|pairs| rows either way)
    cand_ids = cands.select(F.col("a").alias(id_col)).union(
        cands.select(F.col("b").alias(id_col))
    )
    reps_verify = reps.join(F.broadcast(cand_ids), id_col, "left_semi")
    rep_pairs = jaccard_pairs(reps_verify, cands, text_col, id_col).filter(
        F.col("jaccard") >= threshold
    )

    # within: all pairs inside an exact-dup group — a higher-order
    # expansion of the sorted id list (i<j ⇒ a<b), no window, no self-join.
    # Output is quadratic only where the TRUE answer is quadratic.
    ids = F.col("_ids")
    within_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    within = (
        grp.filter(F.size("_ids") > 1)
        .select(F.explode(within_pairs).alias("p"))
        .select("p.a", "p.b", F.lit(1.0).alias("jaccard"))
    )
    # cross: rep pairs (tiny, broadcast at every step) expand to member
    # pairs via the groups' id lists; grp streams — never broadcast, never
    # shuffled (100-TB-safe join direction).
    mem = grp.select("_rep", "_ids")
    half = mem.select(F.col("_rep").alias("a"), F.col("_ids").alias("_ids_a")).join(
        F.broadcast(rep_pairs), "a"
    )
    crossed = mem.select(F.col("_rep").alias("b"), F.col("_ids").alias("_ids_b")).join(
        F.broadcast(half), "b"
    )
    cross_pairs = F.flatten(
        F.transform(
            F.col("_ids_a"),
            lambda ma: F.transform(
                F.col("_ids_b"),
                lambda mb: F.struct(
                    F.least(ma, mb).alias("a"), F.greatest(ma, mb).alias("b")
                ),
            ),
        )
    )
    cross = crossed.select(F.explode(cross_pairs).alias("p"), "jaccard").select(
        "p.a", "p.b", "jaccard"
    )
    return cross.unionByName(within)


_SWAR_MASK = 0x0001000100010001  # one set bit per 16-bit counter field
# Above this token count the TOP counter field would carry into the long
# sign bit and ANSI mode aborts the add — such rows take the per-bit slow
# path instead (a per-row If branch: defined for every row, evaluated
# only for giants, so normal rows keep the 16-pass cost).
_SWAR_MAX_TOKENS = 32768


def _swar_acc_sql(col: str, j: int) -> str:
    """Σ over the long-array of (h >>> j) & 0x0001000100010001: field b of
    the result counts elements with bit (16b + j) set — 4 bit-position
    counters per traversal. Built as a SQL string so plan construction is
    one JVM parse instead of ~100 py4j roundtrips per accumulator."""
    return (
        f"aggregate({col}, CAST(0 AS BIGINT), (acc, h) -> "
        f"acc + (shiftrightunsigned(h, {j}) & CAST({_SWAR_MASK} AS BIGINT)))"
    )


def _slow_counts_sql(col: str) -> str:
    """Giant-document fallback: ONE traversal producing all 64 per-bit
    counts as a bigint array indexed by packed-long bit position (the
    pre-r5 formulation ran 64 separate per-bit ``aggregate`` lambdas —
    same values, but the 64-subtree expression cost ~2 s of JVM analysis
    per plan build). Counts are exact at any document size."""
    return (
        f"aggregate({col}, array_repeat(CAST(0 AS BIGINT), 64), (acc, h) -> "
        f"zip_with(acc, sequence(0, 63), (c, b) -> "
        f"c + (shiftrightunsigned(h, b) & CAST(1 AS BIGINT))))"
    )


def _sig_assembly_sql(bits: int, cnt_for_bit, slow_for_bit) -> str:
    """The 64-term majority-vote OR chain as one SQL expression:
    bit i is set when 2·count(bit i over tokens) > n. ``cnt_for_bit`` /
    ``slow_for_bit`` map a bit index to the SQL for its SWAR-field /
    per-bit count. Driver cost: string formatting + ONE parse."""
    fast = " | ".join(
        f"(CASE WHEN 2 * {cnt_for_bit(i)} > _n THEN "
        f"shiftleft(CAST(1 AS BIGINT), {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    slow = " | ".join(
        f"(CASE WHEN 2 * {slow_for_bit(i)} > _n THEN "
        f"shiftleft(CAST(1 AS BIGINT), {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return (
        f"CASE WHEN _n < {_SWAR_MAX_TOKENS} THEN ({fast}) ELSE ({slow}) END"
    )


def simhash_signature(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      bits: int = 64) -> DataFrame:
    """(id, simhash): per-bit majority over token hashes, assembled into a
    64-bit bigint — entirely higher-order array expressions (ZERO
    per-doc shuffle: no explode, no groupBy; same values as the former
    explode+sum formulation since sum(±1) > 0 ⟺ 2·count(bit=1) > n).
    The interpreted aggregate passes cost ~1 ms/doc, so an
    under-partitioned (single-row-group) source is widened first —
    :func:`skew.ensure_parallelism`; call on scan-stage frames only.

    r5: the projection is assembled as SQL STRINGS (``selectExpr``) —
    the former Column-DSL construction issued several thousand py4j
    roundtrips and cost 3-7 s of DRIVER time per plan build (measured at
    sf0.1, where it dominated the bench wall); the parsed expressions are
    identical, so signatures are bit-identical."""
    from .skew import ensure_parallelism

    df = ensure_parallelism(df)
    toks = f"split(trim(`{text_col}`), '\\\\s+')"
    out = df.selectExpr(
        f"`{id_col}`",
        f"transform({toks}, t -> xxhash64(t)) AS _hs",
        f"size({toks}) AS _n",
    )
    # SWAR bit-count (r4): pass j accumulates FOUR bit positions at once —
    # (h >>> j) & 0x0001000100010001 drops bits (16b + j) into independent
    # 16-bit counter fields — so 64 per-bit array traversals become 16
    # (higher-order aggregates are interpreted, so passes are the cost;
    # measured ~25% off the projection, bit-identical). Docs beyond
    # _SWAR_MAX_TOKENS take the per-bit path via a per-row If, so the
    # result is exact at ANY document size.
    out = out.selectExpr(
        f"`{id_col}`",
        "_n",
        *[
            f"CASE WHEN _n < {_SWAR_MAX_TOKENS} THEN "
            f"{_swar_acc_sql('_hs', j)} END AS _a{j}"
            for j in range(16)
        ],
        f"CASE WHEN _n >= {_SWAR_MAX_TOKENS} THEN "
        f"{_slow_counts_sql('_hs')} END AS _slow",
    )
    sig = _sig_assembly_sql(
        bits,
        cnt_for_bit=lambda i: (
            f"(shiftrightunsigned(_a{i % 16}, {16 * (i // 16)}) "
            f"& CAST(65535 AS BIGINT))"
        ),
        slow_for_bit=lambda i: f"element_at(_slow, {i + 1})",
    )
    return out.selectExpr(f"`{id_col}`", f"{sig} AS simhash")


def simhash_signature_md5(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Cross-engine-verifiable SimHash variant: token bit source = the md5
    hex digest (identical bytes in every engine) instead of xxhash64
    (Spark-only). Bit i of a token = bit (3 − i%4) of hex digit i//4.
    Same per-bit ±1 majority and 64-bit assembly as
    :func:`simhash_signature`; used by the driver oracle, where DuckDB
    mirrors the exact same arithmetic. Same source widening as the
    xxhash variant (the md5+conv packing is even heavier per doc)."""
    from .skew import ensure_parallelism

    df = ensure_parallelism(df)
    toks = f"split(trim(`{text_col}`), '\\\\s+')"
    # the first four 16-bit chunks of the md5 hex digest, packed into ONE
    # long per token (conv beats 16 per-digit instr lookups); bit i of the
    # signature lives in chunk i//16 at in-chunk position
    # (3 − (i//4)%4)·4 + (3 − i%4) — hex digit order is big-endian.
    # Zero-exchange + SWAR (r4); SQL-string assembly (r5, see
    # :func:`simhash_signature`) — bit-identical signatures, ~1000×
    # fewer py4j roundtrips at plan-build time.
    packed = (
        f"transform(transform({toks}, t -> md5(CAST(t AS BINARY))), h -> "
        f"CAST(conv(substring(h, 1, 4), 16, 10) AS BIGINT)"
        f" | shiftleft(CAST(conv(substring(h, 5, 4), 16, 10) AS BIGINT), 16)"
        f" | shiftleft(CAST(conv(substring(h, 9, 4), 16, 10) AS BIGINT), 32)"
        f" | shiftleft(CAST(conv(substring(h, 13, 4), 16, 10) AS BIGINT), 48))"
    )
    out = df.selectExpr(
        f"`{id_col}`", f"size({toks}) AS _n", f"{packed} AS _pk"
    )
    out = out.selectExpr(
        f"`{id_col}`",
        "_n",
        *[
            f"CASE WHEN _n < {_SWAR_MAX_TOKENS} THEN "
            f"{_swar_acc_sql('_pk', j)} END AS _a{j}"
            for j in range(16)
        ],
        f"CASE WHEN _n >= {_SWAR_MAX_TOKENS} THEN "
        f"{_slow_counts_sql('_pk')} END AS _slow",
    )

    def shift(i: int) -> int:
        return (3 - (i // 4) % 4) * 4 + (3 - i % 4)  # position within chunk

    sig = _sig_assembly_sql(
        64,
        cnt_for_bit=lambda i: (
            f"(shiftrightunsigned(_a{shift(i)}, {16 * (i // 16)}) "
            f"& CAST(65535 AS BIGINT))"
        ),
        slow_for_bit=lambda i: f"element_at(_slow, {16 * (i // 16) + shift(i) + 1})",
    )
    return out.selectExpr(f"`{id_col}`", f"{sig} AS simhash")


def choose_simhash_blocks(n_rows: int, max_hamming: int = 3,
                          bucket_cap: int = BUCKET_CAP) -> int:
    """The cheapest scale-safe block count for :func:`simhash_candidates`.

    Candidate generation is pigeonhole-exact at ANY block count
    n > max_hamming (band = a combination of n − max_hamming blocks), but
    the two scale knobs pull in opposite directions:

    - band count C(n, max_hamming) — rows through the explode+exchange —
      GROWS with n (h=3: n=4 → 4 bands, n=5 → 10, n=6 → 20);
    - band key width ~64·(n−h)/n bits — bucket-collision space — SHRINKS
      with n (h=3: n=4 → 16-bit keys, n=5 → ~24, n=6 → ~32).

    Pick the smallest n whose expected bucket occupancy
    ``n_rows / 2^key_bits`` stays ≤ bucket_cap/4 — far below the
    hot-bucket cap, so capping (a recall trade) stays a skew safety net
    rather than the common case. Conservative key width: the NARROWEST
    combo, ``floor(64/n)·(n−h)`` bits. For h=3, cap=256 the thresholds
    are: ≤4.2M rows → 4 blocks (Manku et al.'s WWW'07 table scheme),
    ≤1.1e9 → 5, else 6 (the 10^12-row regime). Callers with a cheap row
    count (parquet metadata) should pass it through; ``n_blocks=None``
    keeps the scale-safe 6-block default."""
    for n in range(max_hamming + 1, 6):
        key_bits = (64 // n) * (n - max_hamming)
        if n_rows <= (bucket_cap // 4) << key_bits:
            return n
    return 6


def simhash_candidates(sigs: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3, bucket_cap: int = BUCKET_CAP,
                       n_blocks: int | None = None) -> DataFrame:
    """SimHash near-dup pairs with scale-safe candidate generation.

    Banding (Manku et al., WWW'07 block-permutation idea, public): split
    the 64-bit signature into ``n_blocks`` near-equal blocks and key
    candidates on every combination of ``n_blocks − max_hamming`` blocks.
    Pigeonhole: hamming ≤ max_hamming flips bits in at most max_hamming
    blocks, so ≥ n_blocks − max_hamming blocks are clean and that
    combination's key matches — candidate generation is EXACT for every
    block count > max_hamming; the choice only moves the band-count vs
    key-width tradeoff (see :func:`choose_simhash_blocks`, which maps a
    corpus row count to the cheapest safe n). Default n_blocks=None = 6
    (h=3: C(6,3)=20 bands, ~32-bit keys — safe through ~10^11 rows
    without leaning on the bucket cap); for max_hamming > 5 it degrades
    to max_hamming+1 single-block bands (debug/small-scale mode).

    Identical signatures are collapsed to one representative before
    banding and expanded back as hamming-0 pairs, so exact-dup floods
    never enter the join; residual hot buckets are capped at
    ``bucket_cap`` representatives (every member still pairs with the
    representatives — see :func:`minhash_candidates` recall note).
    """
    if n_blocks is None:
        n_blocks = 6 if max_hamming <= 5 else min(max_hamming + 1, 64)
    if not max_hamming < n_blocks <= 64:
        raise ValueError(
            f"n_blocks must be in (max_hamming, 64]; got n_blocks={n_blocks}, "
            f"max_hamming={max_hamming}"
        )
    band_size = n_blocks - max_hamming
    widths = [(64 // n_blocks) + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def block(c: int) -> F.Column:
        return F.shiftrightunsigned(F.col("simhash"), offsets[c]).bitwiseAND(
            F.lit((1 << widths[c]) - 1)
        )

    # collapse identical signatures (exact dups flood every band); ONE
    # aggregate carries rep + sorted member list, pinned with
    # localCheckpoint(eager=False) so the four consumers (banding, within,
    # cross ×2) read one materialization. r6: ReuseExchange does NOT dedupe
    # these subplans — per-consumer column pruning (min only vs collect_list
    # only) canonicalizes the aggregates differently, so the md5+SWAR
    # signature scan re-executed per consumer (measured 5.5 s → 1.6 s at
    # sf1, 3.2 s → 0.4 s at sf0.1 from the pin alone; see
    # :func:`minhash_near_duplicates` for the same finding + scale note).
    # Under AQE the call runs the signature scan's shuffle stage at once:
    # eager=False defers only the final stage, not the upstream exchange.
    grp = sigs.groupBy("simhash").agg(
        F.min(id_col).alias("_rep"),
        F.sort_array(F.collect_list(id_col)).alias("_ids"),
    ).localCheckpoint(eager=False)
    reps = grp.select(F.col("_rep").alias(id_col), "simhash")

    combos = list(itertools.combinations(range(n_blocks), band_size))
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(F.lit(bi), *[block(c) for c in combo]).alias("bhash"),
        )
        for bi, combo in enumerate(combos)
    ]
    buckets = reps.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))

    # bucket-grain groupBy + member×rep higher-order expansion (no window,
    # no bucket self-join — see minhash_candidates' shuffle-profile note)
    grouped = buckets.groupBy("band", "bhash").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s")))
        ).alias("_m")
    )
    rep_slice = F.slice(F.col("_m"), 1, bucket_cap)
    cand = F.filter(
        F.flatten(
            F.transform(
                F.col("_m"),
                lambda m: F.transform(
                    rep_slice,
                    lambda r: F.struct(
                        F.least(m["i"], r["i"]).alias("a"),
                        F.greatest(m["i"], r["i"]).alias("b"),
                        F.bit_count(m["s"].bitwiseXOR(r["s"])).cast("int").alias("hamming"),
                    ),
                ),
            )
        ),
        lambda p: (p["a"] != p["b"]) & (p["hamming"] <= F.lit(max_hamming)),
    )
    rep_pairs = (
        grouped.filter(F.size("_m") > 1)
        .select(F.explode(cand).alias("p"))
        .select("p.a", "p.b", "p.hamming")
        .distinct()
    )

    # expand collapsed groups back to member pairs
    ids = F.col("_ids")
    within_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    within = (
        grp.filter(F.size("_ids") > 1)
        .select(F.explode(within_pairs).alias("p"))
        .select("p.a", "p.b", F.lit(0).cast("int").alias("hamming"))
    )
    # cross: broadcast the tiny rep-pair set at every step; grp streams
    mem = grp.select("_rep", "_ids")
    half = mem.select(F.col("_rep").alias("a"), F.col("_ids").alias("_ids_a")).join(
        F.broadcast(rep_pairs), "a"
    )
    crossed = mem.select(F.col("_rep").alias("b"), F.col("_ids").alias("_ids_b")).join(
        F.broadcast(half), "b"
    )
    cross_pairs = F.flatten(
        F.transform(
            F.col("_ids_a"),
            lambda ma: F.transform(
                F.col("_ids_b"),
                lambda mb: F.struct(
                    F.least(ma, mb).alias("a"), F.greatest(ma, mb).alias("b")
                ),
            ),
        )
    )
    cross = crossed.select(F.explode(cross_pairs).alias("p"), "hamming").select(
        "p.a", "p.b", "hamming"
    )
    return cross.unionByName(within)


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS: undirected edges (a, b) → one row
    per node with ``component`` = the smallest node id reachable from it.
    This is the step that turns a pair list into "keep one doc per
    cluster" — without it, transitively-linked near-dups (A~B, B~C but
    A≁C) survive pairwise dedup.

    Algorithm: min-label propagation + POINTER DOUBLING — each round every
    node takes min(own label, neighbors' labels), then labels shortcut one
    hop (component ← component-of-component), so a diameter-d chain
    converges in O(log d) rounds instead of O(d) (the difference between
    6 rounds and thousands on pathological boilerplate chains at corpus
    scale). Each round is two joins + one groupBy, all keyed on the node
    id; ``localCheckpoint`` truncates the growing lineage so round N's
    plan does not replay rounds 1..N-1. The driver-side convergence loop
    is the documented exception to "no driver iteration": the loop count
    is O(log n) worst case, data never comes to the driver (only the
    changed-row COUNT does).
    """
    edges = pairs.select("a", "b")
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nbr_comp"))
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce("nbr_comp", "component")).alias(
                "component"
            ),
        )
        # pointer doubling: component ← its component's component (always
        # ≤ current, since comp[x] ≤ x is invariant under min-propagation)
        hop = stepped.select(
            F.col("id").alias("cid"), F.col("component").alias("c2")
        )
        new = (
            stepped.join(hop, stepped.component == hop.cid, "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("c2", "component")).alias(
                    "component"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("component", "old"), "id")
            .filter(F.col("component") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # with pointer doubling this needs graph diameter > ~2^max_iter —
        # practically unreachable, but returning non-converged labels
        # silently would be a wrong answer with no signal
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels
