"""Corpus scrubbing stages for training-data pipelines: PII redaction and
benchmark decontamination.

Both are standard stages of public web-text pipelines (the GPT-3 paper's
13-gram eval-overlap filter, Appendix A; C4's regex scrubbing) re-expressed
Spark-first:

- **PII redaction** runs the patterns as pyarrow RE2 kernels in one
  ``mapInArrow`` pass over whole Arrow batches — a narrow linear scan, no
  shuffle. Patterns are deliberately RE2-compatible so the DuckDB oracle
  mirrors them verbatim.
- **Decontamination** is a numpy fingerprint kernel: token hashes are
  computed in the JVM, then one ``mapInArrow`` folds them into n-gram
  fingerprints and probes the eval side's sorted fingerprint array
  (collected once, broadcast) — contaminated doc ids come back from a
  narrow map, without exploding or shuffling the corpus.

Reference tie-in: the dead-letter/validity framing follows the same
route-don't-drop contract as operators/validate.py (reference
populators.py:268-274 failure isolation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# RE2-safe patterns (no backrefs/lookarounds): identical strings work in
# Spark (Java regex) and DuckDB (RE2) — the oracle mirrors them verbatim
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    # \+?\b (not \b\+?): there is no word boundary between ' ' and '+', so
    # \b-first silently drops the leading '+' from the match
    "phone": r"\+?\b\d{3}[-.]\d{3,4}[-.]\d{4}\b",
}


# eval documents decontaminate collects to the driver; benchmarks are
# thousands of documents, so a larger eval set is a caller error
MAX_EVAL_DOCS = 100_000


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "text_redacted") -> DataFrame:
    """Replace each PII class with ``<CLASS>`` and count matches per class
    (``n_<class>`` columns; DuckDB mirror: LEN(REGEXP_EXTRACT_ALL(...))).

    Each ``n_<class>`` is counted against the PROGRESSIVELY-REDACTED text —
    the same value the class' own regexp_replace sees — so the count equals
    the number of replacements actually made (ADVICE r3: an IPv4-looking
    substring inside an already-redacted email must not inflate n_ipv4).

    r6 (guide §4.2): the six regex passes run as pyarrow RE2 kernels in
    one ``mapInArrow`` over whole batches instead of java.util.regex in
    codegen — the patterns are RE2-compatible BY CONTRACT (the DuckDB
    oracle executes the very same strings under RE2, so cross-engine
    equality already pins the two engines' match semantics on these
    patterns). Measured 3.3s → ~1s on the sf1 bench entry; counts/bytes
    verified identical at sf0.01/0.1/1.0. Column pruning note: pass only
    the columns you need — everything in ``df`` crosses the Arrow
    boundary (Catalyst cannot prune through mapInArrow)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(f"n_{name}", T.IntegerType()) for name in PII_PATTERNS]
        + [T.StructField(out_col, T.StringType())]
    )
    names = schema.fieldNames()

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                yield _redact_batch(batch, text_col, names)

    return df.mapInArrow(run, schema=schema)


def _redact_batch(batch, text_col: str, names: list):
    """One Arrow batch of :func:`redact_pii`: the input columns, then the
    ``n_<class>`` counts, then the redacted text. A module-level function,
    so a worker that unpickles the kernel imports the engine package."""
    import pyarrow as pa
    import pyarrow.compute as pc

    red = batch.column(text_col)
    if not pa.types.is_string(red.type):
        red = pc.cast(red, pa.string())
    arrays = list(batch.columns)
    for name, pat in PII_PATTERNS.items():
        arrays.append(pc.cast(pc.count_substring_regex(red, pattern=pat), pa.int32()))
        red = pc.replace_substring_regex(red, pattern=pat, replacement=f"<{name.upper()}>")
    arrays.append(red)
    return pa.RecordBatch.from_arrays(arrays, names=names)


def words_col(text_col) -> F.Column:
    """Whitespace token array — materialize this in its OWN projection
    before handing it to :func:`ngram_hashes_from_words`."""
    return F.split(F.trim(text_col), r"\s+")


def ngram_hashes_from_words(words: F.Column, n: int = 5) -> F.Column:
    """Distinct xxhash64 hashes of word n-grams (the decontamination
    fingerprint unit; the GPT-3 filter used 13-grams — pick ``n`` to the
    corpus' typical document length).

    ``words`` MUST be a reference to an already-computed array column
    (guide §4/§1 measurement, r6): an expression embedded in a lambda body
    is re-evaluated PER ARRAY ELEMENT — higher-order functions run
    interpreted and nothing eliminates the common subexpression — so an
    inline ``split()`` here cost O(tokens²) regex work per document
    (measured 40.6s → 4.7s on the sf1 corpus gram stage alone)."""
    # positions 1..m-n+1 → sequence 0..m-n inclusive (m-n+1 grams)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, n))),
    )
    return F.array_distinct(
        F.when(F.size(words) >= n, grams).otherwise(
            F.array(F.xxhash64(F.concat_ws(" ", words)))
        )
    )


def token_hashes_col(words: F.Column) -> F.Column:
    """Per-token xxhash64 array — materialize in its OWN projection before
    :func:`decontaminate`'s gram kernel reads it (same per-element
    re-evaluation rule as :func:`words_col`)."""
    return F.transform(words, lambda t: F.xxhash64(t))


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """(clean, contaminated): training docs sharing ANY word n-gram with
    the eval/benchmark set are routed out (never silently dropped —
    contaminated carries ``n_hits``).

    Scale shape: the eval side is small by construction (benchmarks are
    thousands of documents, the corpus 10^12). Its token-hash arrays come
    to the driver — at most ``MAX_EVAL_DOCS`` rows, a larger eval set
    raises ``ValueError`` — and the same numpy code that scans the corpus
    fingerprints them into one sorted array, broadcast to the executors.
    The corpus side is one narrow ``mapInArrow``: it computes each
    document's n-gram fingerprints (``xxh64_chain`` is a bit-exact replica
    of Spark's ``xxhash64(h_i, .., h_{i+n-1})`` fold, parity test-pinned),
    tests them against the broadcast array with ``searchsorted``, and
    emits (id, n_hits) for matched documents only. No gram explode, no
    join and no aggregation exchange produce the hits; the two outputs
    join the corpus to that small id set.

    The broadcast is not unpersisted here: both returned frames run the
    kernel lazily, after this call returns, and ``Broadcast.unpersist``
    only drops executor copies (they are re-sent on the next use), so no
    point inside this function releases anything.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from ..functions.xxh import gram_fingerprints

    def _token_hash_frame(df, *cols):
        keep = [F.col(c) for c in cols]
        return df.select(*keep, words_col(F.col(text_col)).alias("_w")).select(
            *keep, token_hashes_col(F.col("_w")).alias("_h")
        )

    ev = _token_hash_frame(eval_set).limit(MAX_EVAL_DOCS + 1).toPandas()["_h"]
    if len(ev) > MAX_EVAL_DOCS:
        raise ValueError(
            f"decontaminate collects the eval set to the driver; it has more than "
            f"{MAX_EVAL_DOCS} rows"
        )
    lists = [np.asarray(a, dtype=np.int64) if a is not None else np.empty(0, np.int64)
             for a in ev]
    offsets = np.zeros(len(lists) + 1, dtype=np.int64)
    if lists:
        offsets[1:] = np.cumsum([len(a) for a in lists])
    flat = np.concatenate(lists) if lists else np.empty(0, np.int64)
    _, ev_fp = gram_fingerprints(flat, offsets, n)
    ev_sorted = np.unique(ev_fp)
    bc = corpus.sparkSession.sparkContext.broadcast(ev_sorted)

    id_field = corpus.schema[id_col]
    schema = T.StructType([id_field, T.StructField("n_hits", T.LongType())])

    def run(batches):
        ev_set = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column("_h")
            lengths = pc.fill_null(pc.list_value_length(col), 0).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            off = np.zeros(len(lengths) + 1, dtype=np.int64)
            off[1:] = np.cumsum(lengths)
            vals = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            doc_idx, fp = gram_fingerprints(vals, off, n)
            if ev_set.size and fp.size:
                pos = np.searchsorted(ev_set, fp)
                pos_c = np.minimum(pos, ev_set.size - 1)
                matched = doc_idx[ev_set[pos_c] == fp]
            else:
                matched = np.empty(0, np.int64)
            docs, counts = np.unique(matched, return_counts=True)
            ids = batch.column(id_col).take(pa.array(docs))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(counts.astype(np.int64), pa.int64())],
                names=[id_col, "n_hits"],
            )

    hits = _token_hash_frame(corpus, id_col).mapInArrow(run, schema=schema)
    contaminated = corpus.join(hits, id_col)
    clean = corpus.join(hits.select(id_col), id_col, "left_anti")
    return clean, contaminated
