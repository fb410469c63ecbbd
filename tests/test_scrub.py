"""PII redaction + benchmark decontamination (operators/scrub.py)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stac_populator_spark.operators.scrub import decontaminate, redact_pii


def test_redact_pii_classes_and_counts(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "write to alice@example.org or bob.smith@corp.io today",
                    "host 192.168.1.77 then call +123-456-7890 now",
                    "nothing sensitive here",
                ],
            }
        )
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["n_email"] == 2 and rows[1]["n_ipv4"] == 0
    assert rows[1]["text_redacted"] == "write to <EMAIL> or <EMAIL> today"
    assert rows[2]["n_ipv4"] == 1 and rows[2]["n_phone"] == 1
    assert rows[2]["text_redacted"] == "host <IPV4> then call <PHONE> now"
    assert rows[3]["text_redacted"] == "nothing sensitive here"
    assert rows[3]["n_email"] == rows[3]["n_ipv4"] == rows[3]["n_phone"] == 0


def test_decontaminate_routes_overlapping_docs(spark):
    eval_set = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": ["the quick brown fox jumps over lazy dogs"]})
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "totally unrelated words about spark and shuffles here",
                    "prefix words then the quick brown fox jumps over lazy dogs suffix",
                    "quick brown fox alone is only a 3-gram not a 5-gram match",
                ],
            }
        )
    )
    clean, cont = decontaminate(corpus, eval_set, n=5)
    cont_rows = {r["doc_id"]: r["n_hits"] for r in cont.collect()}
    assert set(cont_rows) == {2}
    assert cont_rows[2] >= 4  # the embedded eval doc contributes its grams
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 3]


def test_decontaminate_refuses_an_eval_set_above_the_bound(spark, monkeypatch):
    from stac_populator_spark.operators import scrub

    monkeypatch.setattr(scrub, "MAX_EVAL_DOCS", 2)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b c d e f"] * 3})
    )
    with pytest.raises(ValueError, match="more than 2 rows"):
        decontaminate(docs, docs)
    clean, cont = decontaminate(docs, docs.limit(2))
    assert cont.count() == 3 and clean.count() == 0


def test_decontaminate_corpus_gram_stage_is_narrow(spark):
    # r6: the gram stage is a narrow mapInArrow over (id, token-hash
    # array) rows — the corpus must NOT shuffle to produce hits (no gram
    # explode, no join, no aggregation exchange in the hits subtree); the
    # only join is re-attaching the tiny hits frame to the corpus rows
    import contextlib
    import io

    eval_set = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b c d e f"]}))
    corpus = spark.createDataFrame(pd.DataFrame({"doc_id": [2], "text": ["a b c d e g"]}))
    _, cont = decontaminate(corpus, eval_set)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cont.explain()
    plan = buf.getvalue()
    assert "MapInArrow" in plan
    assert "Generate" not in plan  # the gram explode is gone
    assert "SortMergeJoin" not in plan


def test_xxh64_chain_matches_spark(spark):
    # parity pin for the numpy XXH64 replica the decontamination kernel
    # is built on: multi-column chain, single column, and the array fold
    # must be bit-identical to Spark's xxhash64
    import numpy as np
    from pyspark.sql import functions as F

    from stac_populator_spark.functions.xxh import xxh64_chain

    rng = np.random.default_rng(11)
    data = rng.integers(-2**63, 2**63, size=(5000, 5), dtype=np.int64)
    pdf = pd.DataFrame(data, columns=[f"c{i}" for i in range(5)])
    df = spark.createDataFrame(pdf)
    got5 = df.select(
        F.xxhash64(*[F.col(f"c{i}") for i in range(5)]).alias("h")
    ).toPandas()["h"].to_numpy().astype(np.uint64)
    assert np.array_equal(got5, xxh64_chain([data[:, i] for i in range(5)]))
    got1 = df.select(F.xxhash64("c0").alias("h")).toPandas()["h"].to_numpy().astype(np.uint64)
    assert np.array_equal(got1, xxh64_chain([data[:, 0]]))
    gota = (
        df.select(F.array(*[F.col(f"c{i}") for i in range(3)]).alias("a"))
        .select(F.xxhash64("a").alias("h"))
        .toPandas()["h"].to_numpy().astype(np.uint64)
    )
    assert np.array_equal(gota, xxh64_chain([data[:, i] for i in range(3)]))


def test_redact_counts_match_actual_replacements(spark):
    # ADVICE r3: an IPv4-looking substring consumed by the email redaction
    # must not be counted as an IPv4 — n_<class> equals replacements made.
    import pandas as pd

    from stac_populator_spark.operators.scrub import redact_pii

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["contact 10.0.0.1@1.2.3.4.com plus real 10.0.0.9 host"]})
    )
    row = redact_pii(df).collect()[0]
    assert row["n_email"] == 1
    assert row["n_ipv4"] == 1  # only the standalone 10.0.0.9
    assert "<EMAIL>" in row["text_redacted"] and "<IPV4>" in row["text_redacted"]
    assert row["text_redacted"].count("<IPV4>") == row["n_ipv4"]
