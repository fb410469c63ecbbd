"""Driver cost that every warm operation would pay again: Janino
recompiles when the generated-class cache is smaller than an operation's
working set, and py4j round trips for PySpark's per-call call-site
capture. Both are settled by ``session.get_spark``."""

import importlib.util
import os

import py4j.clientserver

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["stac_collections", "knn_exact_docs", "minhash_neardup", "pii_redact", "ivfpq_cosine"]


def _perfbench_gen():
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(ROOT, "perfbench", "gen.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_queries_pass_compiles_nothing(spark, tmp_path):
    # a pass over the benchmark's five queries uses more generated classes
    # than Spark's default 100-entry cache holds, in the same order every
    # pass, so with that cache the second pass recompiles every class
    import __spark_entry__ as E

    sf = str(tmp_path / "sf")
    _perfbench_gen().write_tables(sf, 7, 100, 100, 50)
    fns = E.queries()

    def one_pass() -> int:
        before = _compiles(spark)
        for name in QUERIES:
            fns[name](spark, sf).toPandas()
        return _compiles(spark) - before

    one_pass()
    assert one_pass() <= 5


def test_building_run_frames_captures_no_call_sites(spark, monkeypatch):
    # building ``run``'s lazy frames is driver work only; with call-site
    # capture on, every DataFrame and Column call adds about five py4j
    # round trips to it
    from stac_populator_spark.datagen import footprints_pdf, pages_df
    from stac_populator_spark.plans.pipeline import run_pipeline

    pages, fps = pages_df(spark, 100, partitions=2), footprints_pdf()
    run_pipeline(spark, pages, fps)["validated"].unpersist()
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        sent.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
    out = run_pipeline(spark, pages, fps)
    monkeypatch.undo()
    out["validated"].unpersist()
    assert len(sent) <= 2500
