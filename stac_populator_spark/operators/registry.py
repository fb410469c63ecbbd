"""User-pluggable post-processor registry (P18 in SURVEY.md §2.3).

The reference lets users bolt arbitrary functions onto the pipeline via
CLI (-x/-X/-a), importing ``module:function`` at runtime and injecting
kwargs by signature inspection (/root/reference/STACpopulator/utils.py:9-48,
binding populators.py:93-100, apply sites populators.py:196-198,265-267).

Spark-native shape: a registered parser is a **pandas-batch function**
``(pd.DataFrame, **kwargs) -> pd.DataFrame`` appended to the item pipeline
as a ``mapInPandas`` stage — vectorized, kwargs injected by signature
exactly like the reference (unknown kwargs are silently dropped,
utils.py:38-44). Collection-level parsers run on the (tiny) aggregated
collections DataFrame the same way.
"""

from __future__ import annotations

import importlib
import inspect
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame

_REGISTRY: dict[str, Callable] = {}


def register_parser(name: str, fn: Callable) -> None:
    _REGISTRY[name] = fn


def load_parser(spec: str) -> Callable:
    """'package.module:function' → callable (reference utils.py:9-33 —
    the file-path variant is out of scope here; module specs only)."""
    mod_name, _, fn_name = spec.partition(":")
    if not fn_name:
        raise ValueError(f"parser spec must be 'module:function', got {spec!r}")
    mod = importlib.import_module(mod_name)
    return getattr(mod, fn_name)


def _filter_kwargs(fn: Callable, kwargs: dict) -> dict:
    """Signature-based kwarg injection (reference utils.py:38-44): pass
    only the kwargs the function declares, unless it takes **kwargs."""
    sig = inspect.signature(fn)
    if any(p.kind is inspect.Parameter.VAR_KEYWORD for p in sig.parameters.values()):
        return kwargs
    return {k: v for k, v in kwargs.items() if k in sig.parameters}


def apply_parsers(
    items: DataFrame,
    parsers: list[Callable | str],
    schema=None,
    **kwargs,
) -> DataFrame:
    """Append registered/user parsers to the item pipeline as one
    mapInPandas stage (functions compose in order, like the reference's
    sequential parser loop). ``schema`` defaults to the input schema —
    parsers that add columns must pass the widened schema."""
    fns = []
    for p in parsers:
        if isinstance(p, str):
            p = _REGISTRY[p] if p in _REGISTRY else load_parser(p)
        fns.append((p, _filter_kwargs(p, kwargs)))
    out_schema = schema or items.schema

    def run(batches):
        for pdf in batches:
            for fn, kw in fns:
                pdf = fn(pdf, **kw)
            yield pdf

    return items.mapInPandas(run, schema=out_schema)


def zscore_by_group(df: DataFrame, value_col: str, group_col: str,
                    out_col: str = "zscore") -> DataFrame:
    """Grouped-map ``applyInPandas``: z-score ``value_col`` within each
    ``group_col`` group (sample stddev, ddof=1 — the same estimator as
    Spark's stddev and DuckDB's STDDEV). The §2.7 collection-level parser
    surface as a real normalization op: each group arrives as ONE pandas
    frame, so the whole-group statistics the reference's collection
    parsers need (populators.py:196-198) are a vectorized expression.

    Degenerate groups (n==1 or zero variance) emit null. Scale note: a
    group must fit one executor's memory — grouping keys here are
    low-cardinality dimensions (lang, collection); for per-key normalizing
    of UNBOUNDED groups use the window-function formulation instead.
    """
    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.DoubleType())])

    def norm(pdf):
        import pandas as pd

        v = pdf[value_col].astype("float64")
        s = v.std(ddof=1)
        if s and not np.isnan(s):
            # nullable Float64 so Arrow encodes true SQL NULLs (not NaN)
            # for any NaN lanes — matching the DuckDB oracle's NULLs
            pdf[out_col] = pd.array(np.round((v - v.mean()) / s, 6), dtype="Float64")
        else:
            pdf[out_col] = pd.array([None] * len(pdf), dtype="Float64")
        return pdf

    return df.groupBy(group_col).applyInPandas(norm, schema=schema)
