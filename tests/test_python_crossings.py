"""Ratchet on the ways the package crosses into Python row by row.

Every scalar ``pandas_udf``, every ``mapInPandas`` call and every
grouped-map call (``applyInPandas``, ``applyInPandasWithState``) in
``stac_populator_spark/`` is listed below by ``module:function`` (the
outermost function that holds it). The preferred crossing is a
``mapInArrow`` kernel, or no crossing at all where a JVM expression states
the math. A new site fails this test until it is added to the list on
purpose; a change that removes a site also shortens the list, so the
count only goes down.
"""

import ast
import os
from collections import Counter

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "stac_populator_spark")

SCALAR_PANDAS_UDF = Counter({
    "operators.cells:all_cells_udf": 1,
    "operators.knn:hex_cell_at_res": 1,
    "operators.knn:kring_udf": 1,
    # feeds a posexplode of band signatures; it restates no other code
    "operators.similarity:lsh_bands_udf": 1,
})

MAP_IN_PANDAS = Counter({
    "datagen:pages_df": 1,
    "operators.cmip6:cmip6_items": 1,
    "operators.cordex6:cordex6_items": 1,
    "operators.registry:apply_parsers": 1,
    "sources.cfattrs:cf_items": 1,
})

GROUPED_MAP = Counter({
    "operators.registry:zscore_by_group": 1,
})


def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _sites():
    """(scalar pandas_udf, mapInPandas, grouped-map) sites as Counters."""
    scalar, map_in_pandas, grouped_map = Counter(), Counter(), Counter()
    for dirpath, _, files in os.walk(PACKAGE):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            module = os.path.relpath(path, PACKAGE)[:-3].replace(os.sep, ".")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)

            def visit(node, outer):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    outer = outer or node.name
                    for dec in node.decorator_list:
                        if _name(dec) == "pandas_udf":  # bare @pandas_udf
                            scalar[f"{module}:{outer}"] += 1
                if isinstance(node, ast.Call):
                    if _name(node.func) == "pandas_udf":
                        scalar[f"{module}:{outer}"] += 1
                    elif _name(node.func) == "mapInPandas":
                        map_in_pandas[f"{module}:{outer}"] += 1
                    elif _name(node.func) in ("applyInPandas", "applyInPandasWithState"):
                        grouped_map[f"{module}:{outer}"] += 1
                for child in ast.iter_child_nodes(node):
                    visit(child, outer)

            visit(tree, None)
    return scalar, map_in_pandas, grouped_map


def test_scalar_pandas_udf_sites_are_the_listed_ones():
    scalar, _, _ = _sites()
    assert scalar == SCALAR_PANDAS_UDF


def test_map_in_pandas_sites_are_the_listed_ones():
    _, map_in_pandas, _ = _sites()
    assert map_in_pandas == MAP_IN_PANDAS


def test_grouped_map_sites_are_the_listed_ones():
    _, _, grouped_map = _sites()
    assert grouped_map == GROUPED_MAP
