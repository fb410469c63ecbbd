"""Validation + dead-letter routing (Spark-native analogue of the
reference's per-item failure isolation, /root/reference/STACpopulator/
populators.py:268-274 and error-item dumps populators.py:288-300).

Instead of a try/except per item, validity is a column predicate; invalid
rows are routed to an errors DataFrame with a ``failure_reason`` column
(the dead-letter table, K4 in SURVEY.md §2.2), valid rows continue. One
pass, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _rules(items: DataFrame, require_datetime: bool, structural: bool = False):
    """Ordered (name, predicate) validity rules. WGS84 ranges mirror
    check_wgs84_compliance (collection_update.py:18-40); structural rules
    mirror the reference's jsonschema/pystac item gate
    (extensions/base.py:107-125, populators.py:169-172)."""
    rules = [
        ("missing_id", F.col("id").isNull() | (F.length("id") == 0)),
        (
            "lon_out_of_range",
            F.col("lon_min").isNotNull()
            & ((F.col("lon_min") < -180) | (F.col("lon_min") > 180)
               | (F.col("lon_max") < -180) | (F.col("lon_max") > 180)),
        ),
        (
            "lat_out_of_range",
            F.col("lat_min").isNotNull()
            & ((F.col("lat_min") < -90) | (F.col("lat_min") > 90)
               | (F.col("lat_max") < -90) | (F.col("lat_max") > 90)),
        ),
    ]
    cols = items.columns
    if structural:
        if "geometry" in cols and "bbox" in cols:
            # STAC spec: bbox REQUIRED iff geometry is non-null
            rules.append(
                ("bbox_geometry_mismatch",
                 F.col("geometry").isNotNull() != F.col("bbox").isNotNull())
            )
        if "datetime" in cols and "start_datetime" in cols:
            # reference: properties.datetime null ⇔ start/end present
            # (populators.py:169-172) — exactly one of the two forms
            rules.append(
                ("datetime_and_range_both_set",
                 F.col("datetime").isNotNull() & F.col("start_datetime").isNotNull())
            )
            rules.append(
                ("datetime_and_range_both_missing",
                 F.col("datetime").isNull() & F.col("start_datetime").isNull())
            )
    if require_datetime:
        has_start = (
            F.col("start_datetime").isNotNull()
            if "start_datetime" in items.columns
            else F.lit(False)
        )
        rules.append(("datetime_missing", F.col("datetime").isNull() & ~has_start))
    return rules


def rule_names(items: DataFrame, require_datetime: bool = False,
               structural: bool = False) -> list[str]:
    """Every reason ``failure_reason`` can take over ``items``, in rule order."""
    return [name for name, _ in _rules(items, require_datetime, structural)]


def failure_reason(items: DataFrame, require_datetime: bool = False,
                   structural: bool = False) -> F.Column:
    """The first failing rule's name, null when every rule passes."""
    reason = F.lit(None).cast("string")
    for name, rule in reversed(_rules(items, require_datetime, structural)):
        reason = F.when(rule, F.lit(name)).otherwise(reason)
    return reason


def split_valid_invalid(items: DataFrame, require_datetime: bool = False,
                        structural: bool = False):
    """Returns (valid, dead_letter). dead_letter carries failure_reason —
    the first failing rule, mirroring the reference's single logged error
    per failed item. ``structural=True`` adds the STAC structural gate
    (bbox⇔geometry consistency, datetime-vs-range exclusivity)."""
    with_reason = items.withColumn(
        "failure_reason", failure_reason(items, require_datetime, structural)
    )
    valid = with_reason.filter(F.col("failure_reason").isNull()).drop("failure_reason")
    dead = with_reason.filter(F.col("failure_reason").isNotNull())
    return valid, dead


_INT_RE = r"^-?\d+$"
_NUM_RE = r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$"


def compile_jsonschema(schema: dict, items: DataFrame) -> list:
    """Compile a jsonschema-subset document into ordered
    (reason, violation-predicate) column rules — the schema itself is DATA,
    like the reference's per-extension schema files validated with
    jsonschema.iter_errors (extensions/base.py:107-125; exercised by
    tests/test_cmip6_datacube.py:43-57).

    Supported keywords: ``required``, and per-property ``type`` (string/
    number/integer/boolean), ``enum``, ``pattern`` (search semantics, like
    jsonschema/rlike), ``minimum``/``maximum``, ``minLength``/
    ``maxLength``. Properties map to DataFrame columns; a property absent
    from the DataFrame is an always-null column (``required`` fails,
    value checks are vacuous — jsonschema's absent-property rule).
    Reasons are ``required:<prop>`` / ``<prop>:<check>``; rule order is
    schema order (required first), so the dead-letter reason is the FIRST
    violation, mirroring the reference's single logged error per item.
    """
    from pyspark.sql import types as T

    fields = {f.name: f.dataType for f in items.schema.fields}

    def col_of(name):
        return F.col(name) if name in fields else F.lit(None).cast("string")

    def is_numeric(name):
        return isinstance(fields.get(name), (T.IntegerType, T.LongType, T.FloatType,
                                             T.DoubleType, T.DecimalType, T.ShortType,
                                             T.ByteType))

    rules = []
    for prop in schema.get("required", []):
        rules.append((f"required:{prop}", col_of(prop).isNull()))

    for prop, checks in schema.get("properties", {}).items():
        v = col_of(prop)
        present = v.isNotNull()
        typ = checks.get("type")
        if typ is not None:
            if typ in ("number", "integer") and not is_numeric(prop):
                pat = _INT_RE if typ == "integer" else _NUM_RE
                rules.append((f"{prop}:type", present & ~v.cast("string").rlike(pat)))
            elif typ == "string" and is_numeric(prop):
                rules.append((f"{prop}:type", present))
            elif typ == "boolean" and not isinstance(fields.get(prop), T.BooleanType):
                rules.append(
                    (f"{prop}:type", present & ~F.lower(v.cast("string")).isin("true", "false"))
                )
            # matching Spark type → statically satisfied, no runtime rule
        if "enum" in checks:
            rules.append((f"{prop}:enum", present & ~v.isin(list(checks["enum"]))))
        if "pattern" in checks:
            rules.append((f"{prop}:pattern", present & ~v.cast("string").rlike(checks["pattern"])))
        num = v.cast("double") if is_numeric(prop) else F.when(
            v.cast("string").rlike(_NUM_RE), v.cast("double")
        )
        if "minimum" in checks:
            rules.append((f"{prop}:minimum", present & (num < float(checks["minimum"]))))
        if "maximum" in checks:
            rules.append((f"{prop}:maximum", present & (num > float(checks["maximum"]))))
        if "minLength" in checks:
            rules.append((f"{prop}:minLength", present & (F.length(v) < int(checks["minLength"]))))
        if "maxLength" in checks:
            rules.append((f"{prop}:maxLength", present & (F.length(v) > int(checks["maxLength"]))))
    return rules


def schema_failure_reason(schema: dict, items: DataFrame) -> F.Column:
    """First-violation reason column (null = schema-valid)."""
    reason = F.lit(None).cast("string")
    for name, rule in reversed(compile_jsonschema(schema, items)):
        reason = F.when(rule, F.lit(name)).otherwise(reason)
    return reason


def split_by_schema(items: DataFrame, schema: dict):
    """(valid, dead_letter) driven by a jsonschema-subset document; dead
    rows carry the first failing rule as failure_reason."""
    with_reason = items.withColumn("failure_reason", schema_failure_reason(schema, items))
    valid = with_reason.filter(F.col("failure_reason").isNull()).drop("failure_reason")
    dead = with_reason.filter(F.col("failure_reason").isNotNull())
    return valid, dead


def cv_check(col: str, vocabulary: tuple | list) -> F.Column:
    """Controlled-vocabulary predicate (the reference turns pyessv CV terms
    into Literal types and rejects anything else — extensions/cmip6.py:
    47-67, stac_utils.py:47-50). True = violation: non-null value outside
    the vocabulary. CVs are small (tens–hundreds of terms) → a literal
    isin, whole-stage codegen, no join."""
    return F.col(col).isNotNull() & ~F.col(col).isin(list(vocabulary))


def unknown_collection_dead_letter(items: DataFrame, collections: DataFrame,
                                   collection_col: str = "collection_id"):
    """Items referencing a collection id that does not exist → dead letter
    (FIXTURES.md §6; reference analogue: failed POST to /collections/{cid}/
    items). Broadcast anti-join — the collections dim is small."""
    known = collections.select(collection_col).distinct()
    valid = items.join(F.broadcast(known), collection_col, "left_semi")
    dead = items.join(F.broadcast(known), collection_col, "left_anti").withColumn(
        "failure_reason", F.lit("unknown_collection")
    )
    return valid, dead
