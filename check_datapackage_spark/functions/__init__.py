"""Reusable column expressions: format regexes + type-conformance predicates.

All JVM-side (``pyspark.sql.functions``) so they stay inside whole-stage
codegen — no Python in the hot path; the one exception is
:func:`array_elements_ok`, whose ``forall`` lambda is interpreted.
These back check classes C2 (``type``), C3 (``format``), C4
(``pattern``) of SURVEY.md §2.3, mapping the reference's
``FormatChecker`` formats (``check.py:560``) and the 15-type ``oneOf``
dispatch (``check.py:683-725``) to vectorized predicates.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType


def quoted_col(name: str) -> Column:
    """The top-level column literally named ``name``. ``F.col`` parses
    its argument, so a dot would address a struct field and an odd
    backtick would raise; quoting takes the name verbatim."""
    return F.col("`" + name.replace("`", "``") + "`")


# --- format regexes (C3) ---------------------------------------------------
# Pragmatic vectorized equivalents of jsonschema's FormatChecker formats.

EMAIL_RE = r"^[A-Za-z0-9.!#$%&'*+/=?^_`{|}~-]+@[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?(?:\.[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?)+$"
URI_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s]*$"
UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
BASE64_RE = r"^[A-Za-z0-9+/]*={0,2}$"
YEAR_RE = r"^[0-9]{4}$"
YEARMONTH_RE = r"^[0-9]{4}-(0[1-9]|1[0-2])$"
DATE_RE = r"^[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])$"
TIME_RE = r"^([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\.[0-9]+)?$"
DATETIME_RE = (
    r"^[0-9]{4}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
    r"[Tt ]([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\.[0-9]+)?"
    r"([Zz]|[+-][01][0-9]:?[0-5][0-9])?$"
)
# ISO-8601 duration, e.g. P1Y2M3DT4H5M6S (ref Table Schema duration type).
DURATION_RE = (
    r"^-?P(?=[0-9TYMWD])([0-9]+Y)?([0-9]+M)?([0-9]+W)?([0-9]+D)?"
    r"(T(?=[0-9])([0-9]+H)?([0-9]+M)?([0-9]+(\.[0-9]+)?S)?)?$"
)

FORMAT_REGEXES = {
    "email": EMAIL_RE,
    "uri": URI_RE,
    "uuid": UUID_RE,
    "binary": BASE64_RE,
}


def string_format_ok(col: Column, fmt: str) -> Column:
    """C3: string format conformance. NULLs pass (required handles those)."""
    if fmt in (None, "default"):
        return F.lit(True)
    regex = FORMAT_REGEXES.get(fmt)
    if regex is None:
        return F.lit(True)
    return col.isNull() | col.rlike(regex)


# --- type-conformance predicates (C2) --------------------------------------
# For *string-typed staging columns* (data not yet cast): does the text
# parse as the declared Table Schema type? NULL passes — `required` (C1)
# owns null-ness, mirroring jsonschema where a missing property is a
# `required` error, not a `type` error.


def _null_ok(col: Column, pred: Column) -> Column:
    return col.isNull() | pred


def type_conforms(col: Column, table_type: str, fmt: str = "default") -> Column:
    """Boolean column: value conforms to the declared Table Schema type.

    Mapping per SURVEY.md §1.3. Uses ``try_cast``/regex — fully
    vectorized, never throws. For natively-typed columns (e.g. an int32
    parquet column declared ``integer``) conformance is structural and
    checked driver-side against ``df.schema``; this function handles the
    string-staging path.
    """
    if table_type in ("any",):
        return F.lit(True)
    if table_type == "string":
        return string_format_ok(col, fmt)
    if table_type == "number":
        return _null_ok(col, col.try_cast("double").isNotNull())
    if table_type == "integer":
        return _null_ok(col, col.try_cast("long").isNotNull())
    if table_type == "boolean":
        return _null_ok(
            col,
            F.lower(col).isin("true", "false", "1", "0", "yes", "no"),
        )
    if table_type == "date":
        return _null_ok(col, col.rlike(DATE_RE) & col.try_cast("date").isNotNull())
    if table_type == "time":
        return _null_ok(col, col.rlike(TIME_RE))
    if table_type == "datetime":
        return _null_ok(
            col, col.rlike(DATETIME_RE) & col.try_cast("timestamp").isNotNull()
        )
    if table_type == "year":
        return _null_ok(col, col.rlike(YEAR_RE))
    if table_type == "yearmonth":
        return _null_ok(col, col.rlike(YEARMONTH_RE))
    if table_type == "duration":
        return _null_ok(col, col.rlike(DURATION_RE))
    if table_type in ("object", "geojson"):
        # JSON object text → try_parse_json non-null and starts with '{'
        return _null_ok(
            col,
            F.ltrim(col).startswith("{") & F.try_parse_json(col).isNotNull(),
        )
    if table_type == "array":
        return _null_ok(
            col,
            F.ltrim(col).startswith("[") & F.try_parse_json(col).isNotNull(),
        )
    if table_type == "geopoint":
        # three declared formats (reference schema geopoint formats
        # default/array/object, SURVEY §1.3):
        #   default — "lon,lat" string
        #   array   — JSON text "[lon, lat]" (native array<double>
        #             columns are checked with geopoint_array_ok)
        #   object  — JSON text '{"lon": ..., "lat": ...}'
        if fmt == "array":
            arr = F.from_json(col, "array<double>")
            lon = F.try_element_at(arr, F.lit(1))
            lat = F.try_element_at(arr, F.lit(2))
            return _null_ok(
                col,
                arr.isNotNull()
                & (F.size(arr) == 2)
                & lon.isNotNull()
                & lat.isNotNull()
                & lon.between(-180.0, 180.0)
                & lat.between(-90.0, 90.0),
            )
        if fmt == "object":
            st = F.from_json(col, "struct<lon:double,lat:double>")
            # explicit isNotNull guards: a missing/unparseable lon or
            # lat must yield FALSE, not SQL NULL (NULL ok-predicates
            # would slip past the violations filter)
            return _null_ok(
                col,
                F.ltrim(col).startswith("{")
                & st.isNotNull()
                & st["lon"].isNotNull()
                & st["lat"].isNotNull()
                & st["lon"].between(-180.0, 180.0)
                & st["lat"].between(-90.0, 90.0),
            )
        return _null_ok(
            col,
            col.rlike(r"^\s*-?[0-9]+(\.[0-9]+)?\s*,\s*-?[0-9]+(\.[0-9]+)?\s*$"),
        )
    return F.lit(True)


def geopoint_array_ok(col: Column) -> Column:
    """Geopoint (array format): [lon, lat] with range checks."""
    return col.isNull() | (
        (F.size(col) == 2)
        & F.try_element_at(col, F.lit(1)).between(-180.0, 180.0)
        & F.try_element_at(col, F.lit(2)).between(-90.0, 90.0)
    )


def array_elements_ok(col: Column, element_pred) -> Column:
    """C2 on array elements: every element satisfies ``element_pred``.

    ``F.forall`` — JVM-side, no shuffle, no Python, but its lambda is
    interpreted: a higher-order function is a ``CodegenFallback``, so
    the node holding it leaves whole-stage codegen. For a numeric
    range over the elements use :func:`array_range_ok`, which stays in
    generated code.
    """
    return col.isNull() | F.forall(col, element_pred)


def array_range_ok(
    col: Column, lo: int, hi: int, null_elements_ok: bool = False
) -> Column:
    """Every element of a numeric array lies in ``[lo, hi]`` — the
    codegen form of ``forall(col, x -> x IS NOT NULL AND lo <= x <= hi)``.

    ``array_min``/``array_max`` skip null elements, so the range part
    alone equals ``NOT exists(col, x -> x < lo OR x > hi)`` with nulls
    passing (``null_elements_ok=True``). Otherwise null elements fail,
    detected by ``array_contains(col, lo - 1)``: it is NULL when ``col``
    holds a null element and no ``lo - 1``, and ``lo - 1`` fails the
    range by itself, so ``coalesce(NOT contains, false)`` rejects
    exactly the arrays with a null or an out-of-range element.
    (``arrays_overlap(col, array(lo - 1))`` gives the same answer but
    hashes every element: measured ~20% slower warm, 1.7× slower on a
    query's first, not yet JIT-compiled execution.) Empty arrays pass;
    a NULL array passes (``required`` owns nulls).
    """
    in_range = F.coalesce(F.array_min(col) >= F.lit(lo), F.lit(True)) & F.coalesce(
        F.array_max(col) <= F.lit(hi), F.lit(True)
    )
    if not null_elements_ok:
        no_null = F.coalesce(~F.array_contains(col, F.lit(lo - 1)), F.lit(False))
        in_range = in_range & no_null
    return col.isNull() | in_range


def unpivot(
    wide: DataFrame, keep: list, values: str, labels: list, value_name: str
) -> DataFrame:
    """Long form of ``wide``: one row per element of its array column
    ``values``, holding the ``keep`` columns, the element's entry of
    ``labels`` (dicts of strings with the same keys, one per element)
    and the element itself as ``value_name``.

    Column API only: the labels — check and column names, i.e. user
    text — travel as one JSON string literal parsed by ``from_json``,
    never as SQL text, so quotes, backticks, dots and brackets are
    safe. Building the values as one array in the aggregate and the
    labels as one literal keeps plan building at a few py4j calls: a
    ``struct`` of literals per element cost ~0.1 s per plan for ~40
    jsonSchema checks."""
    fields = list(labels[0]) if labels else []
    schema = ArrayType(StructType([StructField(f, StringType()) for f in fields]))
    table = F.from_json(F.lit(json.dumps(labels)), schema)
    long = wide.select(
        *keep, table.alias("_labels"), F.posexplode(values).alias("_pos", value_name)
    )
    row = F.element_at("_labels", F.col("_pos") + 1)
    return long.select(*keep, *[row[f].alias(f) for f in fields], value_name)
