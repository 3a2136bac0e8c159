"""Nested-column validation — the JSONPath wildcard subsystem analog
(SURVEY §2.2 P2: ``finditer`` with node paths; ``[*]`` → posexplode so
the emitted address carries the reference's ``[i]`` array index,
``internals.py:28-46``).

Validates elements of an ``array<struct<...>>`` column against a nested
TableSpec, emitting violation rows addressed
``$.<table>[<row>].<column>[<i>].<field>`` — exactly the reference's
normalized-path convention (``['x']`` → ``.x``).

Scale shape: one ``posexplode`` projection (no shuffle — explode is a
generator in the same stage), then the SAME fused single-scan violation
plan over the exploded frame. Catalyst prunes the scan to the array
column + row key.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compile import CompiledCheck, compile_field_checks
from ..issue import VIOLATION_COLUMNS
from ..spec import TableSpec


def nested_violations(
    df: DataFrame,
    array_col: str,
    element_spec: TableSpec,
    table_name: str,
    row_key: Optional[str] = None,
) -> DataFrame:
    """Validate each struct element of ``df[array_col]``.

    ``element_spec.fields`` declare constraints on the struct's fields.
    Output: VIOLATION_FULL_SCHEMA with ``[i]``-indexed jsonpaths.
    """
    key = F.col(row_key).cast("string") if row_key else F.lit("*")
    base = df.select(
        key.alias("_rk"),
        F.posexplode_outer(F.col(array_col)).alias("_i", "_e"),
    ).where(F.col("_e").isNotNull())

    # flatten the struct fields into columns so compile_field_checks'
    # F.col(name) references resolve
    elem_fields = base.select("_rk", "_i", "_e.*")

    checks: list[CompiledCheck] = []
    for fs in element_spec.fields:
        if fs.name in elem_fields.columns:
            checks.extend(compile_field_checks(fs, table_name))

    if not checks:
        from ..issue import VIOLATION_FULL_SCHEMA

        return df.sparkSession.createDataFrame([], VIOLATION_FULL_SCHEMA)

    from .validation import bind_check_lets

    elem_fields = bind_check_lets(elem_fields, checks)

    elems = []
    for ck in checks:
        jsonpath = F.concat(
            F.lit(f"$.{table_name}["),
            F.col("_rk"),
            F.lit(f"].{array_col}["),
            F.col("_i").cast("string"),
            F.lit(f"].{ck.column}"),
        )
        struct = F.struct(
            jsonpath.alias("jsonpath"),
            F.lit(ck.issue_type).alias("type"),
            F.lit(ck.message).alias("message"),
            ck.instance.alias("instance"),
            F.lit(f"{array_col}[].{ck.name}").alias("check"),
            F.lit(f"{array_col}[].{ck.column}").alias("column"),
            F.col("_rk").alias("row_key"),
            F.lit(None).cast("string").alias("partition"),
        )
        elems.append(F.when(~ck.ok, struct))

    # explode, then drop the NULLs of passing checks: array_compact
    # would become an interpreted filter(..., isnotnull) lambda and
    # take the Generate out of whole-stage codegen
    return (
        elem_fields.select(F.explode(F.array(*elems)).alias("v"))
        .where(F.col("v").isNotNull())
        .select([F.col(f"v.{c}").alias(c) for c in VIOLATION_COLUMNS])
    )
