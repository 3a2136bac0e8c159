"""End-to-end validation tests — the reference's test pattern
(mutate-one-field-from-valid, assert exact violations; SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from check_datapackage_spark import (
    CheckConfig,
    Exclusion,
    check_table,
)
from check_datapackage_spark.fixtures import (
    allowed_sources_df,
    sequences_df,
    sequences_spec,
    sequences_with_violations,
    token_invariant_checks,
)

N = 200


@pytest.fixture(scope="module")
def valid_df(spark):
    return sequences_df(spark, N).cache()


@pytest.fixture(scope="module")
def bad(spark):
    df, inj = sequences_with_violations(spark, N)
    return df.cache(), inj


def run_check(spark, df, dims=None, config=None):
    return check_table(
        df.drop("_row"),
        sequences_spec(),
        config=config,
        dims=dims or {"allowed_sources": allowed_sources_df(spark)},
        extra_checks=token_invariant_checks(),
    )


def test_valid_table_passes(spark, valid_df):
    res = run_check(spark, valid_df)
    assert res.spec_issues == []
    assert res.violations.count() == 0
    summ = res.summary.collect()
    assert all(r["passed"] for r in summ)
    assert sum(r["fail_count"] for r in summ) == 0


def test_all_injected_violations_detected(spark, bad):
    df, inj = bad
    res = run_check(spark, df)
    rows = res.violations.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["type"], []).append(r)

    # C1 required: doc_id null at row 10, source null at row 20
    req = {(r["column"], r["instance"]) for r in by_type["required"]}
    assert ("doc_id", None) in req
    assert ("source", None) in req

    # C4 pattern: BAD-ID
    assert any(r["instance"] == "BAD-ID" for r in by_type["pattern"])

    # C6 range on n_tok
    assert any(r["instance"] == "0" for r in by_type["minimum"])
    assert any(r["instance"] == "2049" for r in by_type["maximum"])

    # token-array invariant: size mismatch at rows 70 (and 50/60 via n_tok edit)
    length_rows = {r["row_key"] for r in by_type["length"]}
    assert "doc-%012d" % 70 in length_rows

    # token element violations at rows 80 (range) and 85 (null)
    elem = [r for r in by_type["type"] if r["check"] == "tokens.element_range"]
    elem_rows = {r["row_key"] for r in elem}
    assert "doc-%012d" % 80 in elem_rows
    assert "doc-%012d" % 85 in elem_rows

    # C11 uniqueness: doc-…90 duplicated
    uniq = by_type["unique"]
    assert len(uniq) == 1 and uniq[0]["instance"] == "doc-%012d" % 90

    # R5 referential: src-UNKNOWN
    fk = by_type["foreign-key"]
    assert any(r["instance"] == "src-UNKNOWN" for r in fk)


def test_violation_rows_are_exact(spark, bad):
    """No false positives: every violating row_key is an injected one."""
    df, inj = bad
    res = run_check(spark, df)
    rows = res.violations.collect()
    injected = set()
    for ids in inj.rows.values():
        injected.update(ids)
    expected_keys = {"doc-%012d" % i for i in injected} | {None, "src-UNKNOWN"}
    for r in rows:
        key = r["row_key"]
        if key is not None and key.startswith("doc-"):
            assert key in expected_keys, f"false positive at {key}: {r}"
    # exact count: rows 10,20,30,40,70 → 1 each; rows 50,60 → 2 each
    # (range + size-invariant); rows 80,85 → 2 each (element + size);
    # rows 90+91 collapse into one unique violation. Total 14.
    assert len(rows) == 14, [
        (r["type"], r["check"], r["row_key"]) for r in rows
    ]


def test_summary_matrix(spark, bad):
    df, _ = bad
    res = run_check(spark, df)
    summ = res.summary.collect()
    failing = {r["check"] for r in summ if not r["passed"]}
    assert "doc_id.required" in failing
    assert "doc_id.pattern" in failing
    assert "n_tok.minimum" in failing
    assert "n_tok.maximum" in failing
    assert "tokens.size_eq_n_tok" in failing
    assert "tokens.element_range" in failing
    # n_rows sums to the table size across partitions for any one check
    assert (
        sum(r["n_rows"] for r in summ if r["check"] == "doc_id.required") == N
    )


def test_exclusions_filter(spark, bad):
    df, _ = bad
    cfg = CheckConfig(exclusions=(Exclusion(type="pattern"),))
    res = run_check(spark, df, config=cfg)
    assert res.violations.where(F.col("type") == "pattern").count() == 0
    # other types unaffected
    assert res.violations.where(F.col("type") == "required").count() == 2


def test_exclusion_wildcard_jsonpath(spark, bad):
    df, _ = bad
    cfg = CheckConfig(exclusions=(Exclusion(jsonpath="$.sequences[*].n_tok"),))
    res = run_check(spark, df, config=cfg)
    assert res.violations.where(F.col("column") == "n_tok").count() == 0
    assert res.violations.where(F.col("type") == "pattern").count() == 1


def test_empty_exclusion_matches_nothing(spark, bad):
    df, _ = bad
    base = run_check(spark, df).violations.count()
    cfg = CheckConfig(exclusions=(Exclusion(),))
    assert run_check(spark, df, config=cfg).violations.count() == base


def test_single_scan_plan(spark, valid_df):
    """The fused row-level plan must touch the table exactly once
    (SURVEY §4 'single-pass fusion' — asserted on the physical plan)."""
    from check_datapackage_spark import compile_table_checks, violations_plan

    base = valid_df.drop("_row")
    checks = compile_table_checks(
        sequences_spec(), extra=token_invariant_checks(), schema=base.schema
    )
    v = violations_plan(base, checks, "sequences", row_key="doc_id")
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1, plan


def test_exclusion_prunes_check_from_plan(spark, bad):
    """U4 pushdown: a type-level exclusion removes the check from the
    violations plan entirely — the pattern literal disappears from the
    physical plan, not just from the output."""
    from check_datapackage_spark.plans.validation import prune_excluded_checks
    from check_datapackage_spark.compile import compile_table_checks

    df, _ = bad
    base = df.drop("_row")
    checks = compile_table_checks(sequences_spec(), schema=base.schema)
    pruned = prune_excluded_checks(checks, (Exclusion(type="pattern"),), "sequences")
    assert {c.name for c in checks} - {c.name for c in pruned} == {"doc_id.pattern"}

    # whole-column pattern prunes every check on that column
    pruned2 = prune_excluded_checks(
        checks, (Exclusion(jsonpath="$.sequences[*].n_tok"),), "sequences"
    )
    dropped = {c.name for c in checks} - {c.name for c in pruned2}
    assert dropped == {"n_tok.minimum", "n_tok.maximum"}

    # row-specific path prunes nothing (post-filter handles it)
    pruned3 = prune_excluded_checks(
        checks, (Exclusion(jsonpath="$.sequences[doc-0].n_tok"),), "sequences"
    )
    assert len(pruned3) == len(checks)

    # end-to-end: results identical to post-filtering
    cfg = CheckConfig(exclusions=(Exclusion(type="pattern"),))
    res = run_check(spark, df, config=cfg)
    assert res.violations.where(F.col("type") == "pattern").count() == 0
    assert res.violations.where(F.col("type") == "required").count() == 2


def test_odd_field_names_validate_and_profile(spark):
    """Field names are data, never SQL text: quotes, backticks, dots,
    brackets and unicode run through check_table (fused scan, summary
    unpivot) and the column profile."""
    from check_datapackage_spark import TableSpec
    from check_datapackage_spark.operators import stats

    names = ["o'k", "a`b", "x.y", "p[0]", "ünï"]
    df = spark.createDataFrame(
        [(1, 5, 5, 5, 5, 5), (2, None, -1, None, -1, None)],
        "id int, " + ", ".join(f"c{i} int" for i in range(len(names))),
    ).toDF("id", *names)
    spec = TableSpec.from_dict({"name": "t", "schema": {
        "primaryKey": ["id"],
        "fields": [{"name": "id", "type": "integer"}] + [
            {"name": n, "type": "integer",
             "constraints": {"required": True, "minimum": 0}}
            for n in names
        ]}})
    res = check_table(df, spec)
    fails = {r["check"]: r["fail_count"] for r in res.summary.collect()}
    assert fails == {
        **{f"{n}.required": int(i % 2 == 0) for i, n in enumerate(names)},
        **{f"{n}.minimum": int(i % 2 == 1) for i, n in enumerate(names)},
    }
    got = {(r["jsonpath"], r["check"]) for r in res.violations.collect()}
    assert got == {
        (f"$.t[2].{n}", f"{n}.{'required' if i % 2 == 0 else 'minimum'}")
        for i, n in enumerate(names)
    }

    (prof,) = stats.profile(df, names).collect()
    for i, n in enumerate(names):
        assert prof[f"{n}__n_null"] == int(i % 2 == 0)
        assert prof[f"{n}__min"] == (5 if i % 2 == 0 else -1)
    nulls = {r["column"]: r["n_null"] for r in stats.null_rates(df, names).collect()}
    assert nulls == {n: int(i % 2 == 0) for i, n in enumerate(names)}
