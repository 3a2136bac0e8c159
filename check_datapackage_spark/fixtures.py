"""Deterministic synthetic fixtures (FIXTURES.md F1/F2, seed 42).

The primary fixture is the BASELINE.json ``input_hint`` table:
``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)``,
generated all-valid, with violation injections at *recorded row ids* so
tests assert exact violation rows (the reference's
mutate-one-field-from-valid-example pattern, SURVEY.md §5).

Generation is distributed: ``spark.range`` → column expressions seeded
by deterministic hashes of the row id — no driver-side data, so the same
generator scales to the bench tier (1e7+ rows).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42
VOCAB = 50257
MAX_TOK = 2048

#: F2 dimension: allowed sources, Zipf-ish weights (source-0 hot).
ALLOWED_SOURCES = [f"src-{i:03d}" for i in range(100)]


def allowed_sources_df(spark: SparkSession) -> DataFrame:
    """F2 dimension table (source, license)."""
    licenses = ["cc-by", "cc-by-sa", "mit", "odc-by", "proprietary"]
    rows = [(s, licenses[i % len(licenses)]) for i, s in enumerate(ALLOWED_SOURCES)]
    return spark.createDataFrame(rows, "source string, license string")


def _source_expr(id_col):
    """Zipf-skewed source assignment: ~50% of rows land on src-000
    (exercises salting / AQE skew), remainder spread over the tail."""
    h = F.abs(F.xxhash64(id_col, F.lit(SEED)))
    return F.when(h % 2 == 0, F.lit("src-000")).otherwise(
        F.concat(
            F.lit("src-"),
            F.lpad((F.floor(h / 7) % 99 + 1).cast("string"), 3, "0"),
        )
    )


def sequences_df(
    spark: SparkSession,
    n_rows: int = 1000,
    partitions: int = 8,
) -> DataFrame:
    """All-valid F1 table. Deterministic in (n_rows, SEED)."""
    df = spark.range(0, n_rows, 1, partitions)
    n_tok = (F.abs(F.xxhash64("id", F.lit(SEED + 1))) % F.lit(MAX_TOK) + 1).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda i: (F.abs(F.xxhash64(F.col("id"), i, F.lit(SEED + 2))) % VOCAB).cast(
            "int"
        ),
    )
    return df.select(
        F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        _source_expr(F.col("id")).alias("source"),
        F.col("id").alias("_row"),
    )


@dataclass
class Injection:
    """Record of injected violations: check class → affected row ids."""

    rows: dict[str, list[int]] = field(default_factory=dict)


def sequences_with_violations(
    spark: SparkSession, n_rows: int = 1000, partitions: int = 8
) -> tuple[DataFrame, Injection]:
    """F1 with one injected violation per check class at fixed rows.

    Row ids (mod n_rows) chosen disjoint so each row carries exactly one
    violation class; the Injection records them for exact assertions.
    """
    assert n_rows >= 100, "fixture needs ≥100 rows for disjoint injections"
    inj = Injection(
        rows={
            "required_doc_id": [10],
            "required_source": [20],
            "pattern_doc_id": [30],
            "enum_source": [40],  # also the referential miss
            "min_n_tok": [50],
            "max_n_tok": [60],
            "size_mismatch": [70],  # size(tokens) != n_tok
            "token_range": [80],  # token value out of [0, VOCAB)
            "token_null": [85],  # null element in tokens
            "dup_doc_id": [90, 91],  # row 91 duplicates row 90's doc_id
        }
    )
    df = sequences_df(spark, n_rows, partitions)
    r = F.col("_row")

    doc_id = (
        F.when(r == 10, F.lit(None).cast("string"))
        .when(r == 30, F.lit("BAD-ID"))
        .when(r == 91, F.lit("doc-%012d" % 90))
        .otherwise(F.col("doc_id"))
    )
    source = (
        F.when(r == 20, F.lit(None).cast("string"))
        .when(r == 40, F.lit("src-UNKNOWN"))
        .otherwise(F.col("source"))
    )
    n_tok = (
        F.when(r == 50, F.lit(0))
        .when(r == 60, F.lit(MAX_TOK + 1))
        .otherwise(F.col("n_tok"))
    ).cast("int")
    tokens = (
        F.when(r == 70, F.slice(F.col("tokens"), 1, 1))  # wrong length
        .when(r == 80, F.array(F.lit(-5).cast("int"), F.lit(VOCAB + 3).cast("int")))
        .when(r == 85, F.array(F.lit(1).cast("int"), F.lit(None).cast("int")))
        .otherwise(F.col("tokens"))
    )
    # rows 50/60 keep valid token arrays; their n_tok is the violation —
    # but that also breaks size==n_tok, which tests account for.
    out = df.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
        F.col("_row"),
    )
    return out, inj


def sequences_spec() -> "TableSpec":
    """F3: the valid spec declaring F1 (primaryKey doc_id, FK source →
    allowed_sources)."""
    from .spec import TableSpec

    return TableSpec.from_dict(
        {
            "name": "sequences",
            "schema": {
                "fields": [
                    {
                        "name": "doc_id",
                        "type": "string",
                        "constraints": {
                            "required": True,
                            "unique": True,
                            "pattern": r"^doc-\d{12}$",
                        },
                    },
                    {"name": "tokens", "type": "array"},
                    {
                        "name": "n_tok",
                        "type": "integer",
                        "constraints": {"minimum": 1, "maximum": MAX_TOK},
                    },
                    {
                        "name": "source",
                        "type": "string",
                        "constraints": {"required": True},
                    },
                ],
                "primaryKey": "doc_id",
                "foreignKeys": [
                    {
                        "fields": "source",
                        "reference": {"resource": "allowed_sources", "fields": "source"},
                    }
                ],
            },
            "partitionBy": "source",
        }
    )


def token_invariant_checks():
    """The BASELINE per-row token-array invariant as compiled checks:
    ``size(tokens) == n_tok`` and every element in [0, VOCAB)."""
    from .compile import compile_invariant
    from .functions import array_range_ok

    return [
        compile_invariant(
            name="tokens.size_eq_n_tok",
            ok=F.col("tokens").isNull()
            | F.col("n_tok").isNull()
            | (F.size("tokens") == F.col("n_tok")),
            issue_type="length",
            message="size(tokens) must equal n_tok",
            column="tokens",
            instance=F.size("tokens"),
        ),
        compile_invariant(
            name="tokens.element_range",
            ok=array_range_ok(F.col("tokens"), 0, VOCAB - 1),
            issue_type="type",
            message=f"token values must be non-null ints in [0, {VOCAB})",
            column="tokens",
            instance=F.lit(None),
        ),
    ]


def sequences_df_fast(
    spark: SparkSession, n_rows: int = 1000, partitions: int = 32
) -> DataFrame:
    """All-valid F1 table generated with numpy inside ``mapInPandas`` —
    ~10× faster than :func:`sequences_df`'s Catalyst expression path
    (interpreted higher-order ``transform(sequence(...))`` per row).

    Built for bulk dataset materialization (scaling bench, large local
    fixtures): same schema and validity invariants as ``sequences_df``
    (n_tok ∈ [1, MAX_TOK], len(tokens) == n_tok, values ∈ [0, VOCAB),
    Zipf-skewed source with the ~50% hot key), deterministic in
    (row-id range, SEED) — token VALUES differ from sequences_df's
    hash family, which no consumer depends on.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            out_tok = []
            n_toks = np.empty(len(ids), dtype=np.int32)
            for j, i in enumerate(ids):
                rng = np.random.default_rng(SEED * 1_000_003 + int(i))
                n = int(rng.integers(1, MAX_TOK + 1))
                n_toks[j] = n
                out_tok.append(rng.integers(0, VOCAB, n, dtype=np.int32))
            h = np.empty(len(ids), dtype=np.int64)
            for j, i in enumerate(ids):
                h[j] = np.random.default_rng(SEED * 9_000_011 + int(i)).integers(
                    0, 2**62
                )
            src = np.where(
                h % 2 == 0,
                "src-000",
                np.char.add(
                    "src-",
                    np.char.zfill(((h // 7) % 99 + 1).astype(str), 3),
                ),
            )
            yield pd.DataFrame(
                {
                    "doc_id": ["doc-%012d" % i for i in ids],
                    "tokens": out_tok,
                    "n_tok": n_toks,
                    "source": src,
                    "_row": ids,
                }
            )

    return spark.range(0, n_rows, 1, partitions).mapInPandas(
        gen,
        schema="doc_id string, tokens array<int>, n_tok int, source string, _row long",
    )
