"""Seeded input generators for the validation benchmark.

Every generator is a pure function of ``seed`` and a size. It writes
parquet with pyarrow (no Spark), so the engine receives only files, and
it returns an injection record from which the expected result of every
check follows without running the engine:

* :func:`sequences` — the ``(doc_id, tokens, n_tok, source)`` table of
  ``fixtures.sequences_spec()`` with every check class injected into
  disjoint rows, plus the ``allowed_sources`` dimension.
* :func:`json_meta` — an ``(event_id, props)`` table whose ``props``
  column carries a Draft-7 ``jsonSchema``; corruption templates are drawn
  at the q38/q44 rates and the expected failures per check come from
  ``jsonschema.Draft7Validator`` over the distinct documents.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: mirrors check_datapackage_spark.fixtures (VOCAB, MAX_TOK, sources)
VOCAB = 50257
MAX_TOK = 2048
N_SOURCES = 100

#: injected check classes of the sequence table, in injection order
SEQ_CLASSES = (
    "null_doc_id",
    "bad_pattern",
    "null_source",
    "unknown_source",
    "n_tok_low",
    "n_tok_high",
    "size_mismatch",
    "bad_token",
    "null_token",
    "dup_doc_id",
)

#: row-level check (CompiledCheck.name) each class fails; unknown
#: sources and duplicated ids fail only the key checks
SEQ_ROW_CHECK = {
    "null_doc_id": "doc_id.required",
    "bad_pattern": "doc_id.pattern",
    "null_source": "source.required",
    "n_tok_low": "n_tok.minimum",
    "n_tok_high": "n_tok.maximum",
    "size_mismatch": "tokens.size_eq_n_tok",
    "bad_token": "tokens.element_range",
    "null_token": "tokens.element_range",
}
SEQ_ROW_CHECKS = (
    "doc_id.required",
    "doc_id.pattern",
    "n_tok.minimum",
    "n_tok.maximum",
    "source.required",
    "tokens.size_eq_n_tok",
    "tokens.element_range",
)
FK_CHECK = "source.foreign-key"
UNIQUE_CHECK = "doc_id.unique"

SEQ_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def source_name(i: int) -> str:
    return f"src-{i:03d}"


@dataclass
class SeqInputs:
    """What :func:`sequences` wrote and injected."""

    path: str
    dim_path: str
    n_rows: int
    n_tokens: int
    bytes: int
    #: class -> injected row indices (dup_doc_id: the duplicating rows)
    rows: dict = field(default_factory=dict)
    #: dup_doc_id row -> the clean row whose doc_id it copies
    dup_of: dict = field(default_factory=dict)
    #: numpy columns kept for the profile oracle
    n_tok: np.ndarray = None
    source_code: np.ndarray = None  # -1 null, -2 unknown, else 0..99
    lengths: np.ndarray = None
    values: np.ndarray = None
    value_valid: np.ndarray = None

    def summary_expected(self) -> dict:
        """check name -> expected summary fail_count over all rows."""
        out = {c: 0 for c in SEQ_ROW_CHECKS}
        for cls, check in SEQ_ROW_CHECK.items():
            out[check] += len(self.rows[cls])
        return out

    def violations_expected(self) -> dict:
        """check name -> expected violation rows after Issue dedup on
        (jsonpath, type, message).

        Rows with a null doc_id share the address ``[?]``, so their
        ``doc_id.required`` violations dedup to one. Each duplicated id
        is one ``doc_id.unique`` row (rows with an empty key come from
        null ids and are not counted)."""
        out = self.summary_expected()
        out["doc_id.required"] = min(1, len(self.rows["null_doc_id"]))
        out[FK_CHECK] = len(self.rows["unknown_source"])
        out[UNIQUE_CHECK] = len(self.dup_of)
        return out

    def without_one(self, cls: str) -> "SeqInputs":
        """A copy of the record with one injection of ``cls`` dropped —
        the check must then disagree with the engine (self-test)."""
        rows = {k: list(v) for k, v in self.rows.items()}
        dropped = rows[cls].pop()
        dup_of = {k: v for k, v in self.dup_of.items() if k != dropped}
        return SeqInputs(
            self.path, self.dim_path, self.n_rows, self.n_tokens, self.bytes,
            rows, dup_of,
        )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def sequences(
    out_dir: str,
    seed: int,
    n_rows: int,
    n_files: int,
    inj_per_class: int,
) -> SeqInputs:
    """Write the sequence table (``n_files`` parquet files) and the
    ``allowed_sources`` dimension; inject ``inj_per_class`` rows of each
    class in :data:`SEQ_CLASSES` at disjoint random rows.

    Token counts are uniform in [1, MAX_TOK]; about half the rows carry
    the hot source ``src-000`` and the rest spread over the other 99."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(1, MAX_TOK + 1, n_rows).astype(np.int64)
    n_tok = lengths.astype(np.int32)
    hot = rng.random(n_rows) < 0.5
    source_code = np.where(hot, 0, rng.integers(1, N_SOURCES, n_rows))

    picked = rng.choice(n_rows, size=inj_per_class * (len(SEQ_CLASSES) + 1), replace=False)
    rows = {
        cls: sorted(int(r) for r in picked[i * inj_per_class:(i + 1) * inj_per_class])
        for i, cls in enumerate(SEQ_CLASSES)
    }
    dup_sources = [int(r) for r in picked[len(SEQ_CLASSES) * inj_per_class:]]
    dup_of = dict(zip(rows["dup_doc_id"], dup_sources))

    # shape changes come first: they decide the flat value layout
    lo = np.array(rows["n_tok_low"], dtype=np.int64)
    lengths[lo] = 0
    n_tok[lo] = 0
    hi = np.array(rows["n_tok_high"], dtype=np.int64)
    lengths[hi] = MAX_TOK + 1
    n_tok[hi] = MAX_TOK + 1
    sm = np.array(rows["size_mismatch"], dtype=np.int64)
    lengths[sm] = np.maximum(lengths[sm], 2) - 1
    n_tok[sm] = lengths[sm] + 1
    for cls in ("bad_token", "null_token"):
        r = np.array(rows[cls], dtype=np.int64)
        lengths[r] = np.maximum(lengths[r], 1)
        n_tok[r] = lengths[r]

    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    valid = np.ones(len(values), dtype=bool)
    bad = offsets[np.array(rows["bad_token"], dtype=np.int64)]
    values[bad] = np.where(np.arange(len(bad)) % 2 == 0, -5, VOCAB + 3)
    valid[offsets[np.array(rows["null_token"], dtype=np.int64)]] = False

    ids = np.arange(n_rows)
    doc_id = np.char.add("doc-", np.char.zfill(ids.astype(str), 12)).astype(object)
    for r in rows["bad_pattern"]:
        doc_id[r] = f"BAD-{r}"
    for r, s in dup_of.items():
        doc_id[r] = doc_id[s]
    for r in rows["null_doc_id"]:
        doc_id[r] = None
    source_code[rows["null_source"]] = -1
    source_code[rows["unknown_source"]] = -2
    names = np.array([source_name(i) for i in range(N_SOURCES)] + ["src-UNKNOWN", None], dtype=object)
    source = names[source_code]  # -1 -> None, -2 -> src-UNKNOWN

    path = os.path.join(out_dir, "sequences")
    os.makedirs(path)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(np.int64)
    for f in range(n_files):
        a, b = int(bounds[f]), int(bounds[f + 1])
        pq.write_table(
            _seq_table(doc_id[a:b], offsets[a:b + 1], values, valid, n_tok[a:b], source[a:b]),
            os.path.join(path, f"part-{f:05d}.parquet"),
        )
    dim_path = os.path.join(out_dir, "allowed_sources")
    os.makedirs(dim_path)
    licenses = ["cc-by", "cc-by-sa", "mit", "odc-by", "proprietary"]
    pq.write_table(
        pa.table(
            {
                "source": [source_name(i) for i in range(N_SOURCES)],
                "license": [licenses[i % len(licenses)] for i in range(N_SOURCES)],
            }
        ),
        os.path.join(dim_path, "part-00000.parquet"),
    )
    return SeqInputs(
        path=path,
        dim_path=dim_path,
        n_rows=n_rows,
        n_tokens=int(offsets[-1]),
        bytes=_dir_bytes(path),
        rows=rows,
        dup_of=dup_of,
        n_tok=n_tok,
        source_code=source_code,
        lengths=lengths,
        values=values,
        value_valid=valid,
    )


def _seq_table(doc_id, offsets, values, valid, n_tok, source) -> pa.Table:
    a, b = int(offsets[0]), int(offsets[-1])
    flat = pa.array(values[a:b], type=pa.int32(), mask=~valid[a:b])
    tokens = pa.ListArray.from_arrays(pa.array(offsets - a, type=pa.int32()), flat)
    return pa.Table.from_arrays(
        [pa.array(doc_id, pa.string()), tokens, pa.array(n_tok, pa.int32()), pa.array(source, pa.string())],
        schema=SEQ_SCHEMA,
    )


# ---------------------------------------------------------------------------
# jsonSchema metadata table
# ---------------------------------------------------------------------------

JSON_FIELD = "props"
JSON_TABLE = "events_meta"

#: Draft-7 schema of the ``props`` column: types, required, enum, nested
#: properties, array keywords and the combinators (q38 ∪ q44 shapes)
JSON_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {
        "k": {"type": "integer", "minimum": 0},
        "meta": {
            "type": "object",
            "required": ["lang"],
            "properties": {"lang": {"type": "string", "enum": ["en", "de", "fr"]}},
        },
        "tags": {
            "type": "array",
            "minItems": 1,
            "maxItems": 3,
            "uniqueItems": True,
            "items": {"type": "string"},
        },
        "note": {"type": "string", "minLength": 2, "maxLength": 10},
        "m": {"oneOf": [{"multipleOf": 2}, {"multipleOf": 5}]},
        "q": {"not": {"type": "string"}},
        "c": {"anyOf": [{"type": "string"}, {"type": "integer", "minimum": 0}]},
    },
}

#: (modulus, document) corruption templates. Each family is applied like
#: the q38/q44 ``when`` chains: the first template whose 1/modulus draw
#: hits wins. The q44-family entries from modulus 31 on are not in q44;
#: they give every remaining check of the schema some failures.
Q38_TEMPLATES = (
    (7, '{"k": null}'),
    (11, None),  # a valid document cut to its first 4 characters
    (13, '{"j": 1}'),
    (17, '{"k": "1", "meta": {"lang": 5}}'),
    (19, '{"k": 2.0, "meta": {"lang": "xx"}}'),
    (23, '{"k": -5, "meta": {"lang": "en"}}'),
    (29, '{"k": 3, "tags": []}'),
    (31, '{"k": 4, "tags": ["a", 5]}'),
    (37, '{"k": 5, "note": "x"}'),
)
Q44_TEMPLATES = (
    (7, '{"k": 1, "tags": ["a", "b", "b"]}'),
    (11, '{"k": 1, "tags": [{"x": 1}, {"x": 1}]}'),
    (13, '{"k": 1, "c": -5}'),
    (17, '{"k": 1, "c": 1.5}'),
    (19, '{"k": 1, "m": 10}'),
    (23, '{"k": 1, "m": 3}'),
    (29, '{"k": 1, "q": "str"}'),
    (31, '{"k": 1, "tags": ["a", "b", "c", "d"]}'),
    (37, '{"k": 1, "note": "far too long a note"}'),
    (41, '{"k": 1, "meta": {"x": 1}}'),
    (43, '{"k": 1, "tags": "a"}'),
    (47, '{"k": 1, "meta": "en"}'),
    (53, '{"k": 1, "note": 7}'),
)
N_VALID_DOCS = 256


def json_spec_dict() -> dict:
    return {
        "name": JSON_TABLE,
        "schema": {
            "fields": [
                {"name": "event_id", "type": "integer"},
                {
                    "name": JSON_FIELD,
                    "type": "string",
                    "constraints": {"jsonSchema": JSON_SCHEMA},
                },
            ],
            "primaryKey": ["event_id"],
        },
    }


def _valid_docs(rng: np.random.Generator) -> list:
    langs = ["en", "de", "fr"]
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    good_m = [2, 4, 5, 6, 8, 12, 14, 15, 16, 25, 35]
    docs = []
    for _ in range(N_VALID_DOCS):
        d = {"k": int(rng.integers(0, 50)), "m": int(rng.choice(good_m))}
        if rng.random() < 0.7:
            d["meta"] = {"lang": str(rng.choice(langs))}
        if rng.random() < 0.7:
            n = int(rng.integers(1, 4))
            d["tags"] = [str(w) for w in rng.choice(words, n, replace=False)]
        if rng.random() < 0.5:
            d["note"] = str(rng.choice(words))
        if rng.random() < 0.3:
            d["q"] = int(rng.integers(0, 9))
        if rng.random() < 0.5:
            d["c"] = str(rng.choice(words)) if rng.random() < 0.5 else int(rng.integers(0, 9))
        docs.append(json.dumps(d))
    return docs


def _pick_templates(rng, n: int, templates) -> np.ndarray:
    """Template index per row (-1 = keep the valid document): the first
    template whose independent 1/modulus draw hits wins."""
    out = np.full(n, -1, dtype=np.int64)
    for i, (mod, _) in enumerate(templates):
        hit = (out == -1) & (rng.random(n) < 1.0 / mod)
        out[hit] = i
    return out


def draft7_failures(doc: str) -> frozenset:
    """Check names (``props.jsonSchema.<schema path>``) a document fails
    under ``jsonschema.Draft7Validator``. A document that is not JSON
    fails only the top-level type check, as the engine documents."""
    import jsonschema

    try:
        inst = json.loads(doc)
    except ValueError:
        return frozenset({f"{JSON_FIELD}.jsonSchema.type"})
    names = set()
    for err in jsonschema.Draft7Validator(JSON_SCHEMA).iter_errors(inst):
        path = ".".join(str(p) for p in err.schema_path)
        if err.validator == "required":
            for key in err.validator_value:
                if key not in err.instance:
                    names.add(f"{JSON_FIELD}.jsonSchema.{path}.{key}")
        else:
            names.add(f"{JSON_FIELD}.jsonSchema.{path}")
    return frozenset(names)


@dataclass
class JsonInputs:
    """What :func:`json_meta` wrote, with the Draft-7 verdict of each
    distinct document."""

    path: str
    n_rows: int
    bytes: int
    #: distinct document -> rows carrying it
    doc_counts: dict = field(default_factory=dict)
    #: distinct document -> check names it fails (Draft-7 oracle)
    failures: dict = field(default_factory=dict)

    def summary_expected(self) -> dict:
        out: Counter = Counter()
        for doc, n in self.doc_counts.items():
            for name in self.failures[doc]:
                out[name] += n
        return dict(out)

    def without_one(self) -> "JsonInputs":
        """Drop one corrupted row from the record (self-test)."""
        counts = dict(self.doc_counts)
        doc = next(d for d in sorted(counts) if self.failures[d])
        counts[doc] -= 1
        return JsonInputs(self.path, self.n_rows, self.bytes, counts, self.failures)


def json_meta(out_dir: str, seed: int, n_rows: int, n_files: int) -> JsonInputs:
    """Write the jsonSchema metadata table. Half the rows draw from the
    q38 corruption family and half from q44's; the rest keep one of
    :data:`N_VALID_DOCS` valid documents."""
    rng = np.random.default_rng([seed, 2])
    valid = _valid_docs(rng)
    base = rng.integers(0, len(valid), n_rows)
    docs = np.array(valid, dtype=object)[base]
    fam = rng.random(n_rows) < 0.5
    for templates, mask in ((Q38_TEMPLATES, fam), (Q44_TEMPLATES, ~fam)):
        pick = _pick_templates(rng, n_rows, templates)
        for i, (_, doc) in enumerate(templates):
            rows = np.nonzero(mask & (pick == i))[0]
            if doc is None:
                docs[rows] = [d[:4] for d in docs[rows]]
            else:
                docs[rows] = doc
    counts = Counter(docs.tolist())
    failures = {d: draft7_failures(d) for d in counts}
    bad_valid = [d for d in valid if failures.get(d)]
    if bad_valid:
        raise ValueError(f"generator produced invalid base documents: {bad_valid[:3]}")

    path = os.path.join(out_dir, "events_meta")
    os.makedirs(path)
    event_id = np.arange(n_rows, dtype=np.int64) + 1
    bounds = np.linspace(0, n_rows, n_files + 1).astype(np.int64)
    for f in range(n_files):
        a, b = int(bounds[f]), int(bounds[f + 1])
        pq.write_table(
            pa.table({"event_id": event_id[a:b], JSON_FIELD: pa.array(docs[a:b], pa.string())}),
            os.path.join(path, f"part-{f:05d}.parquet"),
        )
    return JsonInputs(path, n_rows, _dir_bytes(path), dict(counts), failures)
