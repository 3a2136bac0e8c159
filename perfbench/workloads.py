"""The benchmark workloads.

A workload generates its inputs (:mod:`gen`), loads them as DataFrames,
runs one ``check_table`` per closed-loop run (:meth:`Workload.run`) and
checks the outcome against its generator's injection record
(:meth:`Workload.verify`).
Traced runs additionally execute :meth:`probes`, which run single layers
on their own (into Spark's ``noop`` sink) so their cost can be read apart
from the fused plan.

Runs call ``check_table`` through its module attribute, so that
:func:`spans.patched_layers` can time it and the calls it makes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gen

#: sizes, tuned so one run takes a few seconds on 4 cores
SEQ_ROWS = 20_000
SEQ_INJ_PER_CLASS = 20  # 10 classes: 1% of the rows
JSON_ROWS = 10_000
HIST_BUCKETS = 256
TDIGEST_QS = (0.5, 0.9)
TDIGEST_RANK_TOL = 0.02


def digest(pdf: pd.DataFrame, cols) -> str:
    """Order-insensitive 64-bit hash of the rows of ``pdf[cols]``."""
    if len(pdf) == 0:
        return "0" * 16
    h = pd.util.hash_pandas_object(pdf[list(cols)], index=False).to_numpy()
    return f"{int(np.add.reduce(h, dtype=np.uint64)):016x}"


def count_diff(got: dict, want: dict) -> list:
    keys = sorted(set(got) | set(want))
    return [f"{k}: got {got.get(k, 0)} want {want.get(k, 0)}" for k in keys if got.get(k, 0) != want.get(k, 0)]


def violation_counts(pv: pd.DataFrame) -> dict:
    """check -> violation rows, without ``doc_id.unique`` rows of the
    null-key group (null ids are ``doc_id.required``'s to report)."""
    keyless = (pv["check"] == gen.UNIQUE_CHECK) & pv["instance"].fillna("").eq("")
    return pv.loc[~keyless, "check"].value_counts().to_dict()


def summary_counts(ps: pd.DataFrame) -> dict:
    return ps.groupby("check")["fail_count"].sum().astype(int).to_dict()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Outcome:
    """What one run produced, as far as the checks need it."""

    digest: str
    n_violations: int
    violations: pd.DataFrame
    summary: pd.DataFrame


class Workload:
    """One ``check_table`` per run, violations and summary to the driver.
    Subclasses generate and load the inputs and know what to expect."""

    name = ""
    #: the kinds of host reference (``run.host_ref``) that do the work a
    #: run spends its time on
    host_ref: tuple = ()
    dims: dict = {}
    extra_checks = None

    def __init__(self, seed: int, work_dir: str, nproc: int):
        self.seed = seed
        self.work_dir = work_dir
        self.nproc = nproc

    def generate(self) -> dict:
        """Write the inputs; return their size (rows, bytes, ...)."""
        raise NotImplementedError

    def load(self, spark) -> None:
        """Read the inputs as DataFrames and build the spec."""
        raise NotImplementedError

    def verify(self, out: Outcome, record=None) -> list:
        """Problems of ``out`` against ``record`` (default: the real
        injection record). Empty means correct."""
        raise NotImplementedError

    def mutated_record(self):
        """The injection record with one injection removed."""
        raise NotImplementedError

    def run(self, spark, tr) -> Outcome:
        import check_datapackage_spark.plans.validation as V
        from check_datapackage_spark.issue import DEDUP_KEY

        res = V.check_table(self.df, self.spec, dims=self.dims, extra_checks=self.extra_checks)
        with tr.span("transfer.topandas") as a:
            pv = res.violations.toPandas()
            a["violation_rows"] = len(pv)
        with tr.span("plans.validation.summary"):
            ps = res.summary.toPandas()
        if tr.enabled:
            import pyarrow as pa

            a["bytes"] = pa.Table.from_pandas(pv, preserve_index=False).nbytes
        # Issue equality: which duplicate's payload survives is arbitrary
        return Outcome(digest(pv, DEDUP_KEY), len(pv), pv, ps)

    def probes(self, spark, tr) -> list:
        """Traced runs only: single layers run on their own, into the
        noop sink. Returns the problems found in their outputs."""
        import check_datapackage_spark.compile as C
        import check_datapackage_spark.issue as I
        import check_datapackage_spark.operators.referential as R
        import check_datapackage_spark.operators.uniqueness as U
        import check_datapackage_spark.plans.validation as V
        import check_datapackage_spark.sources.registry as REG

        spec = self.spec
        df = self.df
        # check_table's guard for under-split inputs, so the probes see
        # the partitioning the fused plan sees
        if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
            df = df.repartition(spark.sparkContext.defaultParallelism)
        checks = C.compile_table_checks(spec, extra=self.extra_checks, schema=df.schema)
        key = spec.primary_key[0]
        part = spec.partition_by[0] if spec.partition_by else None
        parts = [V.violations_plan(df, checks, spec.name, row_key=key, partition=part)]
        with tr.span("plans.validation.violations_plan"):
            noop(parts[0])
        parts.append(U.uniqueness_violations(df, [key], spec.name, partition=part))
        with tr.span("operators.uniqueness.violations"):
            noop(parts[-1])
        for fk in spec.foreign_keys:
            parts.append(
                R.referential_violations(
                    df, self.dims[fk.reference_resource], list(fk.fields),
                    list(fk.reference_fields), spec.name, fk.reference_resource,
                    row_key=key, partition=part,
                )
            )
            with tr.span("operators.referential.violations"):
                noop(parts[-1])
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        union = union.cache()
        try:
            with tr.span("cache.union"):
                union.count()
            with tr.span("issue.finalize_violations"):
                noop(I.finalize_violations(union))
        finally:
            union.unpersist(blocking=True)
        res = V.check_table(self.df, spec, dims=self.dims, extra_checks=self.extra_checks)
        with tr.span("transfer.noop"):
            noop(res.violations)
        with tr.span("sources.registry.write_violations"):
            REG.write_violations(res.violations, os.path.join(self.work_dir, "violations"), mode="overwrite")
        return []


class SeqFull(Workload):
    """``check_table`` of the sequence table with its FK and the two
    token invariants."""

    name = "seq_full"
    host_ref = ("jvm_cpu",)

    def generate(self) -> dict:
        self.record = gen.sequences(
            self.work_dir, self.seed, SEQ_ROWS, 2 * self.nproc, SEQ_INJ_PER_CLASS
        )
        self.operators = Operators(self.record)
        r = self.record
        return {"rows": r.n_rows, "tokens": r.n_tokens, "bytes": r.bytes}

    def load(self, spark) -> None:
        from check_datapackage_spark import fixtures

        self.df = spark.read.parquet(self.record.path)
        self.dims = {"allowed_sources": spark.read.parquet(self.record.dim_path)}
        self.spec = fixtures.sequences_spec()
        self.extra_checks = fixtures.token_invariant_checks()

    def verify(self, out: Outcome, record=None) -> list:
        rec = record or self.record
        probs = count_diff(summary_counts(out.summary), rec.summary_expected())
        n_rows = out.summary.groupby("check")["n_rows"].sum()
        if not (n_rows == rec.n_rows).all():
            probs.append(f"summary n_rows {n_rows.to_dict()} != {rec.n_rows}")
        probs += count_diff(violation_counts(out.violations), rec.violations_expected())
        return probs

    def mutated_record(self):
        return self.record.without_one("bad_token")

    def probes(self, spark, tr) -> list:
        probs = super().probes(spark, tr)
        out = self.operators.run(spark, tr, self.df)
        probs += self.operators.verify(out)
        if not self.operators.verify(out, self.operators.mutated_oracle()):
            probs.append("operator check passed against a mutated oracle")
        return probs


class JsonMeta(Workload):
    """``check_table`` of a JSON string column under a Draft-7
    ``jsonSchema``."""

    name = "json_meta"
    host_ref = ("round_trips", "jvm_cpu")

    def generate(self) -> dict:
        self.record = gen.json_meta(self.work_dir, self.seed, JSON_ROWS, 2 * self.nproc)
        return {"rows": self.record.n_rows, "bytes": self.record.bytes}

    def load(self, spark) -> None:
        from check_datapackage_spark import TableSpec

        self.df = spark.read.parquet(self.record.path)
        self.spec = TableSpec.from_dict(gen.json_spec_dict())

    def verify(self, out: Outcome, record=None) -> list:
        want = (record or self.record).summary_expected()
        probs = count_diff(summary_counts(out.summary), want)
        # event_id is unique, so each failing (row, check) is one Issue
        probs += count_diff(violation_counts(out.violations), want)
        return probs

    def mutated_record(self):
        return self.record.without_one()


class Operators:
    """Profile, t-digest and token-histogram drift of the sequence
    table (``operators.stats``, ``operators.sketch``,
    ``operators.drift``), checked against numpy over the generated
    arrays. Run as probes of seq_full's traced runs."""

    def __init__(self, record):
        self.oracle = self._oracle(record)

    @staticmethod
    def _oracle(r) -> dict:
        names = np.array(
            [gen.source_name(i) for i in range(gen.N_SOURCES)] + ["src-UNKNOWN", None], dtype=object
        )
        src = names[r.source_code]
        frame = pd.DataFrame({"source": src, "n_tok": r.n_tok})
        groups = {}
        for s, g in frame.groupby("source", dropna=False):
            key = None if (isinstance(s, float) and np.isnan(s)) else s
            groups[key] = np.sort(g["n_tok"].to_numpy())
        width = (gen.VOCAB + HIST_BUCKETS - 1) // HIST_BUCKETS
        tok_src = np.repeat(r.source_code, r.lengths)
        ok = r.value_valid & (r.values >= 0) & (r.values < gen.VOCAB)
        code = (tok_src[ok] + 2) * HIST_BUCKETS + r.values[ok] // width
        hist = np.bincount(code, minlength=(gen.N_SOURCES + 2) * HIST_BUCKETS)
        hist = hist.reshape(gen.N_SOURCES + 2, HIST_BUCKETS)
        # row c of hist is source code c - 2 (names[-2], names[-1]:
        # src-UNKNOWN, null)
        hist_by = {names[c - 2]: hist[c] for c in range(gen.N_SOURCES + 2)}
        return {"groups": groups, "hist": hist_by}

    def run(self, spark, tr, df) -> dict:
        import check_datapackage_spark.operators.drift as D
        import check_datapackage_spark.operators.sketch as SK
        import check_datapackage_spark.operators.stats as S

        with tr.span("operators.stats.profile"):
            prof = S.profile(df, by="source").toPandas()
        with tr.span("operators.sketch.tdigest_by_group"):
            td = SK.tdigest_by_group(df, "n_tok", "source", quantiles=TDIGEST_QS).toPandas()
        with tr.span("operators.drift.token_histogram"):
            hist = D.token_histogram(df, by="source", n_buckets=HIST_BUCKETS).toPandas()
        with tr.span("operators.drift.drift_from_histogram"):
            drift = D.drift_from_histogram(spark.createDataFrame(hist), "source").toPandas()
        return {"profile": prof, "tdigest": td, "hist": hist, "drift": drift}

    def verify(self, out: dict, oracle=None) -> list:
        o = oracle or self.oracle
        probs = []
        prof = out["profile"].set_index("source")
        for s, vals in o["groups"].items():
            row = prof.loc[s] if s is not None else prof[prof.index.isna()].iloc[0]
            want = {"n_rows": len(vals), "n_tok__min": vals.min(), "n_tok__max": vals.max()}
            for k, v in want.items():
                if int(row[k]) != int(v):
                    probs.append(f"profile {s} {k}: got {row[k]} want {v}")
            if abs(float(row["n_tok__mean"]) - vals.mean()) > 1e-9 * max(1.0, vals.mean()):
                probs.append(f"profile {s} mean: got {row['n_tok__mean']} want {vals.mean()}")
        if len(prof) != len(o["groups"]):
            probs.append(f"profile groups: got {len(prof)} want {len(o['groups'])}")
        for _, r in out["tdigest"].iterrows():
            vals = o["groups"][r["source"]]
            n = len(vals)
            lo = vals[max(0, int(np.floor((r["q"] - TDIGEST_RANK_TOL) * n)) - 1)]
            hi = vals[min(n - 1, int(np.ceil((r["q"] + TDIGEST_RANK_TOL) * n)))]
            if not lo <= r["value"] <= hi:
                probs.append(f"tdigest {r['source']} q={r['q']}: {r['value']} not in [{lo}, {hi}]")
        hist = out["hist"]
        got = {(s, int(b)): int(c) for s, b, c in hist[["source", "bucket", "count"]].itertuples(index=False)}
        want = {(s, b): int(c) for s, h in o["hist"].items() for b, c in enumerate(h) if c}
        if got != want:
            diff = set(got.items()) ^ set(want.items())
            probs.append(f"token histogram: {len(diff)} (source, bucket) counts differ")
        probs += self._check_drift(out["drift"], o["hist"])
        return probs

    @staticmethod
    def _check_drift(drift: pd.DataFrame, hist: dict, eps: float = 1e-9) -> list:
        groups = {s: h for s, h in hist.items() if h.sum()}
        total = sum(groups.values())
        pb_all = total / total.sum()
        probs = []
        got = {s: (kl, psi) for s, kl, psi in drift[["source", "kl", "psi"]].itertuples(index=False)}
        for s, h in groups.items():
            nz = h > 0
            pa_ = np.maximum(h[nz] / h.sum(), eps)
            pb = np.maximum(pb_all[nz], eps)
            want = (float(np.sum(pa_ * np.log(pa_ / pb))), float(np.sum((pa_ - pb) * np.log(pa_ / pb))))
            g = got.get(s)
            if g is None or any(abs(a - b) > 1e-6 * max(1.0, abs(b)) for a, b in zip(g, want)):
                probs.append(f"drift {s}: got {g} want {want}")
        if len(got) != len(groups):
            probs.append(f"drift groups: got {len(got)} want {len(groups)}")
        return probs

    def mutated_oracle(self) -> dict:
        """The oracle with one token fewer in one bucket."""
        hist = dict(self.oracle["hist"])
        s = next(iter(hist))
        h = hist[s].copy()
        h[int(np.argmax(h))] -= 1
        hist[s] = h
        return {"groups": self.oracle["groups"], "hist": hist}


WORKLOADS = {w.name: w for w in (SeqFull, JsonMeta)}
