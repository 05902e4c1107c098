"""The benchmark's workloads.

Each workload is a closed loop with one client: the benchmark calls one
public function, waits for its result, checks it, then makes the next call.
One iteration makes the workload's calls in order; ``STEPS`` groups them
into the two timed steps reported end to end:

================  ==============================  ==============================
workload          step1                           step2
================  ==============================  ==============================
credit_fit_score  fit: ``fit_bins``, bins         monitor: ``psi_report`` +
                  collected, then score:          ``psi_summary`` +
                  ``apply_bins`` with the fitted  ``characteristic_stability``
                  bins (lazy exact medians) to    collected, under fixed bins on
                  the noop sink                   a second sample
corpus_curate     curate: ``curate_corpus`` +     dedup: ``minhash_dedup_pairs``
                  split counts collected          + ``dedup_keep_canonical``
                                                  count
================  ==============================  ==============================

Every call reads its input through a fresh ``spark.read`` so no iteration
reuses another's shuffle output.  Each call's output is checked after the
timed region; a call that raises or fails its check counts as failed.  The
digest of every call's output must be identical across a run's iterations
(an untraced run at ``--seconds 10`` makes one; the traced run makes two and
compares them).
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from checks import components_by_min_id, fractions_sum_to_one, monotone


def curate_kw() -> dict:
    """The flagship curation recipe: the certified curation query's mixing
    weights (``queries_catalog._CURATION_WEIGHTS`` of the checkout) and
    split."""
    from queries_catalog import _CURATION_WEIGHTS

    return dict(
        scrub=True,
        quality_threshold=0.5,
        near_dup="minhash",
        near_dup_threshold=0.7,
        weights=_CURATION_WEIGHTS,
        test_fraction=0.25,
        split_seed=11,
    )


DEDUP_THRESHOLD = 0.5
MAX_DISTINCT = 1024
WARM_ROWS = 5_000
WARM_DOCS = 400


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p, index=False).values.tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]


def _write(table: pa.Table, workdir: str, name: str, warm_rows: int) -> tuple[str, str]:
    """The full table and its first ``warm_rows`` rows as parquet files."""
    path = os.path.join(workdir, f"{name}.parquet")
    warm = os.path.join(workdir, f"{name}_warm.parquet")
    pq.write_table(table, path)
    pq.write_table(table.slice(0, warm_rows), warm)
    return path, warm


def _collect_garbage(spark) -> None:
    """Full GC in the driver JVM and in Python before a timed call, so one
    call's garbage is not collected inside the next one's timing."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class CheckFailed(Exception):
    """An output check failed; the call counts as a failed operation."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Workload:
    """Generates its inputs under ``workdir``; ``warm`` runs every call shape
    on the tiny slices, ``iterate`` runs one iteration on the full inputs."""

    name = ""
    STEPS: dict[str, tuple[str, ...]] = {}

    props: dict  # what the generator produced, for the report

    def calls(self, spark, warm: bool = False):
        """[(call name, thunk, check)]; a thunk may use an earlier result."""
        raise NotImplementedError

    def step_times(self, times: dict[str, float]) -> dict[str, float]:
        """Seconds per end-to-end step (``<step>_s``) from seconds per call."""
        return {f"{step}_s": sum(times[c] for c in calls) for step, calls in self.STEPS.items()}

    def warm(self, spark) -> None:
        for _, call, _ in self.calls(spark, warm=True):
            call()
        spark.catalog.clearCache()

    def iterate(self, spark, span=None) -> tuple[dict, dict, list]:
        """Seconds and output digest by name of each call that passed, and
        [(call, error)] for each call that raised or failed its check.
        ``span(name)``, if given, is a context manager around each call and
        is timed with it."""
        times, digests, failed = {}, {}, []
        for name, call, check in self.calls(spark):
            _collect_garbage(spark)
            try:
                t0 = time.perf_counter()
                with span(name) if span else contextlib.nullcontext():
                    out = call()
                seconds = time.perf_counter() - t0
                digests[name] = check(out)
                times[name] = seconds
            except Exception as e:  # a failed call is counted; the run goes on
                failed.append((name, repr(e)))
        return times, digests, failed


class CreditFitScore(Workload):
    name = "credit_fit_score"
    STEPS = {"step1": ("fit", "score"), "step2": ("monitor",)}

    def __init__(self, seed: int, workdir: str):
        table, credit = gen.credit_sample(seed)
        mon_table, self.bins, self.tax_cut, monitor = gen.monitor_inputs(seed)
        self.rows = table.num_rows
        self.monitor_rows = mon_table.num_rows
        self.variables = list(dict.fromkeys(self.bins["variable"]))
        self.medians = gen.nanmedians(table, gen.CREDIT_FEATURES)
        self.paths = {
            "credit": _write(table, workdir, "credit", WARM_ROWS),
            "monitor": _write(mon_table, workdir, "monitor", WARM_ROWS),
        }
        credit["input_digest"] = gen.digest(table)
        monitor["input_digest"] = gen.digest(mon_table)
        self.props = {"credit": credit, "monitor": monitor}
        self.fitted_bins = None

    def read(self, spark, which: str = "credit", warm: bool = False):
        from pyspark.sql import functions as F

        full, slice_ = self.paths[which]
        return spark.read.parquet(slice_ if warm else full).withColumn(
            "target", (F.col("l_returnflag") == "R").cast("double")
        )

    def fit(self, spark, warm: bool = False) -> pd.DataFrame:
        from woe_monotonic_binning_spark import fit_bins

        return fit_bins(
            self.read(spark, warm=warm), "target", gen.CREDIT_FEATURES, max_distinct=MAX_DISTINCT
        ).toPandas()

    def score(self, spark, bins: pd.DataFrame, warm: bool = False, medians=None) -> dict:
        from woe_monotonic_binning_spark import apply_bins

        enc = apply_bins(
            self.read(spark, warm=warm), bins, keep_columns=["l_orderkey"], iv_threshold=0.0,
            medians=medians,
        )
        return noop_observed(enc)

    def psi(self, spark, warm: bool = False):
        from pyspark.sql import functions as F
        from woe_monotonic_binning_spark import psi_report

        return psi_report(
            self.read(spark, "monitor", warm), None, self.bins,
            actual_filter=F.col("l_tax") > self.tax_cut,
        )

    def characteristic(self, spark, warm: bool = False):
        from pyspark.sql import functions as F
        from woe_monotonic_binning_spark import characteristic_stability

        df = self.read(spark, "monitor", warm).withColumn("ship_year", F.year("l_shipdate"))
        return characteristic_stability(df, self.bins, "target", period_col="ship_year")

    def monitor(self, spark, warm: bool = False):
        from woe_monotonic_binning_spark import psi_summary

        detail = self.psi(spark, warm)
        return (
            detail.toPandas(),
            psi_summary(detail).toPandas(),
            self.characteristic(spark, warm).toPandas(),
        )

    def calls(self, spark, warm: bool = False):
        def fit():
            self.fitted_bins = self.fit(spark, warm)
            return self.fitted_bins

        return [
            ("fit", fit, self.check_fit),
            ("score", lambda: self.score(spark, self.fitted_bins, warm), self.check_score),
            ("monitor", lambda: self.monitor(spark, warm), self.check_monitor),
        ]

    def check_fit(self, bins: pd.DataFrame) -> str:
        _require(set(bins["variable"]) == set(gen.CREDIT_FEATURES), "a feature has no bins")
        for var, b in bins.groupby("variable"):
            _require(int(round(b["size"].sum())) == self.rows, f"{var}: bin sizes do not sum to rows")
            body = b[b["interval_start_include"].notna()].sort_values("interval_start_include")
            _require(monotone(body["woe"].tolist()), f"{var}: WOE is not monotone")
        return _digest(bins.sort_values(["variable", "interval_start_include"]).round(9))

    def check_score(self, obs: dict) -> str:
        _require(obs["rows"] == self.rows, f"scored {obs['rows']} rows of {self.rows}")
        _require(any(k.startswith("null_") for k in obs), "no encoded column")
        nulls = {k: v for k, v in obs.items() if k.startswith("null_") and v}
        _require(not nulls, f"NULL encodings: {nulls}")
        return _digest(sorted(obs.items()))

    def check_monitor(self, out) -> str:
        detail, summary, char = out
        per_var = detail.groupby("variable").size()
        _require(sorted(per_var.index) == sorted(self.variables), "PSI detail misses a variable")
        # every fitted bin plus the two sentinel buckets of each variable
        want = self.bins.groupby("variable").size() + 2
        _require(per_var.sort_index().equals(want.sort_index()),
                 f"PSI rows per variable: {per_var.to_dict()}, want {want.to_dict()}")
        for var, buckets in detail.groupby("variable")["bucket"]:
            _require({"missing", "out_of_range"} <= set(buckets.astype(str)),
                     f"{var}: no missing / out_of_range bucket")
        for side in ("expected_frac", "actual_frac"):
            _require(fractions_sum_to_one(detail, side), f"{side} does not sum to 1")
        _require(len(summary) == len(self.variables), "psi_summary rows != variables")
        periods = char[["variable", "ship_year"]].drop_duplicates()
        _require(len(periods) == len(gen.SHIP_YEARS) * len(self.variables),
                 f"{len(periods)} characteristic (variable, period) rows")
        return _digest(
            detail.sort_values(["variable", "bucket"]).round(9),
            summary.sort_values("variable").round(9),
            char.sort_values(["variable", "ship_year", "bucket"]).round(9),
        )


def noop_observed(enc) -> dict:
    """Write ``enc`` to the noop sink (every column of every row evaluated)
    with one observed row count, per-column NULL counts and an exact
    fixed-point checksum riding the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = [c for c in enc.columns if c.endswith("_bin")]
    obs = Observation()
    enc.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in cols],
        *[F.sum(F.round(F.col(c) * 1e6).cast("long")).alias(f"sum_{c}") for c in cols],
    ).write.format("noop").mode("overwrite").save()
    return dict(obs.get)


class CorpusCurate(Workload):
    name = "corpus_curate"
    STEPS = {"step1": ("curate",), "step2": ("dedup",)}

    def __init__(self, seed: int, workdir: str):
        table, self.props = gen.corpus(seed)
        self.docs = table.num_rows
        self.paths = _write(table, workdir, "docs", WARM_DOCS)
        self.props["input_digest"] = gen.digest(table)
        self.labels_checked = False
        self.survivors = 0

    def read(self, spark, warm: bool = False):
        return spark.read.parquet(self.paths[1] if warm else self.paths[0])

    def curate(self, spark, warm: bool = False):
        """Split counts (the timed result) and the labeled survivors, whose
        cache the caller owns: ``check_curate`` reads it and releases it."""
        from woe_monotonic_binning_spark import curate_corpus

        labeled = curate_corpus(self.read(spark, warm), **curate_kw())
        try:
            counts = {r["split"]: r["count"] for r in labeled.groupBy("split").count().collect()}
        except Exception:
            spark.catalog.clearCache()
            raise
        return counts, labeled

    def dedup(self, spark, warm: bool = False):
        from woe_monotonic_binning_spark.operators.dedup import (
            dedup_keep_canonical,
            minhash_dedup_pairs,
        )

        docs = self.read(spark, warm)
        pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=DEDUP_THRESHOLD)
        return dedup_keep_canonical(docs, pairs, "doc_id").count(), pairs

    def calls(self, spark, warm: bool = False):
        return [
            ("curate", lambda: self.curate(spark, warm), lambda out: self.check_curate(spark, *out)),
            ("dedup", lambda: self.dedup(spark, warm), lambda out: self.check_dedup(*out)),
        ]

    def check_curate(self, spark, counts: dict, labeled) -> str:
        try:
            surv = labeled.select("doc_id", "component", "split").toPandas()
        finally:
            spark.catalog.clearCache()
        self.survivors = len(surv)
        _require(sum(counts.values()) == len(surv), "train + test != survivors")
        _require(set(counts) <= {"train", "test"}, f"split labels {set(counts)}")
        _require(surv["component"].is_unique, "two survivors share a component")
        _require(0 < len(surv) < self.docs, f"{len(surv)} survivors of {self.docs}")
        return _digest(surv.sort_values("doc_id").reset_index(drop=True), sorted(counts.items()))

    def check_dedup(self, kept: int, pairs) -> str:
        edges = pairs.select("id_a", "id_b").toPandas().sort_values(["id_a", "id_b"])
        labels = components_by_min_id(edges["id_a"].to_numpy(), edges["id_b"].to_numpy())
        merged = sum(1 for node, root in labels.items() if node != root)
        _require(kept == self.docs - merged, f"kept {kept}, union-find expects {self.docs - merged}")
        if not self.labels_checked:
            # once per run: the package's own component labels
            from woe_monotonic_binning_spark.operators.dedup import connected_components

            cc = connected_components(pairs).toPandas()
            got = dict(zip(cc["id"].astype(np.int64), cc["component"].astype(np.int64)))
            _require(got == labels, "connected_components labels differ from union-find")
            self.labels_checked = True
        return _digest(edges.reset_index(drop=True), kept)


WORKLOADS = {w.name: w for w in (CreditFitScore, CorpusCurate)}
