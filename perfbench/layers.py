"""Traced per-layer sweep: times the public functions of each module from
outside, one job-group span per call, and reads the status store.

A traced run covers the layers its workload calls and reports every
per-layer metric; a layer the workload does not call reports 0.  Each
metric, the end-to-end metric it should move and the workload it is
measured on:

==========================================  ==================  ================
metric                                      moves               on
==========================================  ==================  ================
session.import_s / start_s / warm_s         setup_s             both
fit.melt_summary.wall_s / shuffle_bytes     step1_s (fit)       credit_fit_score
fit.quantize.wall_s / shuffle_bytes /       step1_s (fit)       credit_fit_score
spill_bytes
fit.udf.wall_s / task_skew                  step1_s (fit)       credit_fit_score
fit.summary_rows / quantized_vars /         step1_s (fit)       credit_fit_score
idle_share
fit.py_worker_peak_rss_mb                   peak_rss_mb         credit_fit_score
transform.median.wall_s / shuffle_bytes     step1_s (score)     credit_fit_score
transform.encode.wall_s / executor_run_s,   step1_s (score)     credit_fit_score
transform.imputed_values / idle_share
drift.psi.wall_s / shuffle_bytes /          step2_s (monitor)   credit_fit_score
input_records_per_row, drift.char.wall_s /
shuffle_bytes, drift.jobs
text.gates.wall_s / executor_run_s          step1_s (curate)    corpus_curate
dedup.exact.wall_s                          step1_s (curate)    corpus_curate
dedup.minhash.wall_s / shuffle_bytes /      step2_s (dedup),    corpus_curate
candidates / pairs / verify_yield           step1_s (curate)
dedup.cc.wall_s / rounds / shuffle_bytes /  step2_s (dedup),    corpus_curate
edges / components, dedup.keep.wall_s       step1_s (curate)
sampling.mix_split.wall_s                   step1_s (curate)    corpus_curate
pipeline.curate.jobs / stages /             step1_s (curate)    corpus_curate
idle_share, pipeline.survivors
spark.failed_tasks / spill_bytes            failed ops, RSS     both
peak_rss_mb                                 (memory)            both
trace.overhead.step1_s / step2_s            tracing cost        both
==========================================  ==================  ================

``BENCHMARK.json`` lists the metrics and their units; a traced run reports
exactly those.  ``trace.overhead.<step>`` is the wall time tracing adds to
the step's calls in ``composite``'s traced iteration (see there).

``idle_share`` is 1 - executor run time / (wall time x cores) over the
composite call's span.  Shuffle bytes are read plus written; spill is memory
plus disk.  Where a sub-call differs from what the composite call runs:

- ``fit.melt_summary`` times ``summarize(melt_features(...))``, which keys
  variables by name; ``fit_bins`` melts by column index through a private
  helper.  Its output is checkpointed so ``fit.quantize`` starts from it.
- ``fit.udf.wall_s`` is the ``fit_bins`` span minus the two sub-spans;
  ``fit.udf.task_skew`` is max/median task time of the fit's last stage
  (the grouped pandas fit).
- ``transform.median`` is ``median_prepass`` over all six features;
  ``apply_bins`` runs it as a scalar subquery over the surviving ones.
- ``transform.encode`` is ``apply_bins(medians=)`` with the
  ``numpy.nanmedian`` medians: the encode without the pre-pass.
- ``text.gates`` is ``scrub_pii`` -> ``quality_score`` -> threshold to the
  noop sink; ``curate_corpus`` adds expression barriers and a cache.
- ``dedup.exact`` and ``sampling.mix_split`` run over the gated documents.
- ``dedup.minhash.candidates`` counts ``lsh_candidate_pairs`` over
  ``minhash_signatures`` of the same shingles.
- ``dedup.cc.rounds`` counts the Spark jobs in the ``connected_components``
  span (one per round plus set-up jobs).
- ``dedup.keep.wall_s`` is ``dedup_keep_canonical(...).count()``, which
  runs its own connected components.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import workloads as wl
from checks import components_by_min_id
from tracing import Collector, ProcSampler


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def composite(spark, workload, col: Collector) -> dict[str, float]:
    """Two iterations: untraced, then traced (a span around each call).  The
    traced one gives the composite calls' spans and the tracing overhead:
    per end-to-end step, the traced calls' timed wall time beyond their
    spans' own, which is the collector's work (set the job group, drain the
    listener bus, read the status store).  Every call's output digest must
    be the same in both iterations."""
    digests: dict[str, set[str]] = {}
    for span in (None, col.span):
        times, digs, failed = workload.iterate(spark, span=span)
        if failed:
            raise wl.CheckFailed(f"iteration failed: {failed}")
        for k, d in digs.items():
            digests.setdefault(k, set()).add(d)
    differ = sorted(k for k, d in digests.items() if len(d) > 1)
    if differ:
        raise wl.CheckFailed(f"output digests differ across iterations: {differ}")
    extra = {k: t - col.spans[k].wall_s for k, t in times.items()}
    return {f"trace.overhead.{k}": v for k, v in workload.step_times(extra).items()}


def fit_layers(spark, cfs: wl.CreditFitScore, col: Collector, sampler: ProcSampler, cores: int):
    from woe_monotonic_binning_spark.fit import melt_features, quantize_summary, summarize

    m: dict[str, float] = {}
    df = cfs.read(spark)
    with col.span("fit.melt_summary"):
        summary = summarize(melt_features(df, "target", gen.CREDIT_FEATURES)).localCheckpoint(eager=True)
    per_var = summary.groupBy("variable").count().toPandas()
    m["fit.summary_rows"] = float(per_var["count"].sum())
    m["fit.quantized_vars"] = float((per_var["count"] > wl.MAX_DISTINCT).sum())
    with col.span("fit.quantize"):
        _noop(quantize_summary(summary, wl.MAX_DISTINCT))
    s = col.spans
    m["fit.melt_summary.wall_s"] = s["fit.melt_summary"].wall_s
    m["fit.melt_summary.shuffle_bytes"] = s["fit.melt_summary"].shuffle_bytes
    m["fit.quantize.wall_s"] = s["fit.quantize"].wall_s
    m["fit.quantize.shuffle_bytes"] = s["fit.quantize"].shuffle_bytes
    m["fit.quantize.spill_bytes"] = s["fit.quantize"].spill_bytes
    m["fit.udf.wall_s"] = s["fit"].wall_s - s["fit.melt_summary"].wall_s - s["fit.quantize"].wall_s
    m["fit.udf.task_skew"] = s["fit"].task_skew()
    m["fit.idle_share"] = s["fit"].idle_share(cores)
    m["fit.py_worker_peak_rss_mb"] = sampler.worker_peak_mb(s["fit"].t0, s["fit"].t1)
    return m


def transform_layers(spark, cfs: wl.CreditFitScore, col: Collector, cores: int):
    from woe_monotonic_binning_spark.transform import median_prepass

    m: dict[str, float] = {}
    with col.span("transform.median"):
        meds = median_prepass(cfs.read(spark), gen.CREDIT_FEATURES).collect()[0].asDict()
    for f, want in cfs.medians.items():
        if not math.isclose(meds[f], want, rel_tol=1e-12):
            raise wl.CheckFailed(f"median_prepass {f}={meds[f]} != numpy.nanmedian {want}")
    with col.span("transform.encode"):
        out = cfs.score(spark, cfs.fitted_bins, medians=cfs.medians)
    cfs.check_score(out)
    table = pq.read_table(cfs.paths["credit"][0])
    encoded = [k[len("null_"):-len("_bin")] for k in out if k.startswith("null_")]
    imputed = 0
    for v in encoded:
        c = table.column(v)
        imputed += c.null_count
        if pa.types.is_floating(c.type):
            imputed += int(pc.sum(pc.is_nan(c.drop_null())).as_py() or 0)
    s = col.spans
    m["transform.median.wall_s"] = s["transform.median"].wall_s
    m["transform.median.shuffle_bytes"] = s["transform.median"].shuffle_bytes
    m["transform.encode.wall_s"] = s["transform.encode"].wall_s
    m["transform.encode.executor_run_s"] = s["transform.encode"].executor_run_s
    m["transform.imputed_values"] = float(imputed)
    m["transform.idle_share"] = s["score"].idle_share(cores)
    return m


def drift_layers(spark, mon: wl.CreditFitScore, col: Collector):
    m: dict[str, float] = {}
    with col.span("drift.psi"):
        mon.psi(spark).toPandas()
    with col.span("drift.char"):
        mon.characteristic(spark).toPandas()
    s = col.spans
    m["drift.psi.wall_s"] = s["drift.psi"].wall_s
    m["drift.psi.shuffle_bytes"] = s["drift.psi"].shuffle_bytes
    m["drift.psi.input_records_per_row"] = s["drift.psi"].input_records / mon.monitor_rows
    m["drift.char.wall_s"] = s["drift.char"].wall_s
    m["drift.char.shuffle_bytes"] = s["drift.char"].shuffle_bytes
    m["drift.jobs"] = float(s["monitor"].jobs)
    return m


def corpus_layers(spark, cc: wl.CorpusCurate, col: Collector, cores: int):
    from pyspark.sql import functions as F
    from woe_monotonic_binning_spark.operators.dedup import (
        connected_components,
        dedup_keep_canonical,
        exact_dedup_by_digest,
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
        shingled,
    )
    from woe_monotonic_binning_spark.operators.sampling import mix_sources, split_column
    from woe_monotonic_binning_spark.operators.text import PII_PATTERNS, quality_score, scrub_pii

    m: dict[str, float] = {}
    docs = cc.read(spark)

    kw = wl.curate_kw()

    def gated():
        scrubbed = scrub_pii(cc.read(spark), "text").drop(*[f"n_{k}" for k in PII_PATTERNS])
        return quality_score(scrubbed).filter(F.col("quality") >= kw["quality_threshold"])

    with col.span("text.gates"):
        _noop(gated())
    kept = gated().localCheckpoint(eager=True)
    with col.span("dedup.exact"):
        exact_dedup_by_digest(kept, "text", "doc_id").count()
    with col.span("sampling.mix_split"):
        split_column(
            mix_sources(kept, kw["weights"]), "doc_id", kw["test_fraction"], kw["split_seed"],
        ).groupBy("split").count().collect()
    with col.span("dedup.minhash"):
        pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=wl.DEDUP_THRESHOLD)
    edges = pairs.select("id_a", "id_b").toPandas()
    sigs = minhash_signatures(shingled(docs, "text", "doc_id"), "doc_id")
    candidates = lsh_candidate_pairs(sigs, "doc_id").count()
    with col.span("dedup.cc"):
        labels = connected_components(pairs).toPandas()
    want = components_by_min_id(edges["id_a"].to_numpy(), edges["id_b"].to_numpy())
    got = dict(zip(labels["id"].astype(np.int64), labels["component"].astype(np.int64)))
    if got != want:
        raise wl.CheckFailed("connected_components labels differ from union-find")
    with col.span("dedup.keep"):
        dedup_keep_canonical(docs, pairs, "doc_id").count()
    s = col.spans
    m["text.gates.wall_s"] = s["text.gates"].wall_s
    m["text.gates.executor_run_s"] = s["text.gates"].executor_run_s
    m["dedup.exact.wall_s"] = s["dedup.exact"].wall_s
    m["dedup.minhash.wall_s"] = s["dedup.minhash"].wall_s
    m["dedup.minhash.shuffle_bytes"] = s["dedup.minhash"].shuffle_bytes
    m["dedup.minhash.candidates"] = float(candidates)
    m["dedup.minhash.pairs"] = float(len(edges))
    m["dedup.minhash.verify_yield"] = len(edges) / candidates if candidates else 0.0
    m["dedup.cc.wall_s"] = s["dedup.cc"].wall_s
    m["dedup.cc.rounds"] = float(s["dedup.cc"].jobs)
    m["dedup.cc.shuffle_bytes"] = s["dedup.cc"].shuffle_bytes
    m["dedup.cc.edges"] = float(len(edges))
    m["dedup.cc.components"] = float(labels["component"].nunique())
    m["dedup.keep.wall_s"] = s["dedup.keep"].wall_s
    m["sampling.mix_split.wall_s"] = s["sampling.mix_split"].wall_s
    m["pipeline.curate.jobs"] = float(s["curate"].jobs)
    m["pipeline.curate.stages"] = float(s["curate"].stages)
    m["pipeline.curate.idle_share"] = s["curate"].idle_share(cores)
    m["pipeline.survivors"] = float(cc.survivors)
    return m


def sweep(spark, workload, col: Collector, sampler: ProcSampler, cores: int) -> dict[str, float]:
    """Every per-layer metric of ``workload``'s layers; runs after
    ``composite``, whose spans it reads."""
    if isinstance(workload, wl.CreditFitScore):
        m = fit_layers(spark, workload, col, sampler, cores)
        m.update(transform_layers(spark, workload, col, cores))
        m.update(drift_layers(spark, workload, col))
    else:
        m = corpus_layers(spark, workload, col, cores)
    spans = col.spans.values()
    m["spark.failed_tasks"] = float(sum(s.failed_tasks for s in spans))
    m["spark.spill_bytes"] = float(sum(s.spill_bytes for s in spans))
    return m
