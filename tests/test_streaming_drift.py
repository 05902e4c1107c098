"""Streaming PSI monitor (streaming/drift.py): batch==stream parity,
drift alerting, multi-batch metrics, gate-mismatch guard."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from woe_monotonic_binning_spark.drift import baseline_fractions, psi_report, psi_summary
from woe_monotonic_binning_spark.streaming.drift import streaming_psi_monitor

SF = "/root/testdata/sf0.001"


def _bins(variable, cuts, woes):
    n = len(cuts) - 1
    return pd.DataFrame(
        {
            "variable": [variable] * n,
            "interval_start_include": [float(c) for c in cuts[:-1]],
            "interval_end_exclude": [float(c) for c in cuts[1:]],
            "woe": [float(w) for w in woes],
            "iv_components": [1.0 / n] * n,
        }
    )


QTY_BINS = _bins("l_quantity", (0.0, 10.0, 25.0, 40.0, 51.0), (-0.4, -0.1, 0.2, 0.5))


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def _run_monitor(spark, tmp_path, src_df, baseline, n_files=1, bins=QTY_BINS):
    src = str(tmp_path / "src")
    src_df.repartition(n_files).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(src_df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    metrics = str(tmp_path / "metrics")
    q = streaming_psi_monitor(
        stream,
        bins,
        baseline,
        metrics,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    return spark.read.parquet(metrics)


def test_stream_identical_to_baseline_reads_stable(spark, li, tmp_path):
    base = baseline_fractions(li, QTY_BINS)
    got = _run_monitor(spark, tmp_path, li, base).collect()
    assert len(got) == 1  # one file -> one batch -> one variable row
    assert got[0]["variable"] == "l_quantity"
    assert got[0]["n_rows"] == li.count()
    assert got[0]["psi"] == pytest.approx(0.0, abs=1e-12)
    assert got[0]["status"] == "stable"


def test_stream_psi_equals_batch_report(spark, li, tmp_path):
    """One micro-batch scored against a baseline_fractions baseline gives
    the per-variable PSI of psi_summary(psi_report(expected, batch)), and
    the baseline's expected_frac is psi_report's — the pinned baseline,
    the streaming monitor and the batch report share one fraction/PSI
    tail.  A descending bins table, an out-of-range tail and a bin the
    batch abandons (clamped at min_frac) all take part."""
    price = _bins(
        "l_extendedprice", (90000.0, 30000.0, 10000.0, 900.0), (0.3, 0.0, -0.2)
    ).assign(iv_components=0.2)
    bins = pd.concat([QTY_BINS, price], ignore_index=True)
    batch = li.filter(F.col("l_quantity") > 10)
    base = baseline_fractions(li, bins)
    report = psi_report(li, batch, bins)

    want_frac = {
        (r.variable, r.bin): r.expected_frac
        for r in report.select("variable", "bin", "expected_frac").collect()
    }
    assert {(r.variable, r.bin): r.expected_frac for r in base.itertuples()} == want_frac

    want_psi = {r.variable: r.psi for r in psi_summary(report).collect()}
    got = _run_monitor(spark, tmp_path, batch, base, bins=bins).collect()
    assert {r.variable: r.psi for r in got} == pytest.approx(want_psi, rel=1e-12)
    assert set(want_psi) == {"l_quantity", "l_extendedprice"}
    assert all(r.n_rows == batch.count() and r.batch_id == 0 for r in got)


def test_drifted_stream_alerts(spark, li, tmp_path):
    base = baseline_fractions(li.filter(F.col("l_quantity") <= 25), QTY_BINS)
    got = _run_monitor(
        spark, tmp_path, li.filter(F.col("l_quantity") > 25), base
    ).collect()
    assert len(got) == 1
    assert got[0]["status"] == "drifted"
    assert got[0]["psi"] > 0.25


def test_multi_batch_emits_one_row_per_batch(spark, li, tmp_path):
    base = baseline_fractions(li, QTY_BINS)
    got = _run_monitor(spark, tmp_path, li, base, n_files=3).toPandas()
    assert len(got) == 3
    assert sorted(got["batch_id"]) == [0, 1, 2]
    assert set(got["variable"]) == {"l_quantity"}
    # each batch is a hash-arbitrary third of the table: close to the
    # full-table baseline, certainly not drifted
    assert (got["psi"] < 0.1).all()
    assert int(got["n_rows"].sum()) == li.count()


def test_gate_mismatch_is_loud(spark, li, tmp_path):
    base = baseline_fractions(li, QTY_BINS)
    other = _bins("l_tax", (0.0, 0.05, 0.09), (-0.2, 0.3))
    stream = spark.readStream.schema(li.schema).parquet(str(tmp_path))
    with pytest.raises(ValueError, match="no overlap"):
        streaming_psi_monitor(stream, other, base, str(tmp_path / "m"))


def test_refit_bins_against_stale_baseline_is_loud(spark, li, tmp_path):
    """Round-7 review: a baseline pinned from a 4-bin fit must not be
    silently renormalised when the monitor starts with a refit bins table
    whose bin set differs."""
    base = baseline_fractions(li, QTY_BINS)  # 4 bins
    refit = _bins("l_quantity", (0.0, 25.0, 51.0), (-0.3, 0.3))  # 2 bins
    stream = spark.readStream.schema(li.schema).parquet(str(tmp_path))
    with pytest.raises(ValueError, match="refit"):
        streaming_psi_monitor(stream, refit, base, str(tmp_path / "m"))


def test_partial_baseline_overlap_warns_not_silent(spark, li, tmp_path):
    """Round-7 advice: a baseline covering only a subset of the bins'
    gate-surviving variables used to silently narrow the monitored set;
    now it warns (and still monitors the intersection)."""
    price = _bins("l_extendedprice", (0.0, 20000.0, 40000.0, 60000.0), (-0.3, 0.1, 0.4))
    # distinct total IV — an identical total would trip the reference's
    # exact-float duplicate-IV dedup (quirk Q7) and drop the variable
    price["iv_components"] = [0.2, 0.2, 0.2]
    two = pd.concat([QTY_BINS, price], ignore_index=True)
    narrow_base = baseline_fractions(li, two, variables=["l_quantity"])
    src = str(tmp_path / "src")
    li.repartition(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(li.schema).parquet(src)
    with pytest.warns(UserWarning, match="NOT monitored"):
        q = streaming_psi_monitor(
            stream,
            two,
            narrow_base,
            str(tmp_path / "metrics"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "metrics"))
    vars_seen = {r["variable"] for r in got.select("variable").distinct().collect()}
    assert vars_seen == {"l_quantity"}  # the intersection, monitored


def test_psi_metrics_sink_idempotent_under_forced_batch_replay(
    spark, li, tmp_path
):
    """Round-8 verdict #6: a replayed micro-batch must not duplicate
    (batch_id, variable) metric rows.  Same forced-replay mechanics as
    the dedup survivor sink test: run, delete the checkpoint's last
    commit marker (and its .crc sidecar), restart — the per-batch
    dynamic partition overwrite keeps the metrics table duplicate-free."""
    import os
    import time as _time

    base = baseline_fractions(li, QTY_BINS)
    src = str(tmp_path / "src")
    li.repartition(3).write.mode("overwrite").parquet(src)
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(li.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = streaming_psi_monitor(stream, QTY_BINS, base, metrics,
                                  checkpoint_dir=ckpt)
        q.awaitTermination()
        q.stop()
        deadline = _time.time() + 30
        while any(
            aq.id == q.id for aq in spark.streams.active
        ) and _time.time() < deadline:
            _time.sleep(0.2)

    run()
    first = spark.read.parquet(metrics).toPandas()
    assert sorted(first["batch_id"]) == [0, 1, 2]

    commits = sorted(
        c for c in os.listdir(os.path.join(ckpt, "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    replayed = spark.read.parquet(metrics).toPandas()
    # zero duplicate (batch_id, variable) rows after the replay
    assert sorted(replayed["batch_id"]) == [0, 1, 2]
    assert len(replayed.groupby(["batch_id", "variable"]).size()) == 3
