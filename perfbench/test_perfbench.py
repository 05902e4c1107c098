"""Tests of the benchmark itself: input generation, the union-find checker
and the status-store collector.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import pytest

import gen
from checks import components_by_min_id, fractions_sum_to_one, monotone


def test_same_seed_same_bytes_other_seed_other_bytes():
    a, _ = gen.credit_sample(7, rows=2_000)
    b, _ = gen.credit_sample(7, rows=2_000)
    c, _ = gen.credit_sample(8, rows=2_000)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)
    d, props_d = gen.corpus(7, base_docs=200)
    e, props_e = gen.corpus(7, base_docs=200)
    f, _ = gen.corpus(8, base_docs=200)
    assert gen.digest(d) == gen.digest(e)
    assert props_d == props_e
    assert gen.digest(d) != gen.digest(f)


def test_generator_records_its_properties():
    table, props = gen.credit_sample(3, rows=20_000)
    assert props["rows"] == table.num_rows == 20_000
    assert 0.03 < props["missing_share"]["l_extendedprice"] < 0.07
    assert table.column("l_extendedprice").null_count > 0
    assert props["distinct"]["l_discount"] == 11 and props["distinct"]["l_tax"] == 9
    # every row is a source row: the target rate is the source's (~1/3)
    assert 0.30 < props["bad_share"] < 0.37
    _, corpus = gen.corpus(3, base_docs=400)
    base = corpus["base_docs"]
    assert 400 <= base < 410  # whole source families, so a few over
    assert corpus["chains"] == 20
    assert corpus["chain_length_hist"] == {str(k): 4 for k in range(2, 7)}
    assert corpus["exact_copies"] == int(gen.EXACT_COPY_SHARE * (base + corpus["chain_copies"]))
    assert corpus["docs"] == base + corpus["chain_copies"] + corpus["exact_copies"]
    assert corpus["pii_docs"] == len(range(0, corpus["docs"], 5))
    # chains of 2-6 edited copies give components wider than one hop
    assert corpus["planted"]["jaccard_0.7"]["max_diameter"] > 2
    json.dumps(corpus)


def test_union_find_min_id_labels_on_a_chain():
    # chain 9-3-7-1-5 (diameter 4), a pair, a triangle, a repeated edge
    a = [9, 3, 7, 1, 20, 40, 41, 42, 9]
    b = [3, 7, 1, 5, 21, 41, 42, 40, 3]
    labels = components_by_min_id(a, b)
    assert labels == {
        9: 1, 3: 1, 7: 1, 1: 1, 5: 1,
        20: 20, 21: 20,
        40: 40, 41: 40, 42: 40,
    }
    assert components_by_min_id([], []) == {}


def test_monotone_and_fraction_checks():
    import pandas as pd

    assert monotone([-1.0, 0.0, 0.5]) and monotone([0.5, 0.5, -1.0]) and monotone([0.1])
    assert not monotone([0.0, 1.0, 0.5])
    ok = pd.DataFrame({"variable": ["a", "a", "b"], "f": [0.25, 0.75, 1.0]})
    bad = pd.DataFrame({"variable": ["a", "a"], "f": [0.25, 0.7]})
    assert fractions_sum_to_one(ok, "f") and not fractions_sum_to_one(bad, "f")


def test_monitor_check_wants_exactly_the_two_sentinel_buckets():
    import pandas as pd

    import workloads as wl

    w = object.__new__(wl.CreditFitScore)  # the check needs only the bins
    w.bins = gen.monitor_bins()
    w.variables = list(dict.fromkeys(w.bins["variable"]))
    rows = []
    for var, b in w.bins.groupby("variable"):
        buckets = [f"b{i}" for i in range(len(b))] + ["missing", "out_of_range"]
        rows += [(var, k, 1 / len(buckets), 1 / len(buckets)) for k in buckets]
    detail = pd.DataFrame(rows, columns=["variable", "bucket", "expected_frac", "actual_frac"])
    summary = pd.DataFrame({"variable": w.variables, "psi": 0.0})
    char = pd.DataFrame(
        [(v, y, "b0", 1.0) for v in w.variables for y in gen.SHIP_YEARS],
        columns=["variable", "ship_year", "bucket", "frac"],
    )
    w.check_monitor((detail, summary, char))
    dropped = detail[detail["bucket"] != "missing"]
    third = pd.concat([detail, detail[detail["bucket"] == "missing"].assign(bucket="other")])
    renamed = detail.replace({"bucket": {"out_of_range": "other"}})
    for bad in (dropped, third, renamed):
        with pytest.raises(wl.CheckFailed):
            w.check_monitor((bad, summary, char))


class _FakeWorkload:
    """One call ``a`` of 1 s whose output digest is ``digests[i]`` on the
    i-th iteration."""

    def __init__(self, digests):
        self.digests = list(digests)

    def iterate(self, spark, span=None):
        return {"a": 1.0}, {"a": self.digests.pop(0)}, []

    def step_times(self, times):
        return {"step1_s": times["a"]}


def test_traced_iterations_must_agree_on_every_digest():
    from types import SimpleNamespace

    import layers
    import workloads as wl

    col = SimpleNamespace(span=object(), spans={"a": SimpleNamespace(wall_s=0.75)})
    assert layers.composite(None, _FakeWorkload(["x", "x"]), col) == {
        "trace.overhead.step1_s": 0.25
    }
    with pytest.raises(wl.CheckFailed):
        layers.composite(None, _FakeWorkload(["x", "y"]), col)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    tmp = str(tmp_path_factory.mktemp("spark"))
    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "wh"))
        .getOrCreate()
    )
    yield session
    session.stop()


def test_collector_splits_two_job_groups(spark):
    from tracing import Collector

    col = Collector(spark, prefix="t")
    with col.span("agg"):
        spark.range(0, 10_000, numPartitions=2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    with col.span("count"):
        spark.range(0, 500, numPartitions=2).count()
    agg, cnt = col.spans["agg"], col.spans["count"]
    assert agg.jobs >= 1 and cnt.jobs >= 1
    assert agg.shuffle_bytes > 0
    assert agg.input_records >= 10_000
    assert agg.executor_run_s >= 0 and agg.wall_s > 0
    assert agg.failed_tasks == 0 and cnt.failed_tasks == 0
    assert agg.last_stage_task_s and agg.task_skew() >= 1.0
    # jobs outside any span are not attributed to either group
    spark.range(0, 100).count()
    again = col._collect("t-1-agg", "agg", agg.wall_s)
    assert (again.jobs, again.stages) == (agg.jobs, agg.stages)
