"""The benchmark's own tests: seeded inputs, the statistics helpers, and
job attribution by time window.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import harness  # noqa: E402
import tracing  # noqa: E402


@pytest.mark.parametrize(
    "make",
    [lambda s: gen.cdc_inputs(s, 5), gen.analytic_inputs],
    ids=["cdc_ann", "analytic_mix"],
)
def test_inputs_are_a_function_of_the_seed(make):
    assert gen.digest(make(7)) == gen.digest(make(7))
    assert gen.digest(make(7)) != gen.digest(make(8))


def test_analytic_tables_cover_the_basket():
    """Every table the basket reads is generated, with the testdata's
    tz-less microsecond timestamps, matching join keys and planted
    duplicates for the dedup entries."""
    tables = gen.analytic_inputs(1)
    assert sorted(tables) == sorted({t for ts in gen.BASKET.values() for t in ts})
    li = tables["lineitem"]
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
    assert set(li.column("l_orderkey").to_pylist()) <= set(tables["orders"].column("o_orderkey").to_pylist())
    docs = tables["documents"].column("text").to_pylist()
    assert len(set(docs)) < len(docs)  # planted exact duplicates
    assert any(t.endswith(" dup") for t in docs)  # planted near duplicates


def test_cdc_steps_change_only_live_ids():
    inputs = gen.cdc_inputs(5, 4)
    live = set(inputs.ids.tolist())
    for step in inputs.warmup + inputs.steps:
        for i, op in zip(step.ids.tolist(), step.op.tolist()):
            assert (i in live) == (op != "I")
            if op == "D":
                live.discard(i)
            else:
                live.add(i)
        assert (step.qids < 0).all()


def test_kind_geomean_weighs_every_kind_once():
    by_kind = {"a": [1.0, 100.0, 1.0], "b": [4.0]}
    assert harness.kind_geomean(by_kind) == pytest.approx(2.0)


def test_busy_is_the_union_of_job_intervals():
    jobs = [{"t0": 0.0, "t1": 2.0}, {"t0": 1.0, "t1": 3.0}, {"t0": 5.0, "t1": 6.0}]
    assert tracing.busy(jobs, 0.0, 10.0) == pytest.approx(4.0)
    assert tracing.busy(jobs, 2.5, 5.5) == pytest.approx(1.0)


def test_window_attribution_sees_every_job_of_a_bloom_upsert():
    """Jobs launched from the table layer's worker threads lose the
    caller's job group, so only a time window counts all of them: the
    window around one upsert must hold exactly the status store's delta."""
    run = harness.Run("attribution-test", 0, 1, ROOT)
    spark = run.start_session()
    try:
        from sif_spark.table import SifTable

        df = spark.range(2000).selectExpr("id AS k", "id * 3 AS v")
        t = SifTable.create(spark, f"{run.work}/t", df, key_col="k", key_bloom=True)
        before, _ = tracing.fetch_status(spark)
        spark.sparkContext.setJobGroup("perfbench-upsert", "one upsert")
        t0 = time.time()
        t.upsert(spark.range(1500, 2500).selectExpr("id AS k", "id AS v"))
        t1 = time.time()
        after, _ = tracing.fetch_status(spark)
        window = tracing.jobs_in(after, t0, t1)
        assert len(window) > 0
        assert len(window) == len(after) - len(before)
        grouped = [j for j in after if j.get("jobGroup") == "perfbench-upsert"]
        assert len(grouped) <= len(window)
    finally:
        run.stop()
