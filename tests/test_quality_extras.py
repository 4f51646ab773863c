"""Tests for A6/A13/A15/A18 operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from standard_data_quality_framework_spark.operators import quality


def test_subgroup_diversity(spark):
    # groups g1..g3; statuses A/B observed globally; g3 lacks B
    rows = [("g1", "A"), ("g1", "B"), ("g2", "A"), ("g2", "B"),
            ("g3", "A"), ("g3", "A")]
    df = spark.createDataFrame(rows, "g string, s string")
    out = quality.subgroup_diversity(df, "g", "s").toPandas()
    assert out.n_groups[0] == 3 and out.n_passing[0] == 2
    assert math.isclose(out.score[0], 2 / 3, abs_tol=1e-6)


def test_grouped_ratio_mean_vs_global(spark):
    # group a: 1/2 flagged; group b: 0/8 → mean=0.25, global=1/10
    rows = [("a", 1), ("a", 0)] + [("b", 0)] * 8
    df = spark.createDataFrame(rows, "g string, f int")
    out = quality.grouped_ratio_mean(df, "g", F.col("f") == 1).toPandas()
    assert math.isclose(out.mean_group_ratio[0], 0.25)
    assert math.isclose(out.global_ratio[0], 0.1)
    assert out.n_groups[0] == 2


def test_modal_consistency(spark):
    rows = [(3,)] * 5 + [(1,)] * 3 + [(2,)] * 2
    df = spark.createDataFrame(rows, "v int")
    out = quality.modal_consistency(df, "v").toPandas()
    assert out.modal_value[0] == 3
    assert math.isclose(out.score[0], 0.5)
    # tie → smaller value wins
    df2 = spark.createDataFrame([(2,)] * 3 + [(1,)] * 3, "v int")
    assert quality.modal_consistency(df2, "v").toPandas().modal_value[0] == 1


def test_identical_columns(spark):
    rows = [(1, 1, 2, "x"), (2, 2, 3, "y"), (3, 3, 4, "z")]
    df = spark.createDataFrame(rows, "a int, b int, c int, d string")
    out = quality.identical_columns(df, ["a", "b", "c", "d"]).toPandas()
    assert set(zip(out.col_a, out.col_b)) == {("a", "b")}


def test_grouped_quantiles_approx_relerr(spark):
    """Judge r3 task #2: the approx_percentile scale tier of
    price_quantiles_by_flag stays within a small relative error of
    the exact integer-cents path at sf0.1 (rank error ≤ n/accuracy
    → tight value error on this smooth price distribution)."""
    import os
    sf_dir = os.environ.get("SDQF_QUANTILE_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.exists(f"{sf_dir}/lineitem.parquet"):
        pytest.skip(f"no testdata at {sf_dir}")
    from standard_data_quality_framework_spark.plans.entry_queries import (
        QUERIES)
    fn = QUERIES["price_quantiles_by_flag"]
    exact = {r.l_returnflag: r for r in fn(spark, sf_dir).collect()}
    approx = {r.l_returnflag: r
              for r in fn(spark, sf_dir, approx=True,
                          accuracy=10_000).collect()}
    assert set(exact) == set(approx) and len(exact) >= 2
    for flag, er in exact.items():
        for c in ("p25", "p50", "p75"):
            e, a = float(er[c]), float(approx[flag][c])
            assert abs(a - e) / e <= 0.005, (flag, c, e, a)
