"""AQE skew-join evidence (judge r2 task #8): a Zipf-skewed domain
join must trigger adaptive skew-partition splitting — the runtime
half of the north rule's skew story (the compile-time half is map-side
partial aggregation, which collapses a hot key before its shuffle)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

_SKEW_CONF = {
    # force a sort-merge join and make the thresholds reachable at
    # test scale; on a real cluster the defaults (256 MB / 5x) play
    # the same role at partition sizes that actually hurt
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
}


@pytest.fixture()
def skew_conf(spark):
    old = {k: spark.conf.get(k, None) for k in _SKEW_CONF}
    for k, v in _SKEW_CONF.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_domain_join(spark, skew_conf):
    n = 60_000
    # Zipf-ish: 85% of pages on one hot domain, tail over 500 others
    big = spark.range(n).select(
        F.when(F.col("id") % 100 < 85, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("tail-"),
                            (F.col("id") % 500).cast("string"),
                            F.lit(".example.org"))).alias("domain"),
        F.concat(F.lit("p" * 300), F.col("id").cast("string"))
        .alias("payload"))
    dim = (spark.range(501).select(
        F.when(F.col("id") == 0, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("tail-"),
                            (F.col("id") - 1).cast("string"),
                            F.lit(".example.org"))).alias("domain"),
        (F.col("id") % 7).alias("domain_tier")))
    joined = big.join(dim, "domain")

    # execute THIS frame (count()/write wrap it in a new
    # QueryExecution whose final plan we can't read back), then read
    # the final adaptive plan off the same DataFrame
    assert len(joined.collect()) == n
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain()
    plan = buf.getvalue()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan


def test_verdict_dedup_balanced_under_mega_duplication(spark):
    """Judge r4 task #1: one viral template page duplicated across a
    large fraction of a crawl day used to land ALL its copies in one
    row_number window partition (single sorting task — AQE cannot
    split windows). The aggregate+join verdict must (a) keep exactly
    the min-url copy and flag every other copy exact_dup, and (b)
    execute the dedup as a skew-splittable shuffle JOIN with no
    Window/Sort on the full-row probe side.

    Note on AQE `skew=true` at test scale: shuffle blocks are
    lz4-compressed and byte-identical copies compress to almost
    nothing, so the hot partition's on-disk size does not cross the
    skew threshold here (it does at crawl scale, where even
    compressed 10^8 copies dominate). The property this test pins is
    STRUCTURAL: the dedup is a shuffle join — the operator class AQE
    can split (proven by test_aqe_splits_skewed_domain_join) — and
    its probe side never sorts or buffers the hot group, unlike the
    WindowExec it replaced."""
    from standard_data_quality_framework_spark.fixtures import make_pages
    from standard_data_quality_framework_spark.pipeline import (
        run_quality_filter)

    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        pdf = make_pages(4000, seed=11, dup_frac=0.4)
        n_viral = int(pdf.url.str.startswith(
            "https://viral.example.com/").sum())
        assert n_viral > 1200  # the adversarial mass is really there
        out = run_quality_filter(spark, spark.createDataFrame(pdf))
        verdicts = out.verdicts.select("url", "drop_reasons")
        rows = verdicts.collect()  # executes → final adaptive plan
        dup = {r.url: ("exact_dup" in r.drop_reasons)
               for r in rows if r.url.startswith("https://viral.")}
        assert len(dup) == n_viral
        kept = sorted(u for u, d in dup.items() if not d)
        assert kept == [min(dup)]  # min-url copy survives, all else dup

        import io
        from contextlib import redirect_stdout
        buf = io.StringIO()
        with redirect_stdout(buf):
            verdicts.explain()
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "Window" not in plan
        assert "ShuffledHashJoin" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_carries_last_non_null_per_column(spark):
    """ADVICE r4: a right value column containing NULLs carries its
    last NON-NULL value per column — a later NULL in one column must
    not mask an earlier value, and must not hold back the other
    column's later value."""
    from standard_data_quality_framework_spark.operators.asof import (
        asof_join)
    right = spark.createDataFrame(
        [("k", 10.0, 5.0, None), ("k", 20.0, None, 7.0),
         ("j", 4.0, 1.0, 2.0), ("j", 21.0, None, None)],
        "key string, ts double, v double, w double")
    left = spark.createDataFrame(
        [("k", 25.0), ("k", 12.0), ("j", 30.0), ("j", 3.0)],
        "key string, ts double")
    got = sorted(asof_join(left, right, "key", "ts", ["v", "w"])
                 .collect(), key=lambda r: (r.key, r.ts))
    assert [tuple(r) for r in got] == [
        ("j", 3.0, None, None),   # no right row at or before t=3
        ("j", 30.0, 1.0, 2.0),    # t=21's NULLs mask neither column
        ("k", 12.0, 5.0, None),   # w has no non-null value yet
        ("k", 25.0, 5.0, 7.0),    # v=5 from t=10 though t=20 v=NULL
    ]
