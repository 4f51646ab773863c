"""As-of (nearest-preceding) join — the time-series operator Spark
lacks natively.

Implementation is the classic union + last-ignorenulls window: tag
both sides, union them, sort per key by (ts, side) and carry the most
recent right-side payload forward, then keep only left rows. ONE
shuffle on the join key — no range self-join, no per-row explosion,
no driver involvement; at 10^12 rows this is a single hash exchange +
in-partition sort. Skew caveat: every row of one key sorts in one
window task, and AQE cannot split it (it splits joins, not windows —
a split would break the running last-ignorenulls), so a Zipf-hot key
bounds the task size.

Recast of the reference's timestamp pairing between paired series
(/root/reference/src/uc3_timeseries_quality_checks.py full-outer
merge) for the "value as of event time" question its dashboards
answer per-file. Oracle: DuckDB's native ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def point_in_range_join(points: DataFrame, ranges: DataFrame,
                        key_col: str, pt_col: str, start_col: str,
                        end_col: str, bucket_width: float) -> DataFrame:
    """Inclusive point-in-interval join (same key): every point row ×
    every range row with start ≤ pt ≤ end.

    The naive formulation is an inequality join — Spark plans it as a
    BroadcastNestedLoopJoin/CartesianProduct, which is O(|P|·|R|) and
    forbidden at scale. This is the classic BUCKETIZED range join:
    each range explodes into its covered coarse buckets
    (⌈span/width⌉+1 rows), each point maps to exactly one bucket, and
    the join becomes a plain hash equi-join on (key, bucket) followed
    by the exact between-filter. A point's bucket is covered at most
    once per range, so no post-join dedup is needed. Pick
    bucket_width ≈ the typical range span: candidate blow-up is then
    ~2× rows, never quadratic.
    """
    w = float(bucket_width)
    p = points.withColumn("_bkt",
                          F.floor(F.col(pt_col) / F.lit(w)).cast("long"))
    r = ranges.withColumn(
        "_bkt",
        F.explode(F.sequence(
            F.floor(F.col(start_col) / F.lit(w)).cast("long"),
            F.floor(F.col(end_col) / F.lit(w)).cast("long"))))
    joined = p.join(r, [key_col, "_bkt"])
    return (joined
            .filter((F.col(pt_col) >= F.col(start_col))
                    & (F.col(pt_col) <= F.col(end_col)))
            .drop("_bkt"))


def asof_join(left: DataFrame, right: DataFrame, key_col: str,
              ts_col: str, value_cols: list[str],
              tolerance: float | None = None) -> DataFrame:
    """Backward as-of join: every left row gains the right row's
    ``value_cols`` from the LATEST right ts ≤ left ts with the same
    key (inclusive ties: a right row at exactly left.ts matches).

    ``tolerance``: maximum allowed left.ts − right.ts (same units as
    ts_col); matches older than that become nulls. Right-side ts must
    be unique per key for deterministic output (asserted by the
    caller's data contract, same as DuckDB ASOF).
    """
    lcols = [c for c in left.columns]
    l = left.select(*lcols, F.lit(1).alias("_side"),
                    *[F.lit(None).cast(right.schema[v].dataType)
                      .alias(f"_r_{v}") for v in value_cols],
                    F.lit(None).cast(right.schema[ts_col].dataType)
                    .alias("_r_ts"))
    r = right.select(*[F.col(key_col)],
                     F.col(ts_col),
                     *[F.lit(None).cast(left.schema[c].dataType).alias(c)
                       for c in lcols if c not in (key_col, ts_col)],
                     F.lit(0).alias("_side"),
                     *[F.col(v).alias(f"_r_{v}") for v in value_cols],
                     F.col(ts_col).alias("_r_ts")).select(
        *lcols, "_side", *[f"_r_{v}" for v in value_cols], "_r_ts")
    u = l.unionByName(r)
    # right rows (side 0) sort BEFORE a left row at the same ts →
    # inclusive as-of semantics
    w = (Window.partitionBy(key_col).orderBy(ts_col, "_side")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = [F.last(f"_r_{v}", ignorenulls=True).over(w)
               .alias(f"_c_{v}") for v in value_cols]
    carried_ts = F.last("_r_ts", ignorenulls=True).over(w).alias("_c_ts")
    out = (u.select("*", *carried, carried_ts)
           .filter(F.col("_side") == 1))
    if tolerance is not None:
        ok = (F.col(ts_col) - F.col("_c_ts")) <= tolerance
        sel = [F.when(ok, F.col(f"_c_{v}")).alias(v) for v in value_cols]
    else:
        sel = [F.col(f"_c_{v}").alias(v) for v in value_cols]
    return out.select(*lcols, *sel)

