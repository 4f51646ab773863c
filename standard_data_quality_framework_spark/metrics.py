"""Per-stage quality-dimension metrics — the reference's dataset-level
scores recast as an aggregation query over the verdicts frame.

Reference parity:
  * the seven dimensions of /root/reference/src/quality_checks.py:360-380
  * score→rating bucketing of /root/reference/src/rating.py:4-27
  * overall = mean of per-dimension ratings (/root/reference/src/rating.py:49-54)

Formulas (per partition group, default per warc_date):
  completeness      = non-missing cells / total cells over
                      (url, warc_ts, text, lang)        [A7]
  accuracy          = docs passing all range rules / docs [A8]
  coherence         = docs whose text decodes/parses cleanly / docs [A9]
  semantic_coherence= 1 − exact-dup docs / docs          [A12]
  relational_cons.  = distinct urls / docs               [A10]
  pop_representativity = 1 − Σ_c |p_c − 1/k| / (2(1−1/k)) over lang_pred [A3]
  metadata_granularity = docs with (url, warc_ts, lang) all present / docs [A16]

Aggregation shape: ``day_summary`` reads the verdicts with TWO hash
aggregations — the per-group counters, and the per-(group, lang_pred)
class counts collected into one class-sorted array per group — joined
once into ONE small row per group. ``metrics_from_summary``,
``dropped_by_rule`` and ``lineage_rows`` are projections of that row,
so a caller that persists the summary feeds all three sinks from one
verdict pass. Map-side partial aggregation applies to both
aggregations, and there is no skew (dates are the partition key).
Every score is integer counts divided after the aggregation, and
representativity sums its per-class deviations in class order, so
the metrics do not depend on how the verdicts are partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DIMENSIONS, RULE_ORDER
from .functions.rating import bucket_rating

_RANGE_RULES = ["min_words", "max_words", "mean_word_len",
                "symbol_to_word", "nonalnum_frac", "perplexity"]


def _flag(c) -> F.Column:
    return F.when(c, 1).otherwise(0)


def _empty_details() -> F.Column:
    return F.map_from_entries(
        F.array().cast("array<struct<key:string,value:string>>"))


_META_COLS = ["url", "warc_ts", "text", "lang"]


def day_summary(verdicts: DataFrame,
                group_col: str = "warc_date") -> DataFrame:
    """ONE row per group holding every counter the metrics,
    dropped_by_rule and lineage sinks read: (partition_key,
    docs_scanned, docs_dropped, docs_kept, scrub_edit_count, the
    ``_``-prefixed detail counters, ``_drop_<rule>`` per RULE_ORDER
    rule, and ``_classes`` — the non-null lang_pred class counts as
    an array<struct<cls, n>> sorted by class, null when every
    lang_pred of the group is null)."""
    g = F.col(group_col).cast("string").alias("partition_key")
    # ONE coherence predicate shared by the score and its detail
    # counter (null etext → not coherent on BOTH sides; a bare
    # `length(etext) > 0` is null for null etext, which _flag would
    # count as clean in the detail while the score counts it bad)
    _etext = F.coalesce(F.col("etext"), F.lit(""))
    coherent = (F.length(_etext) > 0) & ~_etext.contains("�")
    presence = {
        "url": F.col("url").isNotNull(),
        "warc_ts": F.col("warc_ts").isNotNull(),
        "text": F.col("etext").isNotNull() & (F.length("etext") > 0),
        "lang": F.col("lang").isNotNull() & (F.length("lang") > 0),
    }
    meta_ok = (F.col("url").isNotNull() & F.col("warc_ts").isNotNull()
               & F.col("lang").isNotNull() & (F.length("lang") > 0))
    in_range = ~F.arrays_overlap(
        "drop_reasons", F.array(*[F.lit(r) for r in _RANGE_RULES]))
    base = verdicts.groupBy(g).agg(
        F.count("*").alias("docs_scanned"),
        F.sum(_flag(~F.col("keep"))).alias("docs_dropped"),
        F.sum(_flag(F.col("keep"))).alias("docs_kept"),
        F.sum(F.col("scrub_edits").cast("long")).alias("scrub_edit_count"),
        F.sum(sum(_flag(p) for p in presence.values()))
        .alias("_n_present_cells"),
        *[F.sum(_flag(~p)).alias(f"_missing_{c}")
          for c, p in presence.items()],
        F.sum(_flag(in_range)).alias("_n_in_range"),
        F.sum(_flag(coherent)).alias("_n_coherent"),
        F.sum(_flag(~coherent)).alias("_n_bad_decode"),
        F.count_distinct("url").alias("_n_distinct_urls"),
        F.sum(_flag(meta_ok)).alias("_n_meta_ok"),
        *[F.sum(_flag(F.array_contains("drop_reasons", r)))
          .alias(f"_drop_{r}") for r in RULE_ORDER],
    )
    # population classes over lang_pred — nulls dropped BEFORE
    # counting, matching the reference's remove-NA step
    # (quality_checks.py valid_data): null is missing data (a
    # completeness problem), not a population class
    classes = (verdicts.filter(F.col("lang_pred").isNotNull())
               .groupBy(g, "lang_pred").agg(F.count("*").alias("n"))
               .groupBy("partition_key")
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col("lang_pred").alias("cls"), "n")))
                   .alias("_classes")))
    return base.join(classes, "partition_key", "left")


def metrics_from_summary(summary: DataFrame) -> DataFrame:
    """Long-format metrics from ``day_summary``: one row per (group,
    dimension) + overall.

    Output: (partition_key string, dimension string, score double,
             rating int, docs_scanned long, docs_dropped long,
             scrub_edit_count long, explanation string,
             details map<string,string>)

    ``details`` completes the reference's (score, explanation, details)
    3-tuple contract (rating.py:35-39): per-column missing counts for
    completeness (quality_checks.py:215-242), per-rule flagged counts
    for accuracy, per-class proportions for representativity
    (uc4_tabular_quality_checks.py:193-291), and the raw counters
    behind each ratio score.
    """
    n = F.col("docs_scanned")
    # representativity (A3, total deviation) folded over the
    # class-sorted array: a fixed summation order, so the score is
    # bit-identical under any partitioning of the verdicts. k<=1 → 0.0
    # (reference parity, quality_checks.py:25-29: a single class is
    # maximally unrepresentative); a group whose lang_pred is ALL null
    # has no classes — score 0.0, empty details.
    classes, k, total = F.col("_classes"), F.size("_classes"), F.col("_total")
    total_dev = F.aggregate(
        classes, F.lit(0.0),
        lambda acc, c: acc + F.abs(c["n"] / total - 1.0 / k))
    rep = F.coalesce(
        F.when(k <= 1, F.lit(0.0))
        .otherwise(F.lit(1.0) - total_dev / (2.0 * (1.0 - 1.0 / k))),
        F.lit(0.0))
    rep_details = F.coalesce(
        F.map_from_entries(F.transform(classes, lambda c: F.struct(
            c["cls"].alias("key"),
            F.round(c["n"] / total, 6).cast("string").alias("value")))),
        _empty_details())
    wide = (summary
            .withColumn("_total", F.aggregate(
                classes, F.lit(0).cast("long"),
                lambda acc, c: acc + c["n"]))
            .select(
                "*",
                (F.col("_n_present_cells") / (n * len(_META_COLS)))
                .alias("completeness"),
                (F.col("_n_in_range") / n).alias("accuracy"),
                (F.col("_n_coherent") / n).alias("coherence"),
                (F.lit(1.0) - F.col("_drop_exact_dup") / n)
                .alias("semantic_coherence"),
                (F.col("_n_distinct_urls") / n)
                .alias("relational_consistency"),
                rep.alias("population_representativity"),
                (F.col("_n_meta_ok") / n).alias("metadata_granularity"),
                rep_details.alias("_rep_details")))

    def _m(*pairs) -> F.Column:
        kv = []
        for key, v in pairs:
            kv += [F.lit(key), v.cast("string")]
        return F.create_map(*kv)

    detail_exprs = {
        "completeness": _m(*[(f"missing_{c}", F.col(f"_missing_{c}"))
                             for c in _META_COLS]),
        "accuracy": _m(*[(f"flagged_{r}", F.col(f"_drop_{r}"))
                         for r in _RANGE_RULES]),
        "coherence": _m(("bad_decode", F.col("_n_bad_decode"))),
        "semantic_coherence": _m(("exact_dup_docs",
                                  F.col("_drop_exact_dup"))),
        "relational_consistency": _m(("distinct_urls",
                                      F.col("_n_distinct_urls"))),
        "population_representativity": F.col("_rep_details"),
        "metadata_granularity": _m(("meta_complete_docs",
                                    F.col("_n_meta_ok"))),
    }

    # ONE wide row per group → explode into the long format. (A union
    # of per-dimension selects re-aggregates the verdicts frame once
    # per dimension — 9 full passes over the data at scale; this is a
    # single aggregation + an 9-element array explode.)
    def _entry(dim: str) -> F.Column:
        # explanations are part of the reference's check contract —
        # every (score, explanation) tuple, e.g. quality_checks.py:54-57
        expl = F.format_string(
            "%s score %.4f over %d docs (%d dropped)",
            F.lit(dim), F.col(dim).cast("double"),
            F.col("docs_scanned"), F.col("docs_dropped"))
        return F.struct(
            F.lit(dim).alias("dimension"),
            F.col(dim).cast("double").alias("score"),
            bucket_rating(F.col(dim)).alias("rating"),
            expl.alias("explanation"),
            detail_exprs.get(dim, _empty_details()).alias("details"))

    n_dims = len(DIMENSIONS)
    overall_score = sum(F.col(d).cast("double")
                        for d in DIMENSIONS) / n_dims
    overall_rating = F.round(
        sum(bucket_rating(F.col(d)).cast("double")
            for d in DIMENSIONS) / n_dims).cast("int")
    overall = F.struct(
        F.lit("overall").alias("dimension"),
        overall_score.alias("score"),
        overall_rating.alias("rating"),
        F.lit(f"overall: mean of {n_dims} dimension ratings")
        .alias("explanation"),
        _empty_details().alias("details"))

    entries = F.array(*[_entry(d) for d in DIMENSIONS], overall)
    return (wide.select("partition_key", "docs_scanned", "docs_dropped",
                        "scrub_edit_count", F.explode(entries).alias("e"))
            .select("partition_key",
                    F.col("e.dimension").alias("dimension"),
                    F.col("e.score").alias("score"),
                    F.col("e.rating").alias("rating"),
                    "docs_scanned", "docs_dropped", "scrub_edit_count",
                    F.col("e.explanation").alias("explanation"),
                    F.col("e.details").alias("details")))


def dimension_metrics(verdicts: DataFrame,
                      group_col: str = "warc_date") -> DataFrame:
    """Long-format metrics straight from a verdicts frame — see
    ``metrics_from_summary`` for the output contract."""
    return metrics_from_summary(day_summary(verdicts, group_col))


def dropped_by_rule(summary: DataFrame) -> DataFrame:
    """(partition_key, rule, n_dropped) — per-rule drop counts from
    ``day_summary``; rules that dropped nothing in a group have no
    row. (A rule appears at most once per doc's drop_reasons, so the
    per-doc flag sums equal the exploded-reason counts.)"""
    rules = F.array(*[F.struct(F.lit(r).alias("rule"),
                               F.col(f"_drop_{r}").alias("n_dropped"))
                      for r in RULE_ORDER])
    return (summary.select("partition_key", F.explode(rules).alias("e"))
            .select("partition_key", "e.rule", "e.n_dropped")
            .filter(F.col("n_dropped") > 0))


def lineage_rows(summary: DataFrame, run_id: str,
                 stage: str) -> DataFrame:
    """Per-partition lineage bookkeeping for checkpoint/resume, from
    ``day_summary``."""
    return summary.select(
        F.lit(run_id).alias("run_id"), F.lit(stage).alias("stage"),
        "partition_key", F.lit("done").alias("status"),
        F.col("docs_scanned").alias("rows_in"),
        F.col("docs_kept").alias("rows_out"),
        F.current_timestamp().alias("finished_ts"))
