"""Checkpoint-resumable job runner.

One "run" = quality-filter the pages table into the warehouse:

  tables written:
    pages_filtered   (partitioned by warc_date)            — dynamic overwrite
    metrics          (partitioned by stage × partition_key) — dynamic overwrite
    dropped_by_rule  (partitioned by stage × partition_key) — dynamic overwrite
    lineage          (append, one row per warc_date; commit LAST)

How the sinks are fed: the verdict frame is persisted once and the
kept-pages write reads it directly; one small per-day summary
aggregate over the persisted verdicts (metrics.day_summary, persisted
too) feeds metrics, dropped_by_rule and lineage. The run-level
counters ride the first verdict action via observe(), the pending
dates and the undated-page count come from one job before the
pipeline starts, and schema presence is read off the input's column
list — no Spark job recomputes a frame another one already built.

Resume contract: lineage is committed only after the data/metrics
writes for the covered partitions succeed, and EVERY data/metrics
write is an idempotent per-partition overwrite — a replayed partition
replaces its own previous rows instead of appending next to them, so
a crash after the metrics write but before the lineage commit cannot
double-count. On restart we subtract the dates of completed lineage
rows for this stage from the input's warc_dates and re-process only
the remainder. (Duplicate 'done' lineage rows from a crash mid-append
are harmless: pending_dates reads the set of partition_keys.) Pages
with a NULL warc_ts have no date partition: they are never pending,
and every run reports them as ``rows_undated``.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .metrics import (day_summary, dropped_by_rule, lineage_rows,
                      metrics_from_summary)
from .pipeline import run_quality_filter, with_partition_cols
from .sources.catalog import ParquetCatalog

STAGE = "quality_filter"
GLOBAL_DEDUP_STAGE = "global_dedup"


def pending_dates(catalog: ParquetCatalog, pages: DataFrame) -> DataFrame:
    """ONE row: ``dates`` — the sorted distinct non-NULL input
    warc_dates minus the dates with a done lineage row for this
    stage — and ``rows_undated``, the number of pages whose warc_ts is
    NULL.

    Both come from one global aggregate over the input, so a single
    job answers both (the done dates, a few rows per crawl day, are
    read here first and enter the plan as literals). The NULL date is
    never pending: its pages match no date partition, and listing it
    would re-run the pipeline on every resume."""
    # collect_set skips NULL; its map-side partial aggregate keeps one
    # small date set per input partition
    dates = F.collect_set(F.to_date("warc_ts"))
    if catalog.exists("lineage"):
        done = {r[0] for r in catalog.read("lineage")
                .filter((F.col("stage") == STAGE)
                        & (F.col("status") == "done"))
                .select(F.col("partition_key").cast("date")).collect()}
        if done:
            dates = F.array_except(
                dates, F.array(*[F.lit(d) for d in sorted(done)]))
    return pages.agg(
        F.array_sort(dates).alias("dates"),
        F.count_if(F.col("warc_ts").isNull()).alias("rows_undated"))


def run(spark: SparkSession, pages: DataFrame, warehouse: str,
        run_id: str | None = None) -> dict:
    """Execute (or resume) the quality-filter run. Returns summary."""
    run_id = run_id or uuid.uuid4().hex[:12]
    catalog = ParquetCatalog(spark, warehouse)

    # scored schema-presence check against the use-case contract
    # (config.EXPECTED_PAGE_COLUMNS) — read off the column list, no job
    from .config import EXPECTED_PAGE_COLUMNS
    from .operators.quality import columns_presence
    presence, missing = columns_presence(pages.columns,
                                         EXPECTED_PAGE_COLUMNS)
    if presence < 1.0:
        raise ValueError(
            f"input is missing expected columns: {','.join(missing)} "
            f"(schema presence {presence})")

    todo = pending_dates(catalog, pages).first()
    dates, n_undated = list(todo.dates), int(todo.rows_undated)
    if not dates:
        return {"run_id": run_id, "dates_processed": 0, "resumed": True,
                "rows_undated": n_undated, "schema_presence": presence}

    # restrict input to pending partitions with the collected date
    # literals (partition pruning at the scan on a real Iceberg table)
    pages_todo = (with_partition_cols(pages)
                  .filter(F.col("warc_date").isin(dates))
                  .drop("warc_date", "url_bucket"))

    out = run_quality_filter(spark, pages_todo)
    # cheap run-level counters ride along with the first action via
    # observe() (A19 summary-stats pattern — no extra pass)
    obs = Observation(f"qf_{run_id}")
    observed = out.verdicts.observe(
        obs,
        F.count(F.lit(1)).alias("docs_scanned"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("docs_kept"),
        F.sum(F.col("scrub_edits").cast("long")).alias("scrub_edits"))
    # one materialization of the verdict frame feeds the kept sink and
    # the per-day summary; the summary feeds the other three sinks
    verdicts = observed.persist()
    summary = None
    try:
        kept = (verdicts.filter(F.col("keep"))
                .select("url", "warc_ts",
                        F.col("scrubbed_text").alias("text"),
                        F.col("lang_pred").alias("lang"),
                        "warc_date", "url_bucket"))
        catalog.overwrite_partitions(kept, "pages_filtered", ["warc_date"])

        summary = day_summary(verdicts).persist()
        # per-partition overwrite (NOT append): a replay of a partition
        # whose lineage never committed replaces its own rows — resume
        # cannot double-count metrics
        mets = metrics_from_summary(summary).withColumn(
            "run_id", F.lit(run_id)).withColumn("stage", F.lit(STAGE))
        catalog.overwrite_partitions(mets, "metrics",
                                     ["stage", "partition_key"])

        dbr = dropped_by_rule(summary).withColumn(
            "run_id", F.lit(run_id)).withColumn("stage", F.lit(STAGE))
        catalog.overwrite_partitions(dbr, "dropped_by_rule",
                                     ["stage", "partition_key"])

        # lineage commit LAST — the resume barrier
        catalog.append(lineage_rows(summary, run_id, STAGE), "lineage")
        counters = dict(obs.get)
    finally:
        if summary is not None:
            summary.unpersist()
        verdicts.unpersist()
    return {"run_id": run_id, "dates_processed": len(dates),
            "rows_in": int(counters["docs_scanned"]),
            "rows_kept": int(counters["docs_kept"] or 0),
            "rows_undated": n_undated, "resumed": False,
            "observed": counters, "schema_presence": presence}


def _neardup_edges(docs: DataFrame, n: int, num_hashes: int, bands: int,
                   threshold: float, max_bucket_size: int | None) -> DataFrame:
    """(id_a, id_b) near-dup edges = MinHash-LSH verified pairs ∪
    exact-duplicate star edges.

    The exact-hash union is the hot-bucket cap's other half: the cap
    drops band buckets above ``max_bucket_size`` from LSH candidate
    generation (a 10^5-doc template cluster would alone emit ~5·10^9
    candidate pairs), and the exact path guarantees byte-identical
    template docs still cluster — B identical docs cost B−1 star
    edges through a uniform-key window, never B²/2 pairs."""
    from .operators.dedup import exact_duplicates, minhash_lsh_pairs
    lsh = (minhash_lsh_pairs(docs, "id", "text", n=n,
                             num_hashes=num_hashes, bands=bands,
                             threshold=threshold,
                             max_bucket_size=max_bucket_size)
           .select("id_a", "id_b"))
    exact = (exact_duplicates(docs, "id", "text")
             .filter(F.col("is_dup"))
             .select(F.col("kept_id").alias("id_a"),
                     F.col("id").alias("id_b")))
    return lsh.unionByName(exact).distinct()


def _literal_row(spark: SparkSession, cols: list[tuple]) -> DataFrame:
    """One-row frame of typed literals, from (name, type, value)
    triples — built natively: createDataFrame(list) ships the row
    through a PythonRDD and starts Python workers for it."""
    return spark.range(1).select(*[F.lit(v).cast(t).alias(name)
                                   for name, t, v in cols])


def run_global_dedup(spark: SparkSession, warehouse: str,
                     run_id: str | None = None, n: int = 5,
                     num_hashes: int = 16, bands: int = 4,
                     threshold: float = 0.85,
                     max_bucket_size: int | None = 500,
                     incremental: bool = True,
                     delta_member_sample: int = 0,
                     full_rebuild_every: int | None = None) -> dict:
    """Cross-day near-duplicate clustering over the whole
    ``pages_filtered`` warehouse table → ``dup_clusters``.

    The in-pipeline exact-dup window is deliberately scoped to one
    crawl day (pipeline.py with_verdict); this job supplies the
    reference's DATASET-GLOBAL duplicate semantics
    (/root/reference/src/quality_checks.py:245-275,
    uc1_image_quality_checks.py:589-659) across all days at once:
    MinHash-LSH + exact-hash edges on the kept text, verified Jaccard
    ≥ threshold, then connected components → one cluster id (the min
    url) per near-dup group.

    Incremental (delta) mode — the 10^12-doc continuous-ingest path:
    when the existing ``dup_clusters`` covers a strict subset of the
    current day set (confirmed by its own done lineage row), only the
    NEW days' docs are paired — against themselves and against one
    representative (the canonical url) of every prior cluster — and
    the new edges are merged with the prior clusters' star edges
    (member → canonical) before a CC pass over the affected subgraph.
    Per ingested day that is O(new ∪ canonicals) LSH work instead of
    O(all history). This is an APPROXIMATION of a from-scratch run
    (reported as mode='delta-approx'): a new doc within threshold of
    a prior NON-canonical member but not of that cluster's canonical
    is missed, and two prior clusters merge only if a new doc (or
    their canonicals) links them — near-dup similarity is not
    transitive, so labels CAN diverge from a full rebuild. For
    near-clique LSH clusters (threshold ≥ 0.85) the canonical is
    usually an ε-cover of its cluster and the labels coincide (the
    warehouse tests exercise that benign case), but it is a
    heuristic, not a guarantee. Two knobs bound the drift:
    ``delta_member_sample=k`` also pairs new docs against up to k
    deterministically-sampled non-canonical members per prior
    cluster; ``full_rebuild_every=m`` forces a full rebuild after m
    consecutive delta ingests (chain depth is tracked in the tiny
    ``dedup_state`` table).

    Resume contract: the unit of work is the SNAPSHOT — the sorted set
    of warc_dates present in pages_filtered, fingerprinted into
    ``partition_key``. A lineage row (stage=global_dedup, that key,
    done) means dup_clusters is already current for exactly this day
    set; re-running is a no-op, and adding a day changes the key so
    the job re-runs (full or delta). The dup_clusters write is a full
    idempotent overwrite — any new day can merge old clusters and move
    canonicals, so per-partition carry-over would be wrong; the
    rewrite is one linear pass, the saved work is the quadratic part.

    Output table dup_clusters: (url, warc_date, cluster_id,
    is_canonical, cluster_size). ``clusters`` in the summary counts
    DISTINCT cluster ids (a canonical url kept on multiple days is
    one cluster, not one per day).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    catalog = ParquetCatalog(spark, warehouse)
    pages = catalog.read("pages_filtered")

    # day set = the snapshot identity; one tiny row per day (partition
    # listing on a real Iceberg table), not a data collect
    days = sorted(str(r[0]) for r in
                  pages.select("warc_date").distinct().collect())
    snap = hashlib.md5(",".join(days).encode()).hexdigest()[:16]

    done_keys = set()
    if catalog.exists("lineage"):
        done_keys = {r[0] for r in catalog.read("lineage")
                     .filter((F.col("stage") == GLOBAL_DEDUP_STAGE)
                             & (F.col("status") == "done"))
                     .select("partition_key").collect()}
    if snap in done_keys:
        return {"run_id": run_id, "snapshot": snap, "resumed": True}

    docs = pages.select(F.col("url").alias("id"), "text", "warc_date")
    all_ids = docs.select("id").distinct()

    # delta eligibility: dup_clusters holds a committed strict-subset
    # snapshot of the current day set, and the delta chain is shorter
    # than full_rebuild_every (drift bound)
    mode = "full"
    prior = None
    prior_depth = 0
    if incremental and catalog.exists("dup_clusters"):
        prior = catalog.read("dup_clusters")
        prior_days = sorted(str(r[0]) for r in
                            prior.select("warc_date").distinct().collect())
        prior_snap = hashlib.md5(
            ",".join(prior_days).encode()).hexdigest()[:16]
        # honor chain_depth only when the state row was written FOR the
        # snapshot dup_clusters currently represents (ADVICE r4): a
        # stale marker — dup_clusters wiped/rebuilt out-of-band, or
        # state left by an aborted sequence — would force or defer full
        # rebuilds at the wrong cadence. Mismatch ⇒ treat depth as 0.
        st = (catalog.read("dedup_state").first()
              if catalog.exists("dedup_state") else None)
        if st is not None and str(st.snapshot) == prior_snap:
            prior_depth = int(st.chain_depth)
        if (prior_days and set(prior_days) < set(days)
                and prior_snap in done_keys
                and (full_rebuild_every is None
                     or prior_depth + 1 < full_rebuild_every)):
            mode = "delta"
            new_days = sorted(set(days) - set(prior_days))

    lsh_docs = None
    if mode == "delta":
        canon_ids = (prior.filter(F.col("is_canonical"))
                     .select(F.col("url").alias("id")).distinct())
        pair_ids = canon_ids
        if delta_member_sample > 0:
            # bounded sample of NON-canonical members per prior cluster
            # (deterministic: best k by url hash) — narrows the
            # "similar to a member but not the canonical" miss window
            # at O(k · clusters) extra LSH work
            from pyspark.sql import Window
            wm = (Window.partitionBy("cluster_id")
                  .orderBy(F.xxhash64("url"), "url"))
            member_ids = (prior.filter(~F.col("is_canonical"))
                          .select("url", "cluster_id").distinct()
                          .withColumn("_rk", F.row_number().over(wm))
                          .filter(F.col("_rk") <= delta_member_sample)
                          .select(F.col("url").alias("id")))
            pair_ids = canon_ids.unionByName(member_ids).distinct()
        pool = (docs.filter(F.col("warc_date").cast("string")
                            .isin(new_days))
                .select("id", "text")
                .unionByName(docs.select("id", "text")
                             .join(pair_ids, "id", "left_semi"))
                .dropDuplicates(["id", "text"]))
        lsh_docs = pool.count()
        new_edges = _neardup_edges(pool, n, num_hashes, bands,
                                   threshold, max_bucket_size)
        prior_star = (prior.filter(F.col("url") != F.col("cluster_id"))
                      .select(F.col("cluster_id").alias("id_a"),
                              F.col("url").alias("id_b"))
                      .distinct())
        edges = new_edges.unionByName(prior_star).distinct()
    else:
        edges = _neardup_edges(docs, n, num_hashes, bands,
                               threshold, max_bucket_size)

    from .operators import dedup
    labels = dedup.cluster_labels(all_ids, edges)
    csize = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    clusters = (docs.select("id", "warc_date")
                .join(labels, "id")
                .join(csize, "label")
                .select(F.col("id").alias("url"), "warc_date",
                        F.col("label").alias("cluster_id"),
                        (F.col("id") == F.col("label"))
                        .alias("is_canonical"),
                        "cluster_size"))
    # full overwrite, THEN the lineage commit — same barrier as run().
    # dup_clusters is also the delta baseline for the NEXT ingest: in
    # delta mode the plan reads it, so stage through a temp dir —
    # overwriting the parquet dir we are reading would corrupt the
    # self-read. A full rebuild reads only pages_filtered and writes
    # in place.
    target = catalog.path("dup_clusters")
    if mode == "delta":
        import shutil
        # no leading underscore — Spark treats _-prefixed paths as hidden
        tmp = catalog.path(f"dup_clusters.stage.{run_id}")
        clusters.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(target)
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        clusters.write.mode("overwrite").parquet(target)

    # the closing counts in ONE aggregate; in full mode every distinct
    # url went through LSH, so lsh_docs is the distinct-url count
    tot = catalog.read("dup_clusters").agg(
        F.count("*").alias("rows"),
        F.count_distinct("cluster_id").alias("clusters"),
        F.count_if(~F.col("is_canonical")).alias("dup_rows"),
        F.count_distinct("url").alias("urls")).first()
    n_rows, n_clusters = int(tot.rows), int(tot.clusters)
    if lsh_docs is None:
        lsh_docs = int(tot.urls)
    catalog.append(_literal_row(spark, [
        ("run_id", "string", run_id),
        ("stage", "string", GLOBAL_DEDUP_STAGE),
        ("partition_key", "string", snap),
        ("status", "string", "done"),
        ("rows_in", "long", n_rows),
        ("rows_out", "long", n_clusters)])
        .withColumn("finished_ts", F.current_timestamp()), "lineage")
    # delta-chain depth marker for full_rebuild_every (one tiny row)
    depth = 0 if mode == "full" else prior_depth + 1
    _literal_row(spark, [
        ("snapshot", "string", snap),
        ("mode", "string", mode),
        ("chain_depth", "int", depth),
        ("run_id", "string", run_id)]) \
        .write.mode("overwrite").parquet(catalog.path("dedup_state"))
    return {"run_id": run_id, "snapshot": snap, "resumed": False,
            # 'delta-approx', not 'delta': labels can diverge from a
            # from-scratch rebuild (see docstring)
            "mode": "delta-approx" if mode == "delta" else mode,
            "delta_depth": depth, "lsh_docs": lsh_docs,
            "rows": n_rows, "clusters": n_clusters,
            "dup_rows": int(tot.dup_rows)}
