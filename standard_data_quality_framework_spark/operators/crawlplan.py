"""Crawl-planning operators — robots.txt rules, per-host politeness
scheduling, cross-snapshot revisit policy.

The scheduling side of a web-scale corpus pipeline: which URLs MAY be
fetched (robots.txt), WHEN each host's backlog gets fetched without
hammering the origin (politeness cycles), and how often a known URL is
worth re-fetching (change-rate-driven revisit intervals).  Recasts the
reference's rule-membership checks (``/root/reference/src/
quality_checks.py`` validity-range / set-membership style) onto the
crawl-frontier axis, the same way ``webgraph.domain_blocklist_mark``
recasts them for blocklists.

Scale shapes, per operator:

* ``parse_robots`` — per-host windows bounded by the robots.txt LINE
  COUNT (a robots file is one small fetch per host; the group-tracking
  window partition can never exceed it).
* ``robots_mark`` — the rules table collapses to one array per host,
  broadcast; every page probes it with ONE BroadcastHashJoin and a
  row-local longest-match fold.  Zero data-side shuffle, same shape as
  the blocklist pass.
* ``politeness_schedule`` — exact per-host sequencing WITHOUT a
  per-host global sort: a segmented prefix scan over contiguous
  hash-bucket slices (rank within a slice, then add the prefix sum of
  the earlier slices' counts), so a mega-host's window partitions are
  ~1/``n_slices`` of the host, a knob, not the data.
* ``revisit_policy`` — per-URL windows bounded by the number of crawl
  SNAPSHOTS a URL appears in (calendar-bounded), then one map-side-
  combined aggregation on the uniform url key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _BUCKETS, _bucket


def path_of(url) -> F.Column:
    """Path component of an absolute URL ('' → '/'), the robots
    matching subject (query strings are not matched — plain-prefix
    rules only)."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    p = F.regexp_extract(
        u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^#?]*)?", 1)
    return F.when(F.length(p) > 0, p).otherwise(F.lit("/"))


def parse_robots(df: DataFrame, host_col: str,
                 robots_col: str) -> DataFrame:
    """(host, agent, is_allow, prefix) — parsed Allow/Disallow rules
    from raw robots.txt text, one row per (user-agent, rule) pair.

    Grammar subset (the part every real crawler honors): ``#`` comments
    stripped; a run of consecutive ``User-agent:`` lines opens a
    group; following ``Allow:`` / ``Disallow:`` lines bind to EVERY
    agent of that group; empty-value rules are dropped (per the spec,
    ``Disallow:`` with no value permits everything); rules before any
    ``User-agent:`` line are invalid and ignored.  ``*`` / ``$``
    wildcards are NOT expanded — prefixes are matched verbatim by
    ``robots_mark`` (wildcard rules are rare and a conservative
    crawler may treat them as literal).

    Scale shape: split+posexplode is narrow; the group-tracking window
    partitions on host and is bounded by the robots.txt line count
    (one small file per host, never corpus-scale); the agent×rule
    bind is an equi-join of two sub-frames of that same small parse.
    """
    lines = (df.select(F.col(host_col).alias("host"),
                       F.posexplode(F.split(F.col(robots_col), "\n"))
                       .alias("pos", "line"))
             .select("host", "pos",
                     F.trim(F.regexp_replace(
                         F.regexp_replace("line", "\r", ""),
                         "#.*", "")).alias("line"))
             .where(F.length("line") > 0))
    parsed = lines.select(
        "host", "pos",
        F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1))
        .alias("directive"),
        F.trim(F.regexp_extract("line", r":\s*(.*)$", 1)).alias("value"))
    w = (Window.partitionBy("host").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, 0))
    is_ua = F.col("directive") == "user-agent"
    prev_ua = F.lag("directive").over(
        Window.partitionBy("host").orderBy("pos")) == "user-agent"
    grouped = parsed.select(
        "host", "directive", "value",
        F.sum(F.when(is_ua & ~F.coalesce(prev_ua, F.lit(False)), 1)
              .otherwise(0)).over(w).alias("grp"))
    agents = (grouped.where(F.col("directive") == "user-agent")
              .select("host", "grp", F.lower("value").alias("agent")))
    rules = (grouped.where(F.col("directive").isin("allow", "disallow")
                           & (F.length("value") > 0))
             .select("host", "grp",
                     (F.col("directive") == "allow").alias("is_allow"),
                     F.col("value").alias("prefix")))
    return (agents.join(rules, ["host", "grp"])
            .select("host", "agent", "is_allow", "prefix"))


def robots_mark(pages: DataFrame, id_col: str, url_col: str,
                rules: DataFrame, keep_cols: tuple[str, ...] = (),
                broadcast_rules: bool = True) -> DataFrame:
    """(id, host, path, matched_rule, allowed [, *keep_cols]) — mark
    every page with
    its robots verdict under longest-match-wins semantics (Google's
    published precedence: the most specific — longest — matching
    prefix decides; at equal length ``Allow`` beats ``Disallow``; no
    matching rule means allowed).

    ``rules`` is a ``parse_robots``-shaped frame already filtered to
    the crawler's agent — (host, is_allow, prefix); filter to
    ``agent = '*'`` plus your bot name, most-specific-agent first, as
    real crawlers do.  Ties at equal length and equal polarity break
    on the lexically smallest prefix so both engines report the same
    ``matched_rule``.

    Scale shape: the rules frame collapses to ONE array per host
    (robots files are tiny, so the array is too) and ships as a
    broadcast; every page then does a single BroadcastHashJoin probe
    plus a row-local ``aggregate`` fold over its host's rules — zero
    data-side Exchange, embarrassingly parallel over scan splits.
    The broadcast default fits curated rule sets (UT1-size lists, a
    crawl partition's hosts); for a FULL-WEB robots corpus (10^8
    hosts — tens of GB, not broadcastable) pass
    ``broadcast_rules=False`` and the probe plans as a plain equi-join
    on the uniform host key — one bounded shuffle per side,
    AQE-skew-splittable, identical output (equality pinned by
    pytest).  The
    fold is one flat pass (no nested higher-order expressions — see
    the CodegenFallback no-CSE trap documented in
    ``textstats.winnowing_fingerprints``).
    """
    per_host = (rules.groupBy("host")
                .agg(F.collect_list(F.struct("is_allow", "prefix"))
                     .alias("_rules")))
    if broadcast_rules:
        per_host = F.broadcast(per_host)
    p = pages.select(F.col(id_col).alias("id"),
                     F.col(url_col).alias("_url"),
                     *[F.col(c) for c in keep_cols])
    from ..functions.urlnorm import host_of
    p = p.select("id", host_of("_url").alias("host"),
                 path_of("_url").alias("path"),
                 *[F.col(c) for c in keep_cols])
    zero = F.struct(F.lit(-1).alias("len"),
                    F.lit(True).alias("allow"),
                    F.lit(None).cast("string").alias("rule"))

    def _merge(acc, r):
        rlen = F.length(r["prefix"])
        better = (
            (rlen > acc["len"])
            | ((rlen == acc["len"]) & r["is_allow"] & ~acc["allow"])
            | ((rlen == acc["len"]) & (r["is_allow"] == acc["allow"])
               & (r["prefix"] < acc["rule"])))
        take = F.col("path").startswith(r["prefix"]) & better
        return F.when(take, F.struct(rlen.alias("len"),
                                     r["is_allow"].alias("allow"),
                                     r["prefix"].alias("rule"))) \
                .otherwise(acc)

    joined = p.join(per_host, "host", "left")
    best = F.aggregate(
        F.coalesce(F.col("_rules"),
                   F.array().cast("array<struct<is_allow:boolean,"
                                  "prefix:string>>")),
        zero, _merge)
    return joined.select(
        "id", "host", "path",
        best["rule"].alias("matched_rule"),
        best["allow"].alias("allowed"),
        *[F.col(c) for c in keep_cols])


def politeness_schedule(df: DataFrame, host_col: str, url_col: str,
                        per_cycle: int, n_slices: int = 32,
                        salt: str = "crawl") -> DataFrame:
    """Assign every frontier URL a deterministic per-host fetch rank
    and a politeness ``cycle`` (crawl round) holding at most
    ``per_cycle`` URLs of that host — the frontier-scheduling step
    that keeps a 10^8-URL mega-host from being hammered in one round
    while small hosts finish in their first.

    Ordering within a host is by (salted url-hash bucket, url): a pure
    function of the URL set, so the schedule is reproducible across
    runs, partitionings and engines, and statistically shuffles each
    host's URLs across its path space (no accidental
    deep-directory-first crawling).

    Scale shape — exact ranks WITHOUT a per-host global sort: the
    bucket space splits into ``n_slices`` CONTIGUOUS ranges, so slice
    order is a prefix of the total order (a segmented prefix scan):
    (1) row_number within (host, slice)
    — partitions are ~host/``n_slices``, a knob, not the data; (2)
    per-(host, slice) counts — one partial-agg'd frame of
    |hosts|·|slices| rows — prefix-summed by a window whose
    partitions hold ≤ ``n_slices`` rows; (3) rank = slice offset +
    within-slice rank.  Returns the input plus (rank_in_host, cycle).
    """
    width = -(-_BUCKETS // n_slices)  # ceil
    b = _bucket(F.col(url_col), salt)
    df = (df.withColumn("_b", b)
          .withColumn("_slice", F.floor(F.col("_b") / width)))
    w_in = Window.partitionBy(host_col, "_slice").orderBy("_b", url_col)
    ranked = df.withColumn("_rk", F.row_number().over(w_in))
    counts = df.groupBy(host_col, "_slice").agg(F.count("*").alias("_n"))
    w_off = (Window.partitionBy(host_col).orderBy("_slice")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = counts.select(host_col, "_slice",
                         F.coalesce(F.sum("_n").over(w_off), F.lit(0))
                         .alias("_off"))
    out = (ranked.join(offs, [host_col, "_slice"])
           .withColumn("rank_in_host", F.col("_off") + F.col("_rk"))
           .withColumn("cycle",
                       F.floor((F.col("rank_in_host") - 1)
                               / F.lit(per_cycle)).cast("long")))
    return out.drop("_b", "_slice", "_rk", "_off")


def revisit_policy(history: DataFrame, url_col: str, ts_col: str,
                   hash_col: str, id_col: str,
                   min_days: float = 1.0,
                   max_days: float = 60.0) -> DataFrame:
    """(url, n_fetches, n_changes, span_days, interval_days,
    next_fetch_epoch) — change-rate-driven revisit intervals from a
    multi-snapshot fetch history, the freshness policy of an
    incremental crawler: pages that changed on every visit are
    re-fetched at ``min_days``, pages that never changed decay to
    ``max_days``, in between the interval is the OBSERVED mean days
    between content changes (span_days / n_changes), clamped.

    A fetch counts as a change when its ``hash_col`` differs from the
    previous fetch of the same URL (first fetch is not a change);
    fetch order is (ts, id) so equal-timestamp fetches rank
    deterministically in both engines.

    Scale shape: the change-detection window partitions per URL and is
    bounded by the snapshot count a URL appears in (calendar-bounded,
    like ``runner.run_global_dedup``'s day loop), then one
    map-side-combined groupBy on the uniform url key.  Doubles are
    rounded to 6 decimals; the next-fetch time is integer epoch
    seconds — both engine-stable.
    """
    w = Window.partitionBy(url_col).orderBy(ts_col, id_col)
    prev = F.lag(F.col(hash_col)).over(w)
    h = history.withColumn(
        "_chg",
        (prev.isNotNull() & (prev != F.col(hash_col))).cast("int"))
    # unix_timestamp truncates to whole seconds and accepts both
    # TIMESTAMP and TIMESTAMP_NTZ (a plain cast-to-long rejects NTZ);
    # session TZ is pinned UTC, oracle mirror: floor(epoch(ts))
    epoch = F.unix_timestamp(F.col(ts_col))
    agg = (h.groupBy(F.col(url_col).alias("url"))
           .agg(F.count("*").alias("n_fetches"),
                F.sum("_chg").alias("n_changes"),
                F.min(epoch).alias("_e0"),
                F.max(epoch).alias("_e1")))
    span = (F.col("_e1") - F.col("_e0")) / F.lit(86400.0)
    interval = F.when(F.col("n_changes") == 0, F.lit(float(max_days))) \
        .otherwise(F.least(F.lit(float(max_days)),
                           F.greatest(F.lit(float(min_days)),
                                      span / F.col("n_changes"))))
    # floor(x·1e6 + 0.5), not round(x, 6): span/n_changes is a ratio
    # of integers that CAN land exactly on the half grid (e.g.
    # 397197/86400 = 4.5971875) where Spark's BigDecimal HALF_UP and
    # DuckDB's double round disagree; floor of x·1e6+0.5 is exact in
    # both engines
    snap6 = (lambda c: F.floor(c * 1_000_000 + F.lit(0.5))
             / F.lit(1_000_000.0))
    return agg.select(
        "url", "n_fetches", "n_changes",
        snap6(span).alias("span_days"),
        snap6(interval).alias("interval_days"),
        (F.col("_e1")
         + F.floor(interval * 86400 + F.lit(0.5)).cast("long"))
        .alias("next_fetch_epoch"))


def recrawl_queue(policy: DataFrame, seen_sketch: DataFrame,
                  now_epoch: int, n_bits: int = 16384, k: int = 4,
                  salt: str = "bloom",
                  broadcast_sketch: bool = True) -> DataFrame:
    """(url, n_changes, next_fetch_epoch, overdue_secs) — the recrawl
    work queue: URLs from a ``revisit_policy`` frame whose interval
    has elapsed at ``now_epoch`` AND that are not already in the
    enqueued-set Bloom sketch (``sketches.bloom_sketch`` over the
    URLs dispatched this cycle).  The two operators compose into the
    incremental crawler's dispatch step: freshness decides WHO is
    due, the rotating Bloom filter keeps a URL from being enqueued
    twice while a previous fetch is still in flight.  Bloom false
    positives DELAY a URL one rotation (safe); false negatives are
    impossible, so nothing is enqueued twice.

    Scale shape: the due filter is narrow; the membership probe is
    ``bloom_maybe_contains``'s broadcast-join (or, for a
    terabyte-class sketch, ``broadcast_sketch=False`` word-keyed
    join); the verdict joins back on the uniform url key — every
    shuffle key here is either the bounded filter word space or the
    uniform url, no skew at any corpus size.
    """
    from .sketches import bloom_maybe_contains
    now = F.lit(int(now_epoch)).cast("long")
    due = policy.where(F.col("next_fetch_epoch") <= now)
    probe = bloom_maybe_contains(
        due.select("url"), "url", seen_sketch, n_bits=n_bits, k=k,
        salt=salt, broadcast_sketch=broadcast_sketch)
    return (due.join(probe.withColumnRenamed("key", "url"), "url")
            .where(~F.col("maybe_in"))
            .select("url", "n_changes", "next_fetch_epoch",
                    (now - F.col("next_fetch_epoch"))
                    .alias("overdue_secs")))
