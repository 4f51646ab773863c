"""The two workloads: timed operations, traced extras and output checks.

A workload is a closed loop with one client: one Spark action at a
time, each operation timed by the wall clock around one call into the
package's public API. Output checks run after the timed operations and
read the outputs with pyarrow/pandas, never through Spark.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inputs import MIX_QUERIES, normalise
from tracing import tree_cpu_s

KERNEL_SAMPLE = 200


class OpLog:
    """Operations attempted and failed; an operation fails when it raises
    or when its output check finds a problem."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{name}: {'; '.join(problems[:3])}")

    def run(self, name: str, fn, checked: bool = True):
        """``(seconds, result, ok)``. A raising ``fn`` is recorded as a
        failed operation; an operation without an output check
        (``checked=False``) is recorded when it returns."""
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:  # the benchmark keeps going and reports it
            traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            self.record(name, ["raised"])
            return dt, None, False
        dt = time.perf_counter() - t0
        if not checked:
            self.record(name, [])
        return dt, res, True


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_table(path: str) -> pd.DataFrame:
    df = pq.read_table(path).to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            # Spark's session time zone is UTC; toPandas yields naive UTC
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def _files(path: str) -> tuple[int, int]:
    """(bytes, count) of the parquet data files under ``path``."""
    n = size = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(r, f))
    return size, n


# ---------------------------------------------------------------------------
# checks (pure functions of outputs and expectations)
# ---------------------------------------------------------------------------

def f1(expected: set, got: set) -> float:
    if not expected and not got:
        return 1.0
    tp = len(expected & got)
    return 2 * tp / (len(expected) + len(got))


def check_kept(kept: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """``kept`` (url, text, lang) — the pages a run kept — against the
    reference labels: keep F1 ≥ 0.99, and byte-identical scrubbed text
    and the predicted language on every url both kept."""
    ref = expected[expected["keep"]].set_index("url")
    got = kept.set_index("url")
    problems = []
    if got.index.has_duplicates:
        problems.append("duplicate urls in kept rows")
    score = f1(set(ref.index), set(got.index))
    if score < 0.99:
        problems.append(f"keep F1 {score:.4f} < 0.99")
    both = ref.index.intersection(got.index)
    bad_text = (ref.loc[both, "scrubbed_text"]
                != got.loc[both, "text"]).sum()
    if bad_text:
        problems.append(f"{bad_text} kept pages differ in scrubbed text")
    bad_lang = (ref.loc[both, "lang_pred"] != got.loc[both, "lang"]).sum()
    if bad_lang:
        problems.append(f"{bad_lang} kept pages differ in language")
    return problems


def check_verdicts(verdicts: pd.DataFrame,
                   expected: pd.DataFrame) -> list[str]:
    """Per-url keep, drop reasons and scrubbed text of the forced
    verdict frame against the reference labels."""
    v = verdicts.set_index("url")
    ref = expected.set_index("url")
    problems = []
    if set(v.index) != set(ref.index):
        return ["verdict urls differ from the input urls"]
    v = v.loc[ref.index]
    score = f1(set(ref.index[ref["keep"]]), set(v.index[v["keep"]]))
    if score < 0.99:
        problems.append(f"keep F1 {score:.4f} < 0.99")
    reasons = v["drop_reasons"].map(lambda r: ",".join(r))
    bad = (reasons != ref["drop_reasons"]).sum()
    if bad / max(1, len(ref)) > 0.01:
        problems.append(f"{bad} pages differ in drop reasons")
    bad = (v["scrubbed_text"] != ref["scrubbed_text"]).sum()
    if bad:
        problems.append(f"{bad} pages differ in scrubbed text")
    return problems


def check_clusters(clusters: pd.DataFrame, kept: pd.DataFrame,
                   summary: dict | None) -> list[str]:
    """Global dedup output: one row per kept page, the cluster id is its
    cluster's least url and the size its member count, and pages with
    identical text share a cluster."""
    problems = []
    if sorted(clusters["url"]) != sorted(kept["url"]):
        problems.append("dup_clusters urls differ from pages_filtered")
        return problems
    g = clusters.groupby("cluster_id")["url"]
    if (g.transform("min") != clusters["cluster_id"]).any():
        problems.append("a cluster id is not its least member url")
    if (g.transform("size") != clusters["cluster_size"]).any():
        problems.append("cluster_size differs from the member count")
    if (clusters["is_canonical"]
            != (clusters["url"] == clusters["cluster_id"])).any():
        problems.append("is_canonical differs from url == cluster_id")
    m = kept.merge(clusters[["url", "cluster_id"]], on="url")
    if (m.groupby("text")["cluster_id"].nunique() > 1).any():
        problems.append("identical texts in different clusters")
    if summary is not None and summary.get("rows") != len(clusters):
        problems.append("summary rows differ from dup_clusters rows")
    return problems


def check_query(got: pd.DataFrame, expected: dict) -> list[str]:
    if sorted(got.columns) != expected["columns"]:
        return [f"columns {sorted(got.columns)} != {expected['columns']}"]
    rows = normalise(got)
    if len(rows) != len(expected["rows"]):
        return [f"{len(rows)} rows != {len(expected['rows'])}"]
    bad = sum(a != b for a, b in zip(rows, expected["rows"]))
    return [f"{bad} rows differ"] if bad else []


# ---------------------------------------------------------------------------
# traced-only wrappers (installed from outside, on module attributes)
# ---------------------------------------------------------------------------

def install_wrappers(tracer, persisted: list) -> None:
    from standard_data_quality_framework_spark import runner
    from standard_data_quality_framework_spark.operators import dedup
    from standard_data_quality_framework_spark.sources.catalog import (
        ParquetCatalog)

    def spanned(name_of, orig):
        def wrapper(*a, **kw):
            with tracer.span(name_of(*a, **kw)):
                return orig(*a, **kw)
        return wrapper

    ParquetCatalog.overwrite_partitions = spanned(
        lambda self, df, table, *a, **k: f"catalog.write.{table}",
        ParquetCatalog.overwrite_partitions)
    ParquetCatalog.append = spanned(
        lambda self, df, table, *a, **k: f"catalog.write.{table}",
        ParquetCatalog.append)
    ParquetCatalog.read = spanned(
        lambda self, table: f"catalog.read.{table}", ParquetCatalog.read)
    dedup.connected_components = spanned(
        lambda *a, **k: "dedup.cc", dedup.connected_components)

    # lazy results are forced inside the span (a count), so that the
    # span holds their compute; the persisted LSH pairs are then reused
    # by the caller instead of recomputed
    orig_pending = runner.pending_dates

    def pending_dates(*a, **kw):
        res = orig_pending(*a, **kw)
        with tracer.span("runner.pending_dates"):
            res.count()
        return res
    runner.pending_dates = pending_dates

    orig_lsh = dedup.minhash_lsh_pairs

    def minhash_lsh_pairs(*a, **kw):
        res = orig_lsh(*a, **kw).persist()
        persisted.append(res)
        with tracer.span("dedup.lsh"):
            res.count()
        return res
    dedup.minhash_lsh_pairs = minhash_lsh_pairs


# ---------------------------------------------------------------------------
# kernel microbenchmark (driver, single thread)
# ---------------------------------------------------------------------------

def kernel_us_per_doc(pages: pd.DataFrame, seed: int) -> dict[str, float]:
    """Each Python kernel component over a fixed seeded sample of pages,
    one doc at a time, as the UDF calls them; best of three passes."""
    from standard_data_quality_framework_spark.functions.textpure import (
        extract_text, repetition_signals, scrub)
    from standard_data_quality_framework_spark.models.langid import (
        train_langid)
    from standard_data_quality_framework_spark.models.perplexity import (
        train_perplexity)
    lid, lm = train_langid(), train_perplexity()
    idx = np.random.default_rng(seed).choice(
        len(pages), size=min(KERNEL_SAMPLE, len(pages)), replace=False)
    sample = pages.iloc[np.sort(idx)]
    htmls = list(sample["html"])
    texts = [extract_text(h) if h is not None else (t or "")
             for h, t in zip(htmls, sample["text"])]
    parts = {
        "extract": lambda: [extract_text(h) for h in htmls if h is not None],
        "langid": lambda: [lid.predict_one(t) for t in texts],
        "perplexity": lambda: [lm.perplexity(t) for t in texts],
        "repetition": lambda: [repetition_signals(t) for t in texts],
        "scrub": lambda: [scrub(t) for t in texts],
    }
    out = {}
    for name, fn in parts.items():
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        out[f"kernel.{name}_us_per_doc"] = best / len(texts) * 1e6
    return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def warehouse_ingest(spark, udfs, inp: str, work: str, tracer, traced: bool,
                     log: OpLog, seed: int):
    """Ingest into an empty warehouse, resume, then global dedup; traced
    runs also force the signals and verdict frames and time the kernel."""
    from standard_data_quality_framework_spark import runner
    from standard_data_quality_framework_spark.pipeline import (
        run_quality_filter)

    with open(os.path.join(inp, "meta.json")) as f:
        meta = json.load(f)
    expected = pd.read_parquet(os.path.join(inp, "expected_pages.parquet"))
    pages_path = os.path.join(inp, "pages")
    wh = os.path.join(work, "warehouse")
    persisted: list = []
    if traced:
        install_wrappers(tracer, persisted)
    pages = spark.read.parquet(pages_path)

    cpu0 = tree_cpu_s(os.getpid())
    with tracer.span("job"):
        with tracer.span("ingest"):
            t_ingest, summary, _ = log.run(
                "ingest", lambda: runner.run(spark, pages, wh))
        written = _files(wh)
        with tracer.span("resume"):
            t_resume, resumed, _ = log.run(
                "resume", lambda: runner.run(spark, pages, wh))
        with tracer.span("global_dedup"):
            t_dedup, dd, _ = log.run(
                "global_dedup", lambda: runner.run_global_dedup(spark, wh))
    job_cpu = tree_cpu_s(os.getpid()) - cpu0
    for df in persisted:
        df.unpersist()
    job_s = t_ingest + t_resume + t_dedup

    layer: dict[str, float] = {
        "job.cpu_s": job_cpu,
        "ingest.docs_per_s": meta["pages"] / t_ingest,
        "ingest.resume_s": t_resume,
        "ingest.global_dedup_s": t_dedup,
    }
    verdicts = None
    if traced:
        layer["catalog.bytes_written"] = written[0]
        layer["catalog.files_written"] = written[1]
        layer["catalog.bytes_written_per_input_byte"] = (
            written[0] / meta["input_bytes"])
        out = run_quality_filter(spark, pages, udfs=udfs)
        with tracer.span("filter"):
            with tracer.span("pipeline.signals"):
                log.run("signals", lambda: _noop(out.signals),
                        checked=False)
            with tracer.span("pipeline.verdicts"):
                t_v, _, ok = log.run("verdicts",
                                     lambda: _noop(out.verdicts))
        layer["pipeline.filter_docs_per_s"] = meta["pages"] / t_v
        if ok:  # untimed: the per-url frame for the verdict check
            verdicts = out.verdicts.select(
                "url", "keep", "drop_reasons", "scrubbed_text").toPandas()
        layer.update(kernel_us_per_doc(
            pq.read_table(pages_path).to_pandas(), seed))

    def checks() -> None:
        kept = None
        if summary is not None:
            kept = _read_table(os.path.join(wh, "pages_filtered"))
            problems = check_kept(kept, expected)
            lin = _read_table(os.path.join(wh, "lineage"))
            lin = lin[lin["stage"] == runner.STAGE]
            if int(lin["rows_in"].sum()) != meta["pages"]:
                problems.append("lineage rows_in differs from input pages")
            if int(lin["rows_out"].sum()) != len(kept):
                problems.append("lineage rows_out differs from kept rows")
            log.record("ingest", problems)
        if resumed is not None:
            log.record("resume", [] if resumed.get("dates_processed") == 0
                       else [f"resume processed "
                             f"{resumed.get('dates_processed')} dates"])
        if dd is not None:
            log.record("global_dedup", ["no ingested pages to check"]
                       if kept is None else check_clusters(
                           _read_table(os.path.join(wh, "dup_clusters")),
                           kept, dd))
        if verdicts is not None:
            log.record("verdicts", check_verdicts(verdicts, expected))
    return job_s, layer, checks


def operator_mix(spark, udfs, inp: str, work: str, tracer, traced: bool,
                 log: OpLog, seed: int):
    """The fixed registry-query list, each query's result written to a
    parquet file (the check reads it back outside the timed interval)."""
    from standard_data_quality_framework_spark.plans.entry_queries import (
        QUERIES)

    sf = os.path.join(inp, "sf")
    out = os.path.join(work, "mix")
    times, ran = {}, []
    cpu0 = tree_cpu_s(os.getpid())
    with tracer.span("job"):
        for q in MIX_QUERIES:
            dest = os.path.join(out, q)
            with tracer.span(f"query.{q}"):
                times[q], _, ok = log.run(
                    q, lambda q=q, dest=dest: QUERIES[q](
                        spark, sf).write.mode("overwrite").parquet(dest))
            if ok:
                ran.append(q)
    layer = {f"query_s.{q}": t for q, t in times.items()}
    layer["job.cpu_s"] = tree_cpu_s(os.getpid()) - cpu0

    def checks() -> None:
        with open(os.path.join(inp, "expected_mix.json")) as f:
            expected = json.load(f)
        for q in ran:
            log.record(q, check_query(_read_table(os.path.join(out, q)),
                                      expected[q]))
    return sum(times.values()), layer, checks


WORKLOADS = {"warehouse_ingest": warehouse_ingest,
             "operator_mix": operator_mix}
