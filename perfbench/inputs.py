"""Seeded benchmark inputs and their expected outputs.

Each workload's input is generated from ``--seed`` alone, written under
``perfbench/.cache/<workload>-s<seed>-x<scale>/`` and reused by later
runs with the same seed and scale. The expected outputs are computed
here, from the inputs, by the repository's reference implementations
that do not use Spark:

* ``warehouse_ingest``: ``tests/oracle.label_pages`` (the pandas
  labeler that the quality filter is gated against) gives every page's
  keep flag, drop reasons and scrubbed text.
* ``operator_mix``: each query's DuckDB text from
  ``plans.entry_queries.ORACLES``, normalised as in
  ``tests/test_entry_oracle.py``.

Run as a script (``python3 perfbench/inputs.py WORKLOAD SEED SCALE``) so
that the benchmark process itself imports neither Spark nor the package
before it times its own set-up.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# pages per run of warehouse_ingest at scale 1; a viral same-day template
# is DUP_FRAC of them (the hot key of the verdict exchange)
N_PAGES = 3000
DUP_FRAC = 0.3
N_PAGE_FILES = 16
# the fixed registry-query list of operator_mix: about one query per
# operator module, none of which runs the page UDF.
# template_clusters_documents is left out: its DuckDB oracle is a
# recursive transitive closure that takes ~13 s at 500 documents, longer
# than a whole run can spend on checks. dedup_simhash_pairs,
# host_pagerank_documents (operators.webgraph) and
# frontier_pipeline_documents (operators.crawlplan) are left out to keep
# a run within its time budget: together they add ~14 s of cold job.
MIX_QUERIES = [
    "dedup_minhash_lsh",            # operators.dedup (MinHash LSH)
    "embedding_neardup_lsh",        # operators.dedup (embedding LSH)
    "hll_distinct_users",           # operators.sketches
    "asof_last_purchase_value",     # operators.asof
    "range_join_event_bands",       # operators.asof (range join)
    "q9_product_profit",            # plans.entry_queries (TPC-H join)
    "metrics_details_documents",    # metrics / operators.quality
    "dsir_select_documents",        # operators.sampling
    "token_stats_documents",        # operators.textstats
]
# table rows of operator_mix at scale 1 (about twice the sf0.01 shapes of
# the repository's test tables)
MIX_ROWS = {"documents": 1000, "embeddings": 1000, "events": 20000,
            "orders": 15000, "lineitem": 60000, "part": 2000,
            "supplier": 100}
MIX_TABLES = ["documents", "embeddings", "events", "lineitem", "nation",
              "orders", "part", "supplier"]

_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
          "stream", "value", "data", "small", "join", "filter", "big",
          "group", "hash", "customer", "sort", "order", "slow", "line",
          "part", "fast", "row", "the", "agg", "key", "query", "a",
          "scan", "batch"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]


def input_dir(workload: str, seed: int, scale: float) -> str:
    return os.path.join(CACHE, f"{workload}-s{seed}-x{scale:g}")


def _rows(n: int, scale: float, floor: int = 50) -> int:
    return max(floor, int(round(n * scale)))


# ---------------------------------------------------------------------------
# warehouse_ingest: pages + reference labels
# ---------------------------------------------------------------------------

def _label_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    sys.path.insert(0, ROOT)
    from tests.oracle import label_pages
    lab = label_pages(pdf)
    return pd.DataFrame({
        "url": lab["url"], "keep": lab["keep"],
        "drop_reasons": lab["drop_reasons"].map(",".join),
        "scrubbed_text": lab["scrubbed_text"],
        "lang_pred": lab["lang_pred"]})


def label_by_day(pdf: pd.DataFrame, workers: int) -> pd.DataFrame:
    """``label_pages`` over whole crawl days in ``workers`` processes.

    The labeler's only cross-row rule (exact duplicate) is scoped to one
    crawl day, so labelling disjoint sets of whole days and concatenating
    gives the same frame as one call over all pages."""
    day = pd.to_datetime(pdf["warc_ts"], utc=True).dt.date
    days = sorted(day.unique())
    groups = [pdf[day.isin(days[i::workers])] for i in range(workers)]
    groups = [g for g in groups if len(g)]
    if len(groups) <= 1:
        return _label_chunk(pdf)
    import multiprocessing as mp
    with mp.get_context("spawn").Pool(len(groups)) as pool:
        parts = pool.map(_label_chunk, groups)
    return pd.concat(parts, ignore_index=True)


def make_pages_input(out: str, seed: int, scale: float) -> None:
    sys.path.insert(0, ROOT)
    from standard_data_quality_framework_spark.fixtures import (
        write_pages_parquet)
    n = _rows(N_PAGES, scale)
    pages = write_pages_parquet(os.path.join(out, "pages"), n=n, seed=seed,
                                n_files=N_PAGE_FILES, dup_frac=DUP_FRAC)
    pdf = pq.read_table(pages).to_pandas()
    lab = label_by_day(pdf, workers=min(4, os.cpu_count() or 1))
    lab.to_parquet(os.path.join(out, "expected_pages.parquet"))
    meta = {"pages": n, "kept": int(lab["keep"].sum()),
            "input_bytes": _dir_bytes(os.path.join(out, "pages"))}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


# ---------------------------------------------------------------------------
# operator_mix: tables + DuckDB expectations
# ---------------------------------------------------------------------------

def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
            continue
        idx = rng.integers(0, len(_VOCAB), size=int(rng.integers(10, 100)))
        texts.append(" ".join(_VOCAB[i] for i in idx))
    langs = rng.choice(_LANGS, size=n, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = t0 + np.sort(rng.integers(0, span_us, size=n)).astype(
        "timedelta64[us]")
    value = np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n // 66), size=n),
                            pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, size=n).tolist(),
        "value": pa.array(value, pa.float64()),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def _dates(rng: np.random.Generator, n: int, lo: str, days: int):
    d = np.datetime64(lo, "us") + (rng.integers(0, days, size=n)
                                   * 86400 * 10**6).astype("timedelta64[us]")
    return pa.array(d, pa.timestamp("us"))


def _tpch(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_part = _rows(MIX_ROWS["part"], scale)
    n_supp = _rows(MIX_ROWS["supplier"], scale, floor=10)
    n_ord = _rows(MIX_ROWS["orders"], scale)
    n_li = _rows(MIX_ROWS["lineitem"], scale)
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    part = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            [900.0 + (i % 1000) / 10 for i in range(n_part)], pa.float64()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2),
                              pa.float64()),
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(10, n_ord // 10), n_ord),
                              pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000, 500000, n_ord), 2), pa.float64()),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_li), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0,
                               pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", 2500),
    })
    return {"nation": nation, "part": part, "supplier": supplier,
            "orders": orders, "lineitem": lineitem}


def normalise(df: pd.DataFrame) -> list[list]:
    """Order-insensitive row list; the normalisation of
    ``tests/test_entry_oracle._norm`` (floats to 9 places, bools, nulls,
    everything else by ``str``) in JSON-compatible form, with NaN read
    as null on both sides."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(["n"])
            elif isinstance(v, float):
                row.append(["f", round(v, 9)])
            elif isinstance(v, bool):
                row.append(["b", bool(v)])
            else:
                row.append(["o", str(v)])
        rows.append(row)
    return sorted(rows, key=json.dumps)


def make_mix_input(out: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng(seed)
    sf = os.path.join(out, "sf")
    os.makedirs(sf)
    tables = {"documents": _documents(rng, _rows(MIX_ROWS["documents"],
                                                 scale)),
              "embeddings": _embeddings(rng, _rows(MIX_ROWS["embeddings"],
                                                   scale)),
              "events": _events(rng, _rows(MIX_ROWS["events"], scale))}
    tables.update(_tpch(rng, scale))
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf, f"{name}.parquet"))

    import duckdb
    sys.path.insert(0, ROOT)
    from standard_data_quality_framework_spark.plans.entry_queries import (
        ORACLES)
    con = duckdb.connect()
    for t in MIX_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf, t)}.parquet'")
    expected = {}
    for q in MIX_QUERIES:
        odf = con.execute(ORACLES[q]).fetchdf()
        expected[q] = {"columns": sorted(odf.columns),
                       "rows": normalise(odf)}
    con.close()
    with open(os.path.join(out, "expected_mix.json"), "w") as f:
        json.dump(expected, f)
    meta = {"rows": {k: v.num_rows for k, v in tables.items()},
            "input_rows": sum(v.num_rows for v in tables.values()),
            "input_bytes": _dir_bytes(sf)}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


# ---------------------------------------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


MAKERS = {"warehouse_ingest": make_pages_input,
          "operator_mix": make_mix_input}


def ensure(workload: str, seed: int, scale: float) -> str:
    """Build the input directory unless a complete one is cached."""
    out = input_dir(workload, seed, scale)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    MAKERS[workload](tmp, seed, scale)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    ensure(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
