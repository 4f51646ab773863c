"""Vectorized pandas/Arrow UDFs — the ONLY Python that runs on executors.

The pipeline's hot path has exactly ONE Python stage,
``process_page(payload, is_html) -> struct``: extract + langid +
perplexity + repetition + scrub in one Arrow round trip per batch
(pipeline.run_quality_filter; everything else is native Catalyst
expressions). The staged trio below computes the same values one
step at a time and backs the per-stage pipeline helpers and their
parity tests, not the hot path:

  * ``extract_text(html: binary) -> string``   (byte-identical contract)
  * ``model_signals(text) -> struct``          (langid + perplexity +
    repetition signals)
  * ``scrub(text) -> struct<scrubbed, edits>`` (byte-identical contract)

Model artifacts (langid log-prob matrix ~1 MB, bigram LM ~1 MB) are
trained and broadcast once per SparkContext — ``make_udfs`` memoizes
its result on the live context — and lazily referenced inside the UDF
closure: the classic broadcast-variable pattern, no per-task
re-pickling.
"""

from __future__ import annotations

import weakref

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..models.langid import train_langid
from ..models.perplexity import train_perplexity
from .textpure import extract_text, repetition_signals, scrub

_MODEL_SIGNALS_SCHEMA = T.StructType([
    T.StructField("lang_pred", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("perplexity", T.DoubleType()),
    T.StructField("dup_line_frac", T.DoubleType()),
    T.StructField("top2gram_frac", T.DoubleType()),
    T.StructField("dup5gram_frac", T.DoubleType()),
])

_SCRUB_SCHEMA = T.StructType([
    T.StructField("scrubbed_text", T.StringType()),
    T.StructField("scrub_edits", T.IntegerType()),
])

_PROCESS_SCHEMA = T.StructType([
    T.StructField("etext", T.StringType()),
    T.StructField("lang_pred", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("perplexity", T.DoubleType()),
    T.StructField("dup_line_frac", T.DoubleType()),
    T.StructField("top2gram_frac", T.DoubleType()),
    T.StructField("dup5gram_frac", T.DoubleType()),
    T.StructField("scrubbed_text", T.StringType()),
    T.StructField("scrub_edits", T.IntegerType()),
])


# UDF set per SparkContext: a stopped context's broadcasts are dead,
# and a new context is a new key (weak keys: a dropped context takes
# its entry with it)
_UDFS_BY_CONTEXT: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def make_udfs(spark: SparkSession) -> dict:
    """The UDF set with the models broadcast to executors — built once
    per SparkContext: later calls on the same context return the same
    UDFs over the same broadcasts, instead of retraining both models
    and broadcasting them again."""
    sc = spark.sparkContext
    if sc in _UDFS_BY_CONTEXT:
        return dict(_UDFS_BY_CONTEXT[sc])
    b_lid = sc.broadcast(train_langid())
    b_ppl = sc.broadcast(train_perplexity())

    @F.pandas_udf(T.StringType())
    def extract_text_udf(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract_text(b) if b is not None else "")

    @F.pandas_udf(_MODEL_SIGNALS_SCHEMA)
    def model_signals_udf(text: pd.Series) -> pd.DataFrame:
        lid = b_lid.value
        lm = b_ppl.value
        langs, confs, ppls, d1, d2, d3 = [], [], [], [], [], []
        for t in text:
            t = t if isinstance(t, str) else ""
            lang, conf = lid.predict_one(t)
            langs.append(lang)
            confs.append(conf)
            ppls.append(lm.perplexity(t))
            a, b, c = repetition_signals(t)
            d1.append(a)
            d2.append(b)
            d3.append(c)
        return pd.DataFrame({
            "lang_pred": langs, "lang_conf": confs, "perplexity": ppls,
            "dup_line_frac": d1, "top2gram_frac": d2, "dup5gram_frac": d3,
        })

    @F.pandas_udf(_SCRUB_SCHEMA)
    def scrub_udf(text: pd.Series) -> pd.DataFrame:
        pairs = [scrub(t if isinstance(t, str) else "") for t in text]
        return pd.DataFrame({
            "scrubbed_text": [p[0] for p in pairs],
            "scrub_edits": pd.array([p[1] for p in pairs], dtype="int32"),
        })

    @F.pandas_udf(_PROCESS_SCHEMA)
    def process_page_udf(payload: pd.Series,
                         is_html: pd.Series) -> pd.DataFrame:
        """ALL Python work in ONE Arrow round trip.

        Chaining separate extract/model/scrub UDFs creates one Python
        eval node — and one concurrent python worker — per UDF per
        task: measured 64-96 workers at local[32], 88% kernel time in
        socket/fork churn, and 2.4× WORSE throughput than local[8].
        A single eval node keeps workers == tasks, and the caller
        coalesces (html, text) into ONE binary payload column so each
        doc crosses the JVM↔Python boundary exactly once.

        Return-volume contract (the Python→JVM Arrow stream is the
        other half of the ser/de bill): ``etext`` is returned ONLY for
        html rows — for text rows it byte-equals the input text, so
        the caller coalesces it back natively. ``scrubbed_text`` is
        returned ONLY when the scrubber edited something (most docs
        have no PII hits) — the caller coalesces null → etext. Both
        halvings are exact, not approximations.
        """
        lid = b_lid.value
        lm = b_ppl.value
        cols: dict[str, list] = {k.name: [] for k in _PROCESS_SCHEMA}
        for p, h in zip(payload, is_html):
            if p is None:
                et = ""
            elif h:
                et = extract_text(p)
            else:
                et = bytes(p).decode("utf-8", errors="replace")
            lang, conf = lid.predict_one(et)
            a, b, c = repetition_signals(et)
            sc, ed = scrub(et)
            cols["etext"].append(et if h else None)
            cols["lang_pred"].append(lang)
            cols["lang_conf"].append(conf)
            cols["perplexity"].append(lm.perplexity(et))
            cols["dup_line_frac"].append(a)
            cols["top2gram_frac"].append(b)
            cols["dup5gram_frac"].append(c)
            cols["scrubbed_text"].append(sc if ed > 0 else None)
            cols["scrub_edits"].append(ed)
        out = pd.DataFrame(cols)
        out["scrub_edits"] = out["scrub_edits"].astype("int32")
        return out

    udfs = {
        "extract_text": extract_text_udf,
        "model_signals": model_signals_udf,
        "scrub": scrub_udf,
        "process_page": process_page_udf,
    }
    _UDFS_BY_CONTEXT[sc] = udfs
    return dict(udfs)
