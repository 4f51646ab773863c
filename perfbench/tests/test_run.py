"""Self-test of the benchmark on tiny inputs.

    python3 -m pytest perfbench/tests -q

Each benchmark run starts its own Spark sessions (two set-ups and a cold
job), so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from inputs import ensure, normalise  # noqa: E402
from workloads import (OpLog, check_clusters, check_kept,  # noqa: E402
                       check_query)

TINY = 0.05
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", str(TINY)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_and_no_failed_op(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], float)
               for v in result["metrics"].values())
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"]
    assert "# failed_op_frac = 0 " in stdout
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_corrupted_outputs_count_as_failed_ops():
    pages = ensure("warehouse_ingest", 3, TINY)
    expected = pd.read_parquet(os.path.join(pages, "expected_pages.parquet"))
    kept = (expected[expected["keep"]]
            .rename(columns={"scrubbed_text": "text", "lang_pred": "lang"})
            [["url", "text", "lang"]].reset_index(drop=True))
    by_text = kept.groupby("text")["url"]
    clusters = pd.DataFrame({"url": kept["url"],
                             "cluster_id": by_text.transform("min"),
                             "cluster_size": by_text.transform("size")})
    clusters["is_canonical"] = clusters["url"] == clusters["cluster_id"]
    mix = ensure("operator_mix", 3, TINY)
    with open(os.path.join(mix, "expected_mix.json")) as f:
        q, exp = next((q, e) for q, e in json.load(f).items() if e["rows"])
    # rebuild the query's output from its normalised expected rows
    got = pd.DataFrame([[None if cell[0] == "n" else cell[1]
                         for cell in row] for row in exp["rows"]],
                       columns=exp["columns"])

    log = OpLog()
    log.record("ingest", check_kept(kept, expected))
    log.record("global_dedup", check_clusters(clusters, kept, None))
    log.record(q, check_query(got, exp))
    assert (log.attempted, log.failed) == (3, 0), log.problems

    bad_text = kept.copy()
    bad_text.loc[0, "text"] += " "
    dropped = kept.iloc[len(kept) // 50 + 1:]  # keep F1 below 0.99
    bad_cluster = clusters.copy()
    bad_cluster.loc[0, "cluster_size"] = 2
    bad_query = got.copy()
    bad_query.iloc[0, 0] = "corrupted"
    for name, problems in [
            ("ingest", check_kept(bad_text, expected)),
            ("ingest", check_kept(dropped, expected)),
            ("global_dedup", check_clusters(bad_cluster, kept, None)),
            (q, check_query(bad_query, exp))]:
        log.record(name, problems)
    assert (log.attempted, log.failed) == (7, 4), log.problems
    assert normalise(got) == exp["rows"]
