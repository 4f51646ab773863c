"""Timed session set-up, shared by the benchmark process and its set-up
probes.

Set-up is everything a fresh process does before it can filter a page:
import the package, start the Spark session (``session.get_spark``) and
train and broadcast the models (``functions.udfs.make_udfs``). It is
timed from the first import of the package, so it also excludes the
benchmark's own argument parsing and input generation.

As a script this is one set-up probe: it sets up, prints its timings as
one JSON line and exits; the parent kills its process group (the
session's JVM and workers with it).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# the package's 16g default heap is larger than a 15 GB box. 2g fits the
# inputs with room to spare; with 3g or more, whether G1 grows the heap to
# its cap varies from run to run, and peak memory with it (2.7 vs 4.6 GB
# of summed RSS)
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Process environment for this process and every child it starts:
    the package importable by Spark's Python workers, and every scratch
    file (Spark local dirs, JVM and Python temp files) inside the
    benchmark's own work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SDQF_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start(extra_conf: dict[str, str] | None = None,
          timed_models: bool = False):
    """Return ``(spark, udfs, timings)``.

    ``timed_models`` wraps the two model trainers that ``make_udfs``
    calls, to time them separately (traced runs only)."""
    t0 = time.perf_counter()
    from standard_data_quality_framework_spark import session
    from standard_data_quality_framework_spark.functions import udfs as U
    timings: dict[str, float] = {}
    if timed_models:
        for attr, key in (("train_langid", "models.train_langid_s"),
                          ("train_perplexity",
                           "models.train_perplexity_s")):
            orig = getattr(U, attr)

            def timed(*a, _orig=orig, _key=key, **kw):
                s = time.perf_counter()
                try:
                    return _orig(*a, **kw)
                finally:
                    timings[_key] = time.perf_counter() - s
            setattr(U, attr, timed)
    n = cores()
    conf = {"spark.ui.showConsoleProgress": "false"}
    conf.update(extra_conf or {})
    t1 = time.perf_counter()
    spark = session.get_spark("perfbench", cores=n, shuffle_partitions=n,
                              extra_conf=conf)
    t2 = time.perf_counter()
    udfs = U.make_udfs(spark)
    t3 = time.perf_counter()
    timings.update({"setup_s": t3 - t0,
                    "session.get_spark_s": t2 - t1,
                    "udfs.make_udfs_s": t3 - t2})
    return spark, udfs, timings


if __name__ == "__main__":
    # argv: [event-log dir] — given for traced runs only
    prepare_env()
    log_dir = sys.argv[1] if len(sys.argv) > 1 else None
    from tracing import event_log_conf
    _spark, _udfs, _timings = start(
        event_log_conf(log_dir) if log_dir else None,
        timed_models=log_dir is not None)
    print(json.dumps(_timings), flush=True)
    # wait for the parent to kill the process group
    sys.stdin.read()
