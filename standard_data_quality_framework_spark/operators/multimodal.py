"""Video-style frame sampling over opaque binary cells.

The Spark-side plumbing (1→N ``mapInPandas`` row fan-out, Arrow batch
shape, output schema) is real; the per-frame feature is a
deterministic byte statistic, because the container has no codec
libraries. A real decoder swaps the chunk step for keyframe
extraction without touching the plan. The registry query
``multimodal_frame_offsets`` gates the sampling geometry against
DuckDB.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FRAME_SCHEMA = ("id long, frame_idx int, frame_off long, "
                "frame_len int, frame_feat array<double>")


def sample_frames(df: DataFrame, id_col: str, bin_col: str,
                  n_frames: int = 4, frame_bytes: int = 4096) -> DataFrame:
    """Video-style frame sampling: ONE blob row → n_frames output rows
    (the 1→N mapInPandas shape every video pipeline needs — a real
    decoder swaps the chunk step for keyframe extraction; the sampling
    positions, batch shape and output schema stay identical).

    Frames are sampled at evenly-spaced byte offsets; each emits a
    deterministic 4-dim feature from its bytes so the distributed
    round-trip is assertable without codec libs. Short/None blobs emit
    zero rows (not nulls) — downstream joins see only decodable frames.
    """
    id_name = id_col

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_name], pdf["_bin"]):
                if blob is None:
                    continue
                data = bytes(blob)
                if len(data) < frame_bytes:
                    continue
                step = max((len(data) - frame_bytes) // max(n_frames - 1, 1),
                           1)
                for i in range(n_frames):
                    off = min(i * step, len(data) - frame_bytes)
                    chunk = data[off:off + frame_bytes]
                    s = int(np.frombuffer(chunk[:256], np.uint8).sum())
                    rows.append((rid, i, off, len(chunk),
                                 [float(len(chunk)), float(s % 997),
                                  float(chunk[0]), float(chunk[-1])]))
            yield pd.DataFrame(rows, columns=[
                "id", "frame_idx", "frame_off", "frame_len", "frame_feat"])

    src = df.select(F.col(id_col).alias(id_name),
                    F.col(bin_col).alias("_bin"))
    return src.mapInPandas(_frames, FRAME_SCHEMA)
