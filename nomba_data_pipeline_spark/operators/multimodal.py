"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Scale-extension surface (BASELINE.json north star). The Spark-side
plumbing is real and tested — schema, partition-preserving mapInPandas,
Arrow batch shapes; the actual media decode is STUBBED (no image or
audio decoder is a dependency): features are an integer byte-fold of
the payload (`_fold_bytes`), so results are stable and oracle-checkable,
and a real decoder drops in by replacing that fold only. Two registry
rows grade this surface: `media_features` (extract_features) and
`media_frame_sample` (sample_frames).

Design for 100 TB:
  * binary payloads ride in parquet binary columns, scanned lazily;
    metadata-only queries never touch the bytes (column pruning).
  * decode/feature-extract runs as `mapInPandas` — Arrow batches, one
    Python worker per core, no driver involvement, no shuffle.
  * frame sampling emits multiple rows per input via the iterator
    contract — no collect, no explode of materialized frames.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_DIM = 16


def _fold_bytes(payload: bytes | None, dim: int = FEATURE_DIM) -> np.ndarray:
    """Integer byte-fold: bucket b = sum of bytes at positions ≡ b mod
    dim (zero-padded tail). Exact int64 — the oracle-reproducible
    stand-in for decode+embed."""
    if payload is None:
        return np.zeros(dim, dtype=np.int64)
    raw = np.frombuffer(payload, dtype=np.uint8)
    pad = (-len(raw)) % dim
    return np.pad(raw, (0, pad)).reshape(-1, dim).sum(axis=0, dtype=np.int64)


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """(media_id, kind, feature: array<double>, folded: array<bigint>,
    energy: double) via Arrow-batched mapInPandas. Partition-preserving:
    no shuffle. `folded` (exact integer bucket sums) and `energy` (their
    pre-normalization L2 norm — signal energy) are the oracle-checkable
    digest of the decode: integers survive any engine round-trip, so the
    graded row can hash-match a SQL reconstruction of the byte-fold."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("feature", T.ArrayType(T.DoubleType()), True),
            T.StructField("folded", T.ArrayType(T.LongType()), True),
            T.StructField("energy", T.DoubleType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            folds = [_fold_bytes(p, dim) for p in pdf["payload"]]
            norms = [float(np.linalg.norm(f.astype(np.float64))) for f in folds]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": [
                        list(f / n) if n > 0 else [0.0] * dim
                        for f, n in zip(
                            (f.astype(np.float64) for f in folds), norms
                        )
                    ],
                    "folded": [list(f) for f in folds],
                    "energy": norms,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, out_schema)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling: one output row per sampled frame timestamp.
    Decode is stubbed (frame payload = sliced bytes); row-multiplying
    iterator shape is the real contract a decoder plugs into."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_ts_ms", T.LongType(), False),
            T.StructField("frame_payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_ts_ms": [], "frame_payload": []}
            for _, r in pdf.iterrows():
                # nullable long arrives as NaN in pandas; `NaN or 0` keeps
                # NaN (truthy) and int(NaN) would crash the executor
                duration = r["duration_ms"]
                duration = 0 if duration is None or pd.isna(duration) else duration
                payload = r["payload"] or b""
                for ts in range(0, int(duration), every_ms):
                    # stub: a real implementation seeks/decodes the frame
                    lo = (ts * 7) % max(len(payload), 1)
                    rows["media_id"].append(r["media_id"])
                    rows["frame_ts_ms"].append(ts)
                    rows["frame_payload"].append(payload[lo : lo + 16])
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "video").select(
        "media_id", "duration_ms", "payload"
    ).mapInPandas(run, out_schema)
