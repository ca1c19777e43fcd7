"""Chunk compression operator: tier rows → Gorilla-encoded binary chunks.

``compress_tier`` groups a (gap-filled) aggregate tier into one chunk per
series × UTC day and encodes each with the Gorilla codec
(``kernels/codec.py``) inside ``applyInPandas`` (one Arrow batch = many
chunks, no per-row Python).  ``decompress_chunks`` is the exact inverse;
round-trip equality is the acceptance test.

A day of the 1h tier is at most 24 points (1,440 at 1m), small enough
for the codec's bit-serial loop and to decode in one task.  The chunk
table is the engine's cold-storage format (binary payload column + typed
metadata), partitionable by chunk_start date for
retention-by-partition-drop.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.codec import decode_chunk, encode_chunk

CHUNK_SCHEMA = ("series_id string, chunk_start timestamp, codec string, "
                "n int, first_val double, checksum long, payload binary")

_CHUNK_SPAN = "day"
# Encoder groups are series-hash buckets, not series: one Arrow group
# then carries ~n_series/_NUM_BUCKETS series and the encoder splits
# chunks with numpy inside, so the per-group Python/Arrow overhead is
# amortized over thousands of chunks (a per-series groupBy costs one
# exchange per series — measured 6 s of pure group overhead at 1,500
# 64-point series).  The count bounds the group size: at any scale a
# bucket holds ~|tier| / 128 rows (128 ≈ 2-4 groups per core on
# local[32]).
_NUM_BUCKETS = 128


def compress_tier(agg: DataFrame, value_col: str = "sum") -> DataFrame:
    """Encode one tier into chunks: (series_id, chunk_start) → payload,
    one chunk per series and UTC day."""
    src = agg.select(
        "series_id",
        F.date_trunc(_CHUNK_SPAN, F.col("bucket_ts")).alias("chunk_start"),
        F.col("bucket_ts").cast("long").alias("ts_s"),
        F.coalesce(F.col(value_col).cast("double"), F.lit(float("nan"))).alias("v"),
        F.pmod(F.xxhash64("series_id"), F.lit(_NUM_BUCKETS)).alias("__bkt"),
    )

    def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        # one pandas group per series-hash bucket; series and chunk
        # boundaries split with numpy inside
        out = []
        pdf = pdf.sort_values(["series_id", "ts_s"])
        sids_all = pdf["series_id"].to_numpy()
        cs_all = pdf["chunk_start"].to_numpy()
        ts_all = pdf["ts_s"].to_numpy(np.int64)
        v_all = pdf["v"].to_numpy(np.float64)
        keys = pd.MultiIndex.from_arrays([sids_all, cs_all])
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        bounds = np.r_[starts, len(pdf)]
        for k in range(len(starts)):
            b, e = bounds[k], bounds[k + 1]
            payload = encode_chunk(ts_all[b:e], v_all[b:e])
            out.append((sids_all[b], cs_all[b], "gorilla1", int(e - b),
                        float(v_all[b]), zlib.crc32(payload), payload))
        return pd.DataFrame(out, columns=["series_id", "chunk_start", "codec",
                                          "n", "first_val", "checksum", "payload"])

    return src.groupBy("__bkt").applyInPandas(encode_groups, schema=CHUNK_SCHEMA)


def decompress_chunks(chunks: DataFrame) -> DataFrame:
    """Chunks → (series_id, bucket_ts, value) rows (exact inverse)."""

    def decode_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sids, tss, vs = [], [], []
            for row in pdf.itertuples(index=False):
                if row.checksum != zlib.crc32(row.payload):
                    raise ValueError(f"chunk checksum mismatch: {row.series_id}")
                ts, vals = decode_chunk(bytes(row.payload))
                sids.extend([row.series_id] * len(ts))
                tss.append(ts)
                vs.append(vals)
            yield pd.DataFrame({
                "series_id": sids,
                "ts_s": np.concatenate(tss) if tss else np.array([], np.int64),
                "value": np.concatenate(vs) if vs else np.array([], np.float64),
            })

    out = chunks.mapInPandas(decode_parts,
                             schema="series_id string, ts_s long, value double")
    return out.select("series_id",
                      F.col("ts_s").cast("timestamp").alias("bucket_ts"),
                      "value")
