"""Chunk compression operator: tier rows → Gorilla-encoded binary chunks.

``compress_tier`` cuts a (gap-filled) aggregate tier into one chunk per
series × UTC day and encodes each with the Gorilla codec
(``kernels/codec.py``).  The tier is hash-partitioned by series and
sorted by (series, time) within each partition; one ``mapInPandas``
pass then streams each partition, encodes every complete chunk of an
Arrow batch and carries the last, possibly incomplete one into the next
batch, so a task holds one batch plus one chunk and pays the Python
call cost per batch, not per chunk.  ``decompress_chunks`` is the exact
inverse; round-trip equality is the acceptance test.

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
_CHUNK_COLS = [c.split()[0] for c in CHUNK_SCHEMA.split(", ")]


def compress_tier(agg: DataFrame, value_col: str = "sum") -> DataFrame:
    """Encode one tier into chunks: (series_id, chunk_start) → payload,
    one chunk per series and UTC day."""
    src = agg.select(
        "series_id",
        F.date_trunc(_CHUNK_SPAN, F.col("bucket_ts")).alias("chunk_start"),
        F.col("bucket_ts").cast("long").alias("ts_s"),
        F.coalesce(F.col(value_col).cast("double"), F.lit(float("nan"))).alias("v"),
    ).repartition("series_id").sortWithinPartitions("series_id", "ts_s")

    def encode(cols, b: int, e: int) -> tuple:
        sids, cs, ts, v = cols
        payload = encode_chunk(ts[b:e], v[b:e])
        return (sids[b], cs[b], "gorilla1", int(e - b), float(v[b]),
                zlib.crc32(payload), payload)

    def encode_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None  # the last chunk seen, which the next batch may extend
        for pdf in batches:
            cols = (pdf["series_id"].to_numpy(), pdf["chunk_start"].to_numpy(),
                    pdf["ts_s"].to_numpy(np.int64), pdf["v"].to_numpy(np.float64))
            if carry is not None:
                cols = tuple(np.concatenate(p) for p in zip(carry, cols))
            sids, cs = cols[0], cols[1]
            bounds = np.r_[0, np.flatnonzero((sids[1:] != sids[:-1])
                                             | (cs[1:] != cs[:-1])) + 1]
            carry = tuple(c[bounds[-1]:] for c in cols)
            out = [encode(cols, int(b), int(e))
                   for b, e in zip(bounds[:-1], bounds[1:])]
            if out:
                yield pd.DataFrame(out, columns=_CHUNK_COLS)
        if carry is not None and len(carry[0]):
            yield pd.DataFrame([encode(carry, 0, len(carry[0]))],
                               columns=_CHUNK_COLS)

    return src.mapInPandas(encode_parts, schema=CHUNK_SCHEMA)


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
