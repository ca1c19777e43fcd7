"""Tiered parquet sink — the retention-tier storage layout of the
north rule (rollup tiers 1m→1h→1d across retention tiers).

Layout: ``base/tier=<t>/p_day=<yyyy-MM-dd>/part-*.parquet``.  The two
partition columns make the three lifecycle operations O(partitions),
never O(rows):

* **retention** (`drop_expired`) = dropping whole ``p_day`` directories
  — no row scans, no rewrite of surviving data;
* **tier reads** (`read_tier`) prune to the partition subtree — the
  scan's ``PartitionFilters`` carry both ``tier`` and the day range
  (plan-asserted in tests/test_sink.py), so a 1d-tier query over 100 TB
  of 1m data reads only the 1d files;
* **re-runs** are idempotent: writes use dynamic partition overwrite,
  replacing exactly the partitions present in the new batch and leaving
  all other days untouched (the continuous-aggregate refresh pattern —
  recompute a recent window, overwrite only those days).

On a real deployment the directory tree becomes an Iceberg partition
spec ``(tier, days(bucket_ts))``: `write_tier` → a table commit,
`drop_expired` → `DELETE WHERE` on the partition predicate +
`expire_snapshots`, `compact_tier` → `rewrite_data_files`.  Call sites
do not change (the checkpoint layer, operators/checkpoint.py, makes the
same trade).
"""

from __future__ import annotations

import os
import shutil
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

P_DAY_FMT = "yyyy-MM-dd"


def write_tier(agg: DataFrame, base: str, tier: str,
               mode: str = "overwrite") -> None:
    """Write one rollup tier partitioned by (tier, p_day).

    ``mode="overwrite"`` (batch refresh) uses dynamic partition
    overwrite: only the days present in ``agg`` are replaced.
    ``mode="append"`` adds files to the day partitions — the streaming
    micro-batch path (see :func:`stream_to_tiers` in
    streaming/rollup_stream.py).

    The day column is derived from ``bucket_ts`` so a tier row always
    lands in the partition its bucket belongs to; each file is sorted by
    (series_id, bucket_ts), giving parquet min/max column stats that
    support series_id predicate pushdown inside a partition.  Spark's
    planned write re-sorts its input by the partition columns unless the
    input already starts with them, which would drop a (series_id,
    bucket_ts) sort; ``tier`` is a literal, so an order led by ``p_day``
    counts as started with them and is kept (one led by ``tier`` is
    not: every file of such a write came out unsorted)."""
    w = (agg.withColumn("tier", F.lit(tier))
         .withColumn("p_day", F.date_format("bucket_ts", P_DAY_FMT))
         .sortWithinPartitions("p_day", "series_id", "bucket_ts")
         .write.mode(mode))
    if mode == "overwrite":
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("tier", "p_day").parquet(base)


def read_tier(spark: SparkSession, base: str, tier: str,
              since: Optional[str] = None,
              until: Optional[str] = None) -> DataFrame:
    """Read one tier, pruning partitions declaratively: the tier match
    and the [since, until] day range are filters on partition columns,
    so Catalyst turns them into ``PartitionFilters`` and the scan never
    lists the other tiers/days (asserted on the physical plan in
    tests/test_sink.py)."""
    df = spark.read.parquet(base).where(F.col("tier") == tier)
    if since is not None:
        df = df.where(F.col("p_day") >= since)
    if until is not None:
        df = df.where(F.col("p_day") <= until)
    return df.drop("tier", "p_day")


def list_partitions(base: str, tier: str) -> List[str]:
    """Day partitions currently present for a tier (driver-side
    directory listing — O(partitions), the catalog call on Iceberg)."""
    tdir = os.path.join(base, f"tier={tier}")
    if not os.path.isdir(tdir):
        return []
    return sorted(d.split("=", 1)[1] for d in os.listdir(tdir)
                  if d.startswith("p_day="))


def drop_expired(base: str, tier: str, keep_since: str) -> List[str]:
    """Retention by partition drop: delete every ``p_day`` directory
    strictly older than ``keep_since`` (yyyy-MM-dd).  O(expired
    partitions) directory removals; surviving data is untouched (no
    rewrite, no scan).  Returns the dropped day keys."""
    dropped = []
    for day in list_partitions(base, tier):
        if day < keep_since:
            shutil.rmtree(os.path.join(base, f"tier={tier}", f"p_day={day}"))
            dropped.append(day)
    return dropped


def compact_tier(spark: SparkSession, base: str, tier: str,
                 day: str, target_files: int = 1) -> None:
    """Rewrite one day partition into ``target_files`` files (the
    small-files compaction a streaming 1m tier accumulates).  Scoped to
    a single partition so a 100 TB table compacts incrementally."""
    pdir = os.path.join(base, f"tier={tier}", f"p_day={day}")
    df = spark.read.parquet(pdir).coalesce(target_files)
    tmp = pdir + "._compact_tmp"
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(pdir)
    os.rename(tmp, pdir)
