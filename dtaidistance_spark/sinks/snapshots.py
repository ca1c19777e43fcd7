"""Snapshot commits + time travel for the tiered sink — Iceberg's
metadata mechanism re-expressed on plain parquet.

Why it exists: `tiers.write_tier` refreshes a day with *dynamic
partition overwrite*, which physically deletes the day's old files at
commit time.  That is correct for a single writer and latest-only
readers, but it cannot give the two guarantees the north rule's Iceberg
deployment supplies: a reader concurrent with a refresh must see a
consistent table version (snapshot isolation), and yesterday's rolled-up
points must stay queryable after today's re-aggregation (time travel —
the audit path for "rolled-up points match the reference bit-for-bit
at every retention tier").

Mechanism (exactly Iceberg's, minus the catalog service):

* **Copy-on-write commits.**  `commit_tier` writes the refreshed day
  partitions as NEW files named ``part-v<snapshot>-*.parquet`` inside
  the same ``tier=<t>/p_day=<d>`` directories; nothing is deleted.  The
  commit's manifest (``base/_snapshots/<tier>/v<n>.json``) lists, per
  day, exactly the files that make up this table version: the fresh
  files for refreshed days plus the parent snapshot's files for
  untouched days.  Readers of v(n-1) keep a stable file list while v(n)
  is being written — isolation by construction, no locks.
* **Manifest-pruned reads.**  `read_tier` resolves a manifest (latest
  or an explicit ``snapshot=``), prunes the day range against manifest
  keys ON THE DRIVER (O(partitions), the role of Iceberg's manifest
  lists — no directory walk, which matters when a 100 TB table holds
  files from many snapshots), and hands Spark the exact file list with
  ``basePath`` so partition columns still parse.
* **The manifest records the table schema** (Iceberg's manifests do
  too).  `read_tier` hands it to Spark, so a read infers nothing from
  parquet footers and, with the session's listing threshold
  (session.py), starts no Spark job at all.  A manifest without one is
  rejected, and an append whose schema differs from its parent's
  raises, since the files of one day must share one schema.
* **Retention as metadata.**  `commit_retention` publishes a snapshot
  that simply omits expired days — Iceberg's ``DELETE WHERE`` on a
  partition predicate: O(partitions) manifest edit, zero data I/O, and
  the dropped days remain time-travel-readable from older snapshots.
* **`expire_snapshots`** deletes manifests older than the kept window
  and then removes data files no surviving manifest references (orphan
  cleanup).  Only here is data physically deleted.

Per-partition lineage + metrics ride in the manifest: each day entry
records its files, row count (parquet footer metadata via pyarrow — no
data scan) and bytes, so a resumed job can diff manifests to find what
a failed run actually committed (operators/checkpoint.py consumes the
same idea at stage granularity).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from typing import Dict, List, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .tiers import P_DAY_FMT


def _snap_dir(base: str, tier: str) -> str:
    return os.path.join(base, "_snapshots", tier)


def _manifest_path(base: str, tier: str, sid: int) -> str:
    return os.path.join(_snap_dir(base, tier), f"v{sid}.json")


def snapshot_ids(base: str, tier: str) -> List[int]:
    """Committed snapshot ids, oldest first (the catalog listing)."""
    d = _snap_dir(base, tier)
    if not os.path.isdir(d):
        return []
    return sorted(int(f[1:-5]) for f in os.listdir(d)
                  if f.startswith("v") and f.endswith(".json"))


def load_manifest(base: str, tier: str,
                  snapshot: Optional[int] = None) -> dict:
    ids = snapshot_ids(base, tier)
    if not ids:
        raise FileNotFoundError(f"no snapshots for tier={tier} under {base}")
    sid = ids[-1] if snapshot is None else snapshot
    if sid not in ids:
        raise FileNotFoundError(f"snapshot v{sid} not found (have {ids})")
    with open(_manifest_path(base, tier, sid)) as f:
        return json.load(f)


_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _file_schema(df: DataFrame) -> dict:
    """``df``'s schema, JSON form, as its parquet files hold it: Spark
    writes every column, array element and map value as nullable."""
    def relax(node):
        if isinstance(node, list):
            return [relax(v) for v in node]
        if not isinstance(node, dict):
            return node
        return {k: True if k in _NULLABLE_KEYS else relax(v)
                for k, v in node.items()}
    return relax(json.loads(df.schema.json()))


def _manifest_schema(man: dict, base: str, tier: str) -> dict:
    """The table schema ``man`` records; a manifest without one was not
    written by `commit_tier`, and guessing its schema is not safe."""
    if "schema" not in man:
        raise ValueError(
            "snapshot manifest "
            f"{_manifest_path(base, tier, man['snapshot_id'])} records no "
            "table schema")
    return man["schema"]


def _partition_entry(pdir: str, files: List[str]) -> dict:
    rows = 0
    nbytes = 0
    for fn in files:
        p = os.path.join(pdir, fn)
        rows += pq.ParquetFile(p).metadata.num_rows
        nbytes += os.path.getsize(p)
    return {"files": sorted(files), "rows": rows, "bytes": nbytes}


def commit_tier(agg: DataFrame, base: str, tier: str,
                extra: Optional[dict] = None,
                mode: str = "overwrite") -> int:
    """Copy-on-write commit of one tier refresh; returns the snapshot id.

    ``mode="overwrite"`` (batch refresh): days present in ``agg`` are
    replaced *in the new snapshot only*; days absent are carried over
    from the parent manifest byte-for-byte (same files — a carried-over
    partition costs one dict entry, not a rewrite).
    ``mode="append"`` (streaming micro-batch): the new files JOIN the
    parent's files for their day, so previously committed rows of the
    same day survive — the snapshot equivalent of
    `tiers.write_tier(mode="append")`, but transactional: a reader
    never sees a half-appended batch, and the manifest's ``extra``
    payload (e.g. the micro-batch id) becomes visible atomically with
    the data, which is what makes exactly-once `foreachBatch` possible
    (streaming/rollup_stream.py::stream_to_snapshots).

    Each staged file is sorted by (series_id, bucket_ts), as
    `write_tier`'s are, so parquet min/max stats still support
    series_id pushdown within a day; the sort leads with ``p_day``
    because Spark's planned write otherwise re-sorts by the partition
    column alone.  The manifest records ``agg``'s schema; in append
    mode it must equal the parent's."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown commit mode {mode!r}")
    ids = snapshot_ids(base, tier)
    parent = ids[-1] if ids else None
    sid = (parent or 0) + 1
    schema = _file_schema(agg)
    partitions: Dict[str, dict] = {}
    if parent is not None:
        parent_man = load_manifest(base, tier, parent)
        if mode == "append" \
                and _manifest_schema(parent_man, base, tier) != schema:
            raise ValueError(
                f"append to tier={tier}: the batch schema "
                f"{agg.schema.simpleString()} differs from snapshot "
                f"v{parent}'s")
        partitions.update(parent_man["partitions"])

    staging = os.path.join(base, "_staging", tier,
                           f"v{sid}-{uuid.uuid4().hex[:8]}")
    (agg.withColumn("p_day", F.date_format("bucket_ts", P_DAY_FMT))
        .sortWithinPartitions("p_day", "series_id", "bucket_ts")
        .write.mode("overwrite").partitionBy("p_day").parquet(staging))

    for pdir in sorted(glob.glob(os.path.join(staging, "p_day=*"))):
        day = os.path.basename(pdir).split("=", 1)[1]
        dest = os.path.join(base, f"tier={tier}", f"p_day={day}")
        os.makedirs(dest, exist_ok=True)
        moved = []
        for i, fp in enumerate(sorted(glob.glob(os.path.join(pdir, "*.parquet")))):
            name = f"part-v{sid}-{i:05d}.parquet"
            shutil.move(fp, os.path.join(dest, name))
            moved.append(name)
        if mode == "append" and day in partitions:
            moved.extend(partitions[day]["files"])
        partitions[day] = _partition_entry(dest, moved)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(os.path.join(base, "_staging", tier), ignore_errors=True)

    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "committed_at": time.time(),
        "operation": mode,
        "schema": schema,
        "partitions": partitions,
        "summary": {"days": len(partitions),
                    "rows": sum(p["rows"] for p in partitions.values()),
                    "bytes": sum(p["bytes"] for p in partitions.values())},
    }
    if extra:
        manifest.update(extra)
    os.makedirs(_snap_dir(base, tier), exist_ok=True)
    tmp = _manifest_path(base, tier, sid) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, _manifest_path(base, tier, sid))  # atomic publish
    return sid


def commit_retention(base: str, tier: str, keep_since: str) -> int:
    """Retention as a metadata commit (Iceberg ``DELETE WHERE p_day <
    keep_since``): publish a snapshot whose manifest omits the expired
    days.  O(expired partitions) dict edits, zero data I/O; the days
    stay readable from older snapshots until `expire_snapshots`."""
    parent = load_manifest(base, tier)
    sid = parent["snapshot_id"] + 1
    kept = {d: e for d, e in parent["partitions"].items() if d >= keep_since}
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent["snapshot_id"],
        "committed_at": time.time(),
        "operation": "delete",
        "schema": _manifest_schema(parent, base, tier),
        "partitions": kept,
        "summary": {"days": len(kept),
                    "rows": sum(p["rows"] for p in kept.values()),
                    "bytes": sum(p["bytes"] for p in kept.values())},
    }
    tmp = _manifest_path(base, tier, sid) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, _manifest_path(base, tier, sid))
    return sid


def read_tier(spark: SparkSession, base: str, tier: str,
              snapshot: Optional[int] = None,
              since: Optional[str] = None,
              until: Optional[str] = None,
              days: Optional[set] = None) -> DataFrame:
    """Read one table version.  Day pruning (a [since, until] range
    and/or an explicit ``days`` set) happens against the manifest keys
    on the driver (manifest pruning, not directory listing), then Spark
    receives the pruned file list with ``basePath`` so ``p_day`` still
    parses as a partition column, and the manifest's schema, so it
    reads no footer to infer one."""
    man = load_manifest(base, tier, snapshot)
    schema = StructType.fromJson(_manifest_schema(man, base, tier))
    files = []
    for day, entry in sorted(man["partitions"].items()):
        if since is not None and day < since:
            continue
        if until is not None and day > until:
            continue
        if days is not None and day not in days:
            continue
        pdir = os.path.join(base, f"tier={tier}", f"p_day={day}")
        files.extend(os.path.join(pdir, fn) for fn in entry["files"])
    if not files:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema.add("p_day", "string"))
            .option("basePath", base).parquet(*files)
            .drop("tier", "p_day"))


def expire_snapshots(base: str, tier: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` manifests, then physically
    delete data files no surviving manifest references (Iceberg
    ``expire_snapshots`` + orphan-file cleanup — the only place this
    module deletes data).  Returns counts for the caller's metrics."""
    ids = snapshot_ids(base, tier)
    expired, kept = ids[:-keep_last], ids[-keep_last:]
    if not expired:
        return {"expired_snapshots": 0, "deleted_files": 0}

    def _refs(sids):
        refs = set()
        for sid in sids:
            man = load_manifest(base, tier, sid)
            for day, entry in man["partitions"].items():
                for fn in entry["files"]:
                    refs.add((day, fn))
        return refs

    dead = _refs(expired) - _refs(kept)
    deleted = 0
    for day, fn in sorted(dead):
        p = os.path.join(base, f"tier={tier}", f"p_day={day}", fn)
        if os.path.exists(p):
            os.remove(p)
            deleted += 1
    # drop now-empty day directories so the directory layout stays clean
    for day in {d for d, _ in dead}:
        pdir = os.path.join(base, f"tier={tier}", f"p_day={day}")
        if os.path.isdir(pdir) and not os.listdir(pdir):
            os.rmdir(pdir)
    for sid in expired:
        os.remove(_manifest_path(base, tier, sid))
    return {"expired_snapshots": len(expired), "deleted_files": deleted}
