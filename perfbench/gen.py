"""Seeded input generator: one ``events.parquet`` per (workload, seed).

The table follows the testdata ``events`` schema (``event_id, ts,
user_id, event_type, value, props``): timestamps from 2024-01-01 UTC,
dense int64 ids well below 10^18 (the domain of the decimal(38,0)
surrogate ordering key), one file with one row group, snappy.

Structure is fixed per workload and only the content depends on the
seed: every seed gives exactly the same event count, series count and
power-law events-per-series profile, so run-to-run differences in the
measured times come from the program and the host, not from a seed that
happened to draw a heavier input.  The seed decides which user gets
which share of the events, the timestamps, values, event types and
props.  The same seed gives a byte-identical file (checked by content
hash on every cache hit).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# events: total rows; series: distinct user_id values; alpha: power-law
# exponent of events per series (rank k gets a share ~ k^-alpha); days:
# uniform timestamp span.  The DTW workload spans more than the 504-hour
# grid of driver_queries.hourly_series, so every series fills it.
SPECS = {
    "tiers": dict(events=60_000, series=600, alpha=0.8, days=14),
    "dtw_matrix": dict(events=31_500, series=480, alpha=0.5, days=30),
}


def series_counts(events: int, series: int, alpha: float) -> np.ndarray:
    """Events per series rank: power law, every series >= 1 event, summing
    exactly to ``events`` (largest-remainder rounding).  Seed-free."""
    w = np.arange(1, series + 1, dtype=np.float64) ** -alpha
    spare = events - series
    raw = w / w.sum() * spare
    cnt = np.floor(raw).astype(np.int64)
    short = spare - int(cnt.sum())
    cnt[np.argsort(-(raw - cnt), kind="stable")[:short]] += 1
    return cnt + 1


def build_table(workload: str, seed: int):
    import pyarrow as pa

    spec = SPECS[workload]
    n, s = spec["events"], spec["series"]
    rng = np.random.default_rng([int(seed), sorted(SPECS).index(workload)])
    counts = series_counts(n, s, spec["alpha"])
    users = np.repeat(rng.permutation(s).astype(np.int64), counts)
    ts = EPOCH_2024_US + rng.integers(0, spec["days"] * DAY_US, size=n)
    order = np.lexsort((users, ts))
    users, ts = users[order], ts[order]
    value = np.round(rng.gamma(2.0, 20.0, size=n), 2)
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    k = rng.integers(0, 100, size=n)
    props = [f'{{"k": {int(x)}}}' for x in k]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.DictionaryArray.from_arrays(
            pa.array(etype.astype(np.int32)),
            pa.array(EVENT_TYPES)).cast(pa.string()),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def ensure_input(workload: str, seed: int, cache_root: str) -> dict:
    """Return ``{"dir", "sha256", "bytes", "events", "series"}`` for the
    workload's input, generating it into ``cache_root`` on a miss."""
    import pyarrow.parquet as pq

    spec = SPECS[workload]
    tag = hashlib.sha256(json.dumps(spec, sort_keys=True).encode()
                         ).hexdigest()[:8]
    d = os.path.join(cache_root, f"{workload}-s{int(seed)}-{tag}")
    path = os.path.join(d, "events.parquet")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path) and os.path.exists(path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("sha256") == _sha256(path):
            return dict(meta, dir=d)
    os.makedirs(d, exist_ok=True)
    table = build_table(workload, seed)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=table.num_rows,
                   compression="snappy")
    os.replace(tmp, path)
    meta = {"sha256": _sha256(path), "bytes": os.path.getsize(path),
            "events": spec["events"], "series": spec["series"]}
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return dict(meta, dir=d)
